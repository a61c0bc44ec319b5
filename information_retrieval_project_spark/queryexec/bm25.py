"""BM25 top-k scoring — Spark-native column math.

Frozen semantics (SURVEY.md §7.0; the reference has no BM25 — its scorer is
TF-IDF cosine at data_manager.py:122-126 — so k1/b are documented engine
choices required by BASELINE.json north_star):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))        # Robertson/Lucene
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    k1 = 1.2, b = 0.75; each unique query term counts once (qtf ignored);
    tie-break: score DESC, doc_id ASC (deterministic).

This module is the package's one BM25 scorer: `bm25_contrib` is the only
copy of the formula, and `score_rows` sums it over (term, doc_id, tf, df)
rows, whether they come from the tf relation (`with_df`) or from the
decoded stored index (queryexec/wand, queryexec/sharded). The plan is fully
native after the rows: a doc_stats join, the score as column arithmetic
inside whole-stage codegen, a per-doc aggregate, and TakeOrderedAndProject
(ORDER BY ... LIMIT k) or the per-query window (`topk_per_query`).

The formula is one SQL text, one py4j call to build. Its numbers are DOUBLE
literals (`1.2D`): a bare `1.2` is DECIMAL, which changes the last digits
of scores, enough to reorder a top-10.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

K1 = 1.2
B = 0.75


def local_relation(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small query-constant relation (rows matching the DDL `schema`)
    planned as a JVM LocalTableScan: the rows go to the JVM once, as an
    Arrow table, when the DataFrame is built, and reading them runs no job.
    `createDataFrame(list)` plans a Python-RDD scan instead (ExistingRDD),
    one more job of Python tasks in every query that reads it; a literal
    `inline(array(struct(...)))` makes Catalyst plan every element."""
    struct = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table({f.name: list(c) for f, c in zip(struct.fields, cols)})
    return spark.createDataFrame(table, struct)


def query_terms_df(spark: SparkSession, tokens: list[str]) -> DataFrame:
    """Distinct query terms as a 1-column broadcastable DataFrame."""
    return local_relation(spark, [(t,) for t in sorted(set(tokens))], "term string")


def _sql_double(x: float | str) -> str:
    """A column name as is; a number as a DOUBLE literal."""
    return x if isinstance(x, str) else f"{float(x)!r}D"


def bm25_contrib(
    n_docs: int | str,
    avgdl: float | str,
    k1: float = K1,
    b: float = B,
    w: str | None = None,
) -> Column:
    """The package's one BM25 expression: the per-(term, doc) contribution
    over the `tf`, `df` and `doc_len` columns. idf is computed inline from
    the df column: no per-term idf subtree to distinct and broadcast (each
    was one more scheduled job per served query). `n_docs` and `avgdl` are
    numbers or column names (the gates cross-join them in). `w`, a column
    name, scales the idf first, `(w · idf) · tf-part`, the evaluation order
    of the weighted gates' DuckDB SQL."""
    n, dl, kp1, bb, one_b, k = map(
        _sql_double, (n_docs, avgdl, k1 + 1.0, b, 1.0 - b, k1)
    )
    weight = f"{w} * " if w is not None else ""
    return F.expr(
        f"{weight}ln(({n} - df + 0.5D) / (df + 0.5D) + 1.0D) * (tf * {kp1})"
        f" / (tf + (doc_len * {bb} / {dl} + {one_b}) * {k})"
    )


def with_df(tf_df: DataFrame, terms: DataFrame) -> DataFrame:
    """(term, doc_id, tf) rows of the broadcast `terms` relation with each
    term's df joined on: the scoring rows the decoded index yields, built
    from the tf relation. df is counted over the candidate rows only."""
    cand = tf_df.join(F.broadcast(terms), "term")
    dfq = cand.groupBy("term").agg(F.count("*").alias("df"))
    return cand.join(F.broadcast(dfq), "term")


def score_rows(
    rows: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    queries: DataFrame | None = None,
) -> DataFrame:
    """(term, doc_id, tf, df) rows -> (doc_id, score): join doc_stats, sum
    the codegen contributions per doc. With a (query_id, term) relation
    `queries` (broadcast), per (query_id, doc_id) instead. Every served and
    corpus-side BM25 scorer ends here."""
    scored = rows.join(doc_stats_df, "doc_id").withColumn(
        "contrib", bm25_contrib(n_docs, avgdl, k1, b)
    )
    keys = ["doc_id"]
    if queries is not None:
        scored = scored.join(F.broadcast(queries), "term")
        keys = ["query_id", "doc_id"]
    return scored.groupBy(*keys).agg(F.sum("contrib").alias("score"))


def bm25_scores(
    tf_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    terms: DataFrame,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-doc BM25 over the tf relation. Returns (doc_id, score).

    Shuffle profile at scale: one broadcast join (terms — bytes), one
    broadcast-able df aggregation over the candidate rows only (terms are
    already filtered down, so df is computed on |query| rows per term), one
    shuffle keyed by doc_id for the join with doc_stats + final aggregation.
    """
    return score_rows(with_df(tf_df, terms), doc_stats_df, n_docs, avgdl, k1, b)


def topk(scores: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k with rank. ORDER BY score DESC, doc_id ASC LIMIT k
    compiles to TakeOrderedAndProject — per-partition heaps, k rows shuffled.
    The rank window then runs over exactly those k rows; the constant
    partition key (doc_id*0 — nullable long, so Catalyst keeps it) says that
    one partition IS the point and keeps the WindowExec single-partition
    warning out of bench logs. doc_id*0, NOT score*0 (ADVICE r3): a NaN/±inf
    score times 0 is NaN, which would split NaN-scored rows into their own
    partition and restart row_number; integer doc_id arithmetic cannot
    produce NaN."""
    out = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy(F.col("doc_id") * 0).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return out.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def topk_per_query(scores: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score) -> the top k of each query_id as
    (query_id, rank, doc_id, score), ties by doc_id ASC. Spark plans the
    rank filter as a WindowGroupLimit, Partial before the query_id shuffle
    and Final after it, so each partition ships at most k rows per query."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def query_pairs_df(spark: SparkSession, queries: dict[int, list[str]]) -> DataFrame:
    """The distinct (query_id, term) pairs of a query set, JVM-local."""
    pairs = sorted({(qid, t) for qid, toks in queries.items() for t in toks})
    return local_relation(spark, pairs, "query_id long, term string")


def bm25_topk(
    spark: SparkSession,
    tf_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    query_tokens: list[str],
    k: int = 10,
) -> DataFrame:
    terms = query_terms_df(spark, query_tokens)
    return topk(bm25_scores(tf_df, doc_stats_df, n_docs, avgdl, terms), k)


def bm25_topk_batch(
    spark: SparkSession,
    tf_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    queries: dict[int, list[str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score a whole query SET in one plan → (query_id, rank, doc_id, score).

    The scalable form of query-set evaluation (a per-query driver loop runs
    |Q| jobs; this runs one): broadcast the (query_id, term) relation, join
    once, aggregate per (query_id, doc_id), rank with a window partitioned
    by query_id. df/idf stay per-term GLOBAL quantities shared by all
    queries — they are computed once from the candidate rows of the union of
    query terms, not per query."""
    qdf = query_pairs_df(spark, queries)
    rows = with_df(tf_df, qdf.select("term").distinct())
    scored = score_rows(rows, doc_stats_df, n_docs, avgdl, k1, b, queries=qdf)
    return topk_per_query(scored, k)
