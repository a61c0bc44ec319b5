"""BM25 top-k scoring — Spark-native column math.

Frozen semantics (SURVEY.md §7.0; the reference has no BM25 — its scorer is
TF-IDF cosine at data_manager.py:122-126 — so k1/b are documented engine
choices required by BASELINE.json north_star):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))        # Robertson/Lucene
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    k1 = 1.2, b = 0.75; each unique query term counts once (qtf ignored);
    tie-break: score DESC, doc_id ASC (deterministic).

The plan is fully native (no Python in the hot path): broadcast the tiny
query-term list into an equi-join against the (term, doc_id, tf) relation,
compute the score as column arithmetic inside whole-stage codegen, aggregate
per doc, and finish with TakeOrderedAndProject (ORDER BY ... LIMIT k).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
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
    cand = tf_df.join(F.broadcast(terms), "term")  # BHJ: prunes to query terms
    df_per_term = cand.groupBy("term").agg(F.count("*").alias("df"))
    idf = df_per_term.withColumn(
        "idf",
        F.log(
            1.0
            + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
    ).select("term", "idf")
    scored = (
        cand.join(F.broadcast(idf), "term")
        .join(doc_stats_df, "doc_id")
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (1.0 - b + b * F.col("doc_len") / F.lit(float(avgdl)))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


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
    pairs = sorted({(qid, t) for qid, toks in queries.items() for t in set(toks)})
    qdf = local_relation(spark, pairs, "query_id long, term string")
    uniq_terms = qdf.select("term").distinct()
    cand = tf_df.join(F.broadcast(uniq_terms), "term")
    dfq = cand.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfq.withColumn(
        "idf",
        F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    ).select("term", "idf")
    scored = (
        cand.join(F.broadcast(idf), "term")
        .join(doc_stats_df, "doc_id")
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / F.lit(float(avgdl)))),
        )
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
