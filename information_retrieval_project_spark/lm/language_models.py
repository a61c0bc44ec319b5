"""Skip-gram language models + smoothing — distributed form of the
reference's nested-dict LMs (data_manager.py:392-497).

The single IR is the skip-gram aggregate DataFrame (doc_id, a, b, cnt)
(SURVEY.md §3.3): per-doc LM = rows of one doc; collection LM = rollup over
docs. Smoothing scores and perplexity are column math over these aggregates
crossed with a λ-grid DataFrame — the reference's 9× LM rebuild inside the
grid loop (data_manager.py:519-554) collapses into one aggregation + one
crossJoin.

Semantics notes (frozen, cited):
- sentinel tokens "#S"/"#E" wrap each doc (data_manager.py:412, 494, 501).
- skip(sequence, s): ordered pairs with 1 <= pos_b - pos_a <= s
  (data_manager.py:392-397).
- Laplace: P(b|a) = (1 + c(a,b)) / (Σ_b' c(a,b') + |V|)
  (data_manager.py:434).
- Jelinek-Mercer as the REFERENCE combines it: λ·P(q|Md) + (1−λ2)·P(q|Mc)
  with λ+λ2=1 — i.e. effectively λ·doc + λ·coll, a quirk preserved from
  data_manager.py:480 (SURVEY.md §4.1).
- perplexity = (1/score)^(1/len(q)) (data_manager.py:528, 546).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queryexec.bm25 import local_relation

SENT_START = "#S"
SENT_END = "#E"


def _tokens_with_sentinels(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9_]+"), lambda x: x != ""
    )
    wrapped = F.concat(F.array(F.lit(SENT_START)), toks, F.array(F.lit(SENT_END)))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(wrapped).alias("pos", "term")
    )


def skipgram_pairs(
    docs: DataFrame, s: int = 2, text_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, a, b, cnt): ordered pairs within skip window s, sentinel-
    wrapped. Distributed as a bounded self-join on position (the window is
    ≤ s, so the join fan-out per token is s — linear, not quadratic)."""
    p = _tokens_with_sentinels(docs, text_col, id_col)
    a, b = p.alias("x"), p.alias("y")
    return (
        a.join(
            b,
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("y.pos") > F.col("x.pos"))
            & (F.col("y.pos") <= F.col("x.pos") + s),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_id"),
            F.col("x.term").alias("a"),
            F.col("y.term").alias("b"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def doc_lms(skipgrams: DataFrame) -> DataFrame:
    """Per-doc conditional counts with the per-a marginal attached."""
    marg = skipgrams.groupBy("doc_id", "a").agg(F.sum("cnt").alias("cnt_a"))
    return skipgrams.join(marg, ["doc_id", "a"])


def collection_lm(skipgrams: DataFrame) -> DataFrame:
    """Collection-level rollup of the per-doc aggregate (SURVEY.md A4)."""
    coll = skipgrams.groupBy("a", "b").agg(F.sum("cnt").alias("ccnt"))
    marg = coll.groupBy("a").agg(F.sum("ccnt").alias("ccnt_a"))
    return coll.join(marg, "a")


def _query_bigrams(spark: SparkSession, query_tokens: list[str]) -> DataFrame:
    toks = [SENT_START, *query_tokens, SENT_END]
    pairs = [(a, b) for a, b in zip(toks, toks[1:])]
    return local_relation(spark, pairs, "a string, b string")


def laplace_scores(
    spark: SparkSession,
    skipgrams: DataFrame,
    vocab_size: int,
    query_tokens: list[str],
) -> DataFrame:
    """log P(q|Md) with Laplace smoothing, summed over query bigrams
    (log-sum form of the reference's np.prod, SURVEY.md A8).
    Returns (doc_id, log_score)."""
    qb = _query_bigrams(spark, query_tokens)
    dl = doc_lms(skipgrams)
    # every (doc, query-bigram) cell, including unseen pairs → left join
    docs = skipgrams.select("doc_id").distinct()
    marg = dl.select("doc_id", "a", "cnt_a").distinct()
    grid = docs.crossJoin(F.broadcast(qb))
    cells = (
        grid.join(dl.select("doc_id", "a", "b", "cnt"), ["doc_id", "a", "b"], "left")
        .join(marg, ["doc_id", "a"], "left")
        .na.fill({"cnt": 0, "cnt_a": 0})
    )
    return cells.groupBy("doc_id").agg(
        F.sum(
            F.log((1.0 + F.col("cnt")) / (F.col("cnt_a") + F.lit(float(vocab_size))))
        ).alias("log_score")
    )


def jelinek_mercer_scores(
    spark: SparkSession,
    skipgrams: DataFrame,
    query_tokens: list[str],
    lambdas: list[float] | None = None,
) -> DataFrame:
    """Reference-quirk linear interpolation over a λ grid, one crossJoin —
    NOT one LM rebuild per λ (contrast data_manager.py:539-554).

    Returns (doc_id, lamb, log_score) where per-bigram
    p = λ·P(b|a,Md) + λ·P(b|a,Mc) (the λ2=1−λ quirk of :480 means both
    coefficients equal λ)."""
    lambdas = lambdas or [round(0.1 * i, 1) for i in range(1, 10)]
    qb = _query_bigrams(spark, query_tokens)
    dl = doc_lms(skipgrams)
    cl = collection_lm(skipgrams)
    docs = skipgrams.select("doc_id").distinct()
    grid = docs.crossJoin(F.broadcast(qb))
    cells = (
        grid.join(dl.select("doc_id", "a", "b", "cnt", "cnt_a"), ["doc_id", "a", "b"], "left")
        .join(dl.select("doc_id", "a", "cnt_a").distinct().withColumnRenamed("cnt_a", "m_a"),
              ["doc_id", "a"], "left")
        .join(F.broadcast(cl.select("a", "b", "ccnt", "ccnt_a")), ["a", "b"], "left")
        .join(F.broadcast(cl.select("a", "ccnt_a").distinct().withColumnRenamed("ccnt_a", "cm_a")),
              "a", "left")
        .na.fill({"cnt": 0, "ccnt": 0})
        .withColumn("p_doc", F.when(F.col("m_a").isNull() | (F.col("m_a") == 0), 0.0)
                    .otherwise(F.col("cnt") / F.col("m_a")))
        .withColumn("p_coll", F.when(F.col("cm_a").isNull() | (F.col("cm_a") == 0), 0.0)
                    .otherwise(F.col("ccnt") / F.col("cm_a")))
    )
    lamb_df = local_relation(spark, [(float(l),) for l in lambdas], "lamb double")
    return (
        cells.crossJoin(F.broadcast(lamb_df))
        .withColumn("p", F.col("lamb") * F.col("p_doc") + F.col("lamb") * F.col("p_coll"))
        .groupBy("doc_id", "lamb")
        .agg(F.sum(F.log(F.when(F.col("p") > 0, F.col("p")))).alias("log_score"))
    )


def perplexity(scored: DataFrame, query_len: int, score_col: str = "log_score") -> DataFrame:
    """(1/score)^(1/n) in log space: exp(-log_score/n) (data_manager.py:528)."""
    return scored.withColumn(
        "perplexity", F.exp(-F.col(score_col) / F.lit(float(query_len)))
    )


def param_grid_search(
    spark: SparkSession,
    docs: DataFrame,
    query_tokens: list[str],
    target_doc_id: int,
    s_values: list[int] | None = None,
    text_col: str = "content",
) -> DataFrame:
    """Grid over skip width s × λ: pick the (s, λ) minimizing the target
    doc's perplexity (reference optimals_parameters, data_manager.py:512-598,
    via min_by instead of Python loops). Returns a 1-row DataFrame."""
    s_values = s_values or [2, 3, 4]
    per_s = []
    for s in s_values:
        sg = skipgram_pairs(docs, s=s, text_col=text_col)
        jm = jelinek_mercer_scores(spark, sg, query_tokens)
        p = perplexity(jm, len(query_tokens) + 1).withColumn("s", F.lit(s))
        per_s.append(p.filter(F.col("doc_id") == target_doc_id))
    allp = per_s[0]
    for x in per_s[1:]:
        allp = allp.unionByName(x)
    return allp.agg(
        F.min_by(F.struct("s", "lamb", "perplexity"), "perplexity").alias("best")
    ).select("best.s", "best.lamb", "best.perplexity")
