"""Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty
2001 — public literature; the natural LM-based sibling of the BM25
ranker, composing the engine's existing language-model machinery, SURVEY
§2.10, into a RETRIEVAL scorer).

    score(d) = Σ_{t∈q} log( (tf_td + μ·P(t|C)) / (dl_d + μ) )

with P(t|C) = cf_t / |C| (collection frequency over total tokens). The
sum decomposes so only MATCHED (doc, term) rows need per-doc work:

    score(d) = Σ_{t∈q} log(μ·P(t|C))                     # per-query const
             + Σ_{t matched} [log(tf + μP) − log(μP)]    # matched delta
             − |q|·log(dl_d + μ)                         # doc-length part

so the plan is the same shape as BM25: broadcast the query terms with
their collection statistics, one equi-join into the tf relation, one
per-doc aggregate, top-k. Docs matching no query term are excluded
(the standard candidate-restriction; their relative order is pure
doc-length). Query terms absent from the collection (cf = 0) are dropped
from the formula on BOTH engine and oracle sides — μ·P would be 0 and
log(0) undefined (the OOV convention)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import query_terms_df, topk

MU = 300.0  # Dirichlet pseudo-count; frozen engine choice (gate constant)


def ql_dirichlet_scores(
    spark: SparkSession,
    tf_df: DataFrame,
    doc_stats_df: DataFrame,
    query_tokens: list[str],
    mu: float = MU,
) -> DataFrame:
    """(doc_id, score) for docs matching >= 1 in-collection query term."""
    tdf = query_terms_df(spark, query_tokens)
    # collection statistics: cf per query term + total token count
    totals = tf_df.agg(F.sum("tf").alias("coll_total"))
    cf = (
        tf_df.join(F.broadcast(tdf), "term")
        .groupBy("term")
        .agg(F.sum("tf").alias("cf"))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "mu_p",
            F.lit(float(mu)) * F.col("cf") / F.col("coll_total"),
        )
        .select("term", "mu_p")
    )
    # per-query constants from the in-collection terms only
    const = cf.agg(
        F.sum(F.log("mu_p")).alias("base"), F.count("*").alias("n_q")
    )
    matched = (
        tf_df.join(F.broadcast(cf), "term")
        .withColumn(
            "delta",
            F.log(F.col("tf") + F.col("mu_p")) - F.log("mu_p"),
        )
        .groupBy("doc_id")
        .agg(F.sum("delta").alias("match_sum"))
    )
    return (
        matched.join(doc_stats_df, "doc_id")
        .crossJoin(F.broadcast(const))
        .select(
            "doc_id",
            (
                F.col("base")
                + F.col("match_sum")
                - F.col("n_q") * F.log(F.col("doc_len") + F.lit(float(mu)))
            ).alias("score"),
        )
    )


def ql_dirichlet_topk(
    spark: SparkSession,
    tf_df: DataFrame,
    doc_stats_df: DataFrame,
    query_tokens: list[str],
    k: int = 10,
    mu: float = MU,
    round_scores: int | None = None,
) -> DataFrame:
    scored = ql_dirichlet_scores(spark, tf_df, doc_stats_df, query_tokens, mu)
    if round_scores is not None:
        scored = scored.select(
            "doc_id", F.round("score", round_scores).alias("score")
        )
    return topk(scored, k)
