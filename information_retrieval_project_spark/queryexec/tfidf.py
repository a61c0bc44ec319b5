"""TF-IDF cosine scorer — rank-parity with the reference's ranking path.

The reference ranks with sklearn TfidfVectorizer defaults + cosine
(data_manager.py:122-126): w = tf · (ln((1+N)/(1+df)) + 1) [smooth_idf],
L2-normalized per document; cosine(q, d) = dot of the normalized vectors.
Those are public sklearn semantics (SURVEY.md F3/F4); we reproduce them as
native column math so Catalyst keeps the whole plan in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import local_relation, topk


def tfidf_weights(tf_df: DataFrame, n_docs: int) -> DataFrame:
    """(term, doc_id, tf) → (term, doc_id, w) L2-normalized sklearn TF-IDF."""
    df_per_term = tf_df.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        tf_df.join(df_per_term, "term")
        .withColumn(
            "w_raw",
            F.col("tf")
            * (F.log((1.0 + F.lit(float(n_docs))) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    norm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("norm")
    )
    return (
        w.join(norm, "doc_id")
        .withColumn("w", F.col("w_raw") / F.col("norm"))
        .select("term", "doc_id", "w")
    )


def tfidf_cosine_topk(
    spark: SparkSession,
    tf_df: DataFrame,
    n_docs: int,
    query_tokens: list[str],
    k: int = 10,
) -> DataFrame:
    """Cosine(query, doc) over L2-normed vectors = dot product, i.e. a
    broadcast join on term + a per-doc sum (SURVEY.md F4). Building the
    plan runs no Spark job."""
    counts: dict[str, int] = {}
    for t in query_tokens:
        counts[t] = counts.get(t, 0) + 1
    qdf = local_relation(
        spark, [(t, float(c)) for t, c in sorted(counts.items())], "term string, qtf double"
    )
    df_per_term = tf_df.groupBy("term").agg(F.count("*").alias("df"))
    qw = (
        qdf.join(df_per_term, "term", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn(
            "qw_raw",
            F.col("qtf")
            * (F.log((1.0 + F.lit(float(n_docs))) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    # the query norm stays a one-row column of the plan: building the plan
    # runs no job
    qnorm = qw.agg(F.sqrt(F.sum(F.col("qw_raw") ** 2)).alias("qn"))
    qvec = qw.crossJoin(F.broadcast(qnorm)).select(
        "term", (F.col("qw_raw") / F.col("qn")).alias("qw")
    )
    dw = tfidf_weights(tf_df, n_docs)
    scores = (
        dw.join(F.broadcast(qvec), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
    )
    return topk(scores, k)
