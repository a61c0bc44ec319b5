"""Document-sharded index, served through the package's one BM25 scorer.

A term-partitioned index is right for build/compression; the document-
sharded layout (one shard = a full mini-index over a doc subset) is the
classic serving alternative. Postings are sharded by
pmod(xxhash64(doc_id), n_shards) and encoded per (shard, term) row.

Serving needs only what the term-bucketed serve needs: the query terms'
rows, a GLOBAL df per term (the sum of the shard dfs, broadcast-joined onto
the rows), one posting decode (queryexec/wand.decode_candidates) and the
shared scorer and top-k (queryexec/bm25.score_rows, topk). So a shard is
a partition of the scan, not a unit of Python work: the plan has one
Python operator, the decode, and no per-shard kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import B, K1, score_rows, topk
from .wand import decode_candidates

def shard_col(n_shards: int, doc_col: str = "doc_id"):
    return F.pmod(F.xxhash64(doc_col), F.lit(n_shards)).cast("int")


def build_sharded_index(tf_df: DataFrame, n_shards: int = 32) -> DataFrame:
    """(doc_id, term, tf) → per-shard compressed postings. Grouping is JVM
    collect_list/array_sort; encoding is one Arrow pass (as in index/build)."""
    from ..index.build import _encode_pairs_udf

    sh = tf_df.withColumn("shard", shard_col(n_shards))
    merged = (
        sh.groupBy("shard", "term")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias("pairs"))
        .select(
            "shard",
            "term",
            F.size("pairs").alias("df"),
            "pairs",
        )
    )
    enc = _encode_pairs_udf()
    return merged.withColumn("_enc", enc(F.col("pairs"))).select(
        "shard",
        "term",
        "df",
        F.col("_enc.postings").alias("postings"),
        F.col("_enc.bm_tfs").alias("bm_tfs"),
    )


def global_term_df(sharded_index: DataFrame) -> DataFrame:
    """Exact global df per term = sum of shard dfs (shards partition docs)."""
    return sharded_index.groupBy("term").agg(F.sum("df").alias("df"))


def bm25_topk_sharded(
    spark: SparkSession,
    sharded_index: DataFrame,
    sharded_ds: DataFrame,
    n_docs: int,
    avgdl: float,
    query_tokens: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Exact BM25 top-k over a document-sharded index.

    IDF must be GLOBAL: the per-term global df (a tiny aggregate over
    ≤ shards×|q| rows) replaces each shard row's df through a broadcast
    join, so the decoded rows carry it and constructing the query runs no
    driver action. `sharded_ds` is the doc stats (doc_id, doc_len); a shard
    column on it is not needed and is ignored."""
    rows = sharded_index.filter(F.col("term").isin(sorted(set(query_tokens))))
    rows = rows.drop("df").join(F.broadcast(global_term_df(rows)), "term")
    return topk(
        score_rows(decode_candidates(rows), sharded_ds, n_docs, avgdl, k1, b), k
    )
