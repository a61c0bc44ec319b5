"""Document-sharded index + per-shard WAND scoring — the query-serving
architecture that actually scales to 10^12 files.

A term-partitioned index is right for build/compression, but query scoring
needs doc-aligned access across the query's terms. The serving layout is the
classic document-sharded one (every distributed search engine: one shard =
a full mini-index over a doc subset): each shard scores its own docs with
block-max WAND against all query terms locally, emits only its top-k, and a
global TakeOrdered finishes. Network cost per query = shards × k rows.

Spark realization: postings and doc_stats are both sharded by
pmod(xxhash64(doc_id), n_shards); at query time the two are cogrouped per
shard (groupBy().cogroup().applyInPandas) and the numpy WAND kernel
(queryexec/wand.py) runs inside the Arrow batch. Salting is unnecessary
here — the shard count bounds every group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.codec import decode_postings, varbyte_decode
from .bm25 import B, K1, topk
from .wand import wand_topk

SHARDED_INDEX_SCHEMA = "shard int, term string, df long, postings binary, bm_tfs binary"


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


def shard_doc_stats(doc_stats_df: DataFrame, n_shards: int = 32) -> DataFrame:
    return doc_stats_df.withColumn("shard", shard_col(n_shards))


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
    """Per-shard block-max WAND (exact), global top-k merge.

    IDF must be GLOBAL: per-term global df (a tiny aggregate over
    ≤ shards×|q| rows) is broadcast-JOINED onto the shard rows as a `gdf`
    column, so the kernel reads it from its own Arrow batch — constructing
    the query runs ZERO driver actions (r6; it used to collect the df map
    first, one fixed job round-trip per query)."""
    uniq = sorted(set(query_tokens))
    rows = sharded_index.filter(F.col("term").isin(uniq))
    rows = rows.join(
        F.broadcast(
            global_term_df(rows).withColumnRenamed("df", "gdf")
        ),
        "term",
    )

    def score(key, idx_pdf: pd.DataFrame, ds_pdf: pd.DataFrame) -> pd.DataFrame:
        if idx_pdf.empty or ds_pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        postings = {}
        block_max = {}
        gdf = {}
        for term, buf, bmt, g in zip(
            idx_pdf["term"].values,
            idx_pdf["postings"].values,
            idx_pdf["bm_tfs"].values,
            idx_pdf["gdf"].values,
        ):
            d, t = decode_postings(bytes(buf))
            postings[term] = (d, t)
            block_max[term] = varbyte_decode(bytes(bmt)).astype(np.int64)
            gdf[term] = int(g)
        doc_len = dict(
            zip(ds_pdf["doc_id"].astype(np.int64), ds_pdf["doc_len"].astype(np.int64))
        )
        idf = {
            t: float(np.log(1.0 + (n_docs - gdf[t] + 0.5) / (gdf[t] + 0.5)))
            for t in postings
        }
        best = wand_topk(
            postings,
            doc_len,
            n_docs,
            avgdl,
            k,
            block_max_tf=block_max,
            k1=k1,
            b=b,
            idf_override=idf,
        )
        return pd.DataFrame(
            {"doc_id": [d for d, _ in best], "score": [s for _, s in best]}
        )

    scored = (
        rows.groupby("shard")
        .cogroup(sharded_ds.groupby("shard"))
        .applyInPandas(score, "doc_id long, score double")
    )
    return topk(scored, k)
