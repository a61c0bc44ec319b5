"""Incremental index merge: base index ⊕ delta index → merged index.

north_rule names posting-list *merge* as a first-class capability. The batch
build groups each term's postings within one build (build_postings); this
module merges ACROSS builds — the daily-increment shape at 10^12-file scale, where
re-encoding the whole index for a 0.1% corpus delta is unaffordable.

Cost profile: a FULL OUTER join on term (the only shuffle), then
- terms touched only by ONE side pass through BYTE-IDENTICAL — no posting
  decode at all (the overwhelming majority for a small delta);
- terms present in both sides decode both postings, merge the sorted runs
  (codec.merge_sorted_runs — sums tf on duplicate doc_ids), and the batch
  is re-encoded with fresh block-max metadata in one
  codec.encode_posting_lists call.

Append-only assumption: delta doc_ids are NEW documents. A re-ingested
(doc_id, term) pair would have its tf SUMMED (merge_sorted_runs semantics) —
dedupe replaced documents upstream (dedup.exact_dedup / lineage fingerprints)
before merging.

Exactness: pytest proves merge_index(build(A), build(B)) is byte-identical
to build(A ∪ B) — postings, block-max arrays, df, max_tf.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module scope: arrow_udf resolves its string annotations here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codec import decode_postings, encode_posting_lists, merge_sorted_runs

_IDX_COLS = ["df", "max_tf", "postings", "bm_tfs"]
_IDX_TYPE = "df long, max_tf long, postings binary, bm_tfs binary"


def _encode_runs(runs: list[tuple[np.ndarray, np.ndarray]]) -> pa.StructArray:
    """Index columns for decoded (doc_ids, tfs) runs, one per term, all
    encoded in one encode_posting_lists call."""
    df = np.array([d.size for d, _ in runs], dtype=np.int64)
    max_tf = [int(t.max()) if t.size else 0 for _, t in runs]
    off = np.zeros(len(runs) + 1, dtype=np.int64)
    np.cumsum(df, out=off[1:])
    doc_ids = np.concatenate([d for d, _ in runs] or [np.empty(0, np.int64)])
    tfs = np.concatenate([t for _, t in runs] or [np.empty(0, np.int64)])
    return pa.StructArray.from_arrays(
        [pa.array(df), pa.array(max_tf, pa.int64()),
         *encode_posting_lists(off, doc_ids, tfs)],
        names=_IDX_COLS,
    )


def _merge_pair_udf():
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(_IDX_TYPE)
    def merge_pair(b_post: pa.Array, d_post: pa.Array) -> pa.Array:
        return _encode_runs([
            merge_sorted_runs([decode_postings(pb), decode_postings(pdl)])
            for pb, pdl in zip(b_post.to_pylist(), d_post.to_pylist())
        ])

    return merge_pair


def merge_index(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merged compressed index (term, df, max_tf, postings, bm_tfs).

    Segmented indexes (BuildConfig.segment_hot_terms) are not merged here —
    their increment path is simpler: a new segment row per (term, build), no
    re-encode at all; this function rejects them explicitly."""
    for side, df_ in (("base", base), ("delta", delta)):
        if "segment" in df_.columns:
            raise ValueError(
                f"{side} index is segmented: append delta segments as new "
                "(term, segment) rows instead of merging"
            )
    b = base.select("term", *[F.col(c).alias(f"b_{c}") for c in _IDX_COLS])
    d = delta.select("term", *[F.col(c).alias(f"d_{c}") for c in _IDX_COLS])
    j = b.join(d, "term", "full_outer")
    one_sided = j.filter(
        F.col("b_postings").isNull() | F.col("d_postings").isNull()
    ).select(
        "term",
        *[
            F.coalesce(F.col(f"b_{c}"), F.col(f"d_{c}")).alias(c)
            for c in _IDX_COLS
        ],
    )
    both = j.filter(
        F.col("b_postings").isNotNull() & F.col("d_postings").isNotNull()
    )
    merge_pair = _merge_pair_udf()
    merged = both.withColumn(
        "_m", merge_pair(F.col("b_postings"), F.col("d_postings"))
    ).select("term", *[F.col(f"_m.{c}").alias(c) for c in _IDX_COLS])
    return one_sided.unionByName(merged)


def merge_doc_stats(base_ds: DataFrame, delta_ds: DataFrame) -> DataFrame:
    """Doc stats union for append-only deltas (new doc_ids)."""
    return base_ds.unionByName(delta_ds)


def compact_segments(seg_idx: DataFrame, cfg) -> DataFrame:
    """Compact a segmented index whose segment count has grown through
    append_segments: decode every segment back to slim (term, doc_id, tf)
    triples (queryexec.wand.decode_candidates — a streaming mapInPandas) and
    re-run the salted posting build over them. No corpus scan: the index IS
    the input, so compaction costs one decode + one build over triples —
    independent of the original content size. Equals a one-shot segmented
    build of the same tf exactly (tested)."""
    if "segment" not in seg_idx.columns:
        raise ValueError("compact_segments expects a segmented index")
    from ..index.build import build_postings
    from ..queryexec.wand import decode_candidates

    tf = decode_candidates(seg_idx).select("doc_id", "term", "tf")
    return build_postings(tf, cfg)


def _delete_udf():
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(_IDX_TYPE)
    def drop_docs(post: pa.Array, victims: pa.Array) -> pa.Array:
        runs = []
        for pb, vs in zip(post.to_pylist(), victims.to_pylist()):
            d, t = decode_postings(pb)
            keep = ~np.isin(d, np.asarray(vs, dtype=np.int64))
            runs.append((d[keep], t[keep]))
        return _encode_runs(runs)

    return drop_docs


def delete_docs(index: DataFrame, doc_terms: DataFrame) -> DataFrame:
    """Tombstone-delete documents from a compressed index without a rebuild
    (the GDPR/right-to-forget shape at 10^12-file scale).

    doc_terms: the (doc_id, term) relation of the documents to delete — the
    lineage tf units (pipelines/lineage.py) or a tokenize pass over the
    victim documents provide it. Only terms CONTAINING a victim decode +
    re-encode; every other term passes through byte-identical via a left
    anti-ish split. Terms whose posting list empties out are dropped."""
    if "segment" in index.columns:
        raise ValueError(
            "segmented index: delete per (term, segment) row instead"
        )
    victims = (
        doc_terms.select("term", "doc_id").distinct()
        .groupBy("term")
        .agg(F.collect_list("doc_id").alias("_victims"))
    )
    # no broadcast hint: victim sets range from a handful (AQE converts the
    # SMJ to broadcast at runtime) to bulk purges where broadcasting would OOM
    j = index.join(victims, "term", "left")
    untouched = j.filter(F.col("_victims").isNull()).drop("_victims")
    drop = _delete_udf()
    touched = (
        j.filter(F.col("_victims").isNotNull())
        .withColumn("_m", drop(F.col("postings"), F.col("_victims")))
        .select(
            "term", *[F.col(f"_m.{c}").alias(c) for c in _IDX_COLS]
        )
        .filter(F.col("df") > 0)
    )
    return untouched.select("term", *_IDX_COLS).unionByName(touched)


def append_segments(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Increment a SEGMENTED index (BuildConfig.segment_hot_terms): the new
    build's rows become additional (term, segment) rows — zero posting
    decode/re-encode — and only the slim df column is refreshed, because df
    on every segment row is the TERM-TOTAL (CLAUDE.md invariant: query paths
    distinct it before idf and sum per-doc contributions across segments).

    Per-term totals come from one distinct row per side (df is identical on
    every segment row of a term), added with a full-outer join; delta segment
    ids are offset past the base's max so (term, segment) stays unique."""
    for side, df_ in (("base", base), ("delta", delta)):
        if "segment" not in df_.columns:
            raise ValueError(f"{side} index is not segmented; use merge_index")
    offset_row = base.agg(F.max("segment").alias("m")).collect()[0]
    offset = int(offset_row["m"] if offset_row["m"] is not None else -1) + 1
    b_tot = base.select("term", F.col("df").alias("b_df")).distinct()
    d_tot = delta.select("term", F.col("df").alias("d_df")).distinct()
    tot = b_tot.join(d_tot, "term", "full_outer").select(
        "term",
        (F.coalesce("b_df", F.lit(0)) + F.coalesce("d_df", F.lit(0))).alias(
            "_new_df"
        ),
    )
    shifted = delta.withColumn("segment", F.col("segment") + F.lit(offset))
    all_rows = base.unionByName(shifted)
    return (
        all_rows.drop("df")
        .join(tot, "term")
        .withColumnRenamed("_new_df", "df")
        .select(*base.columns)
    )
