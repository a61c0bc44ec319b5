"""Incremental index merge == one-shot build, byte-identical (index/merge).

The north_rule's 'merge' capability across builds: base index ⊕ delta index
must equal build(base ∪ delta) exactly — postings bytes, block-max arrays,
df, max_tf — while untouched terms pass through without decode."""

import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark.corpus import generate_corpus
from information_retrieval_project_spark.index.build import (
    BuildConfig,
    build_index,
    build_postings,
    tokenize_tf,
    with_doc_id,
)
from information_retrieval_project_spark.index.merge import (
    merge_doc_stats,
    merge_index,
)

CFG = BuildConfig(hot_df_threshold=50, docs_per_salt=100, hot_detection_sample=1.0)


def _rows(idx):
    return {
        r["term"]: (
            r["df"],
            r["max_tf"],
            bytes(r["postings"]),
            bytes(r["bm_tfs"]),
        )
        for r in idx.collect()
    }


def test_merge_equals_oneshot_build(spark):
    full = generate_corpus(spark, 400, partitions=4).cache()
    # disjoint append-only split: base 300 files, delta the other 100
    base_c = full.filter(F.xxhash64("repo", "path", "commit") % 4 != 0)
    delta_c = full.filter(F.xxhash64("repo", "path", "commit") % 4 == 0)
    assert 0 < delta_c.count() < full.count()

    base_idx, base_ds, _ = build_index(base_c, CFG)
    delta_idx, delta_ds, _ = build_index(delta_c, CFG)
    merged = merge_index(base_idx, delta_idx)

    want_idx, want_ds, _ = build_index(full, CFG)
    assert _rows(merged) == _rows(want_idx)  # byte-identical postings + meta

    got_ds = {r["doc_id"]: r["doc_len"] for r in merge_doc_stats(base_ds, delta_ds).collect()}
    want = {r["doc_id"]: r["doc_len"] for r in want_ds.collect()}
    assert got_ds == want


def test_merge_handles_vocab_only_in_one_side(spark):
    """Terms exclusive to one side must pass through byte-identical."""
    a = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha alpha shared")],
        "repo string, path string, commit string, lang string, content string",
    )
    b = spark.createDataFrame(
        [("r", "b.py", "c1", "py", "beta shared")],
        "repo string, path string, commit string, lang string, content string",
    )
    ia = build_postings(tokenize_tf(with_doc_id(a)), CFG)
    ib = build_postings(tokenize_tf(with_doc_id(b)), CFG)
    m = _rows(merge_index(ia, ib))
    ra, rb = _rows(ia), _rows(ib)
    assert m["alpha"] == ra["alpha"]          # base-only: untouched bytes
    assert m["beta"] == rb["beta"]            # delta-only: untouched bytes
    assert m["shared"][0] == 2                # both: merged df
    full = a.unionByName(b)
    want = _rows(build_postings(tokenize_tf(with_doc_id(full)), CFG))
    assert m == want


def test_merge_rejects_segmented_index(spark):
    c = generate_corpus(spark, 60, partitions=2)
    seg_cfg = BuildConfig(
        hot_df_threshold=5, docs_per_salt=10, hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    seg = build_postings(tokenize_tf(with_doc_id(c)), seg_cfg)
    flat = build_postings(tokenize_tf(with_doc_id(c)), CFG)
    with pytest.raises(ValueError, match="segmented"):
        merge_index(seg, flat)


def test_append_segments_increments_segmented_index(spark):
    """Segmented increment: delta rows appended as new segments, df refreshed
    to the term total, and BM25 over the appended index == over a one-shot
    segmented build of the full corpus."""
    from information_retrieval_project_spark.index.build import (
        collection_stats,
        doc_stats,
    )
    from information_retrieval_project_spark.index.merge import append_segments
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    seg_cfg = BuildConfig(
        hot_df_threshold=20, docs_per_salt=50, hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    full = generate_corpus(spark, 300, partitions=3).cache()
    base_c = full.filter(F.xxhash64("repo", "path", "commit") % 3 != 0)
    delta_c = full.filter(F.xxhash64("repo", "path", "commit") % 3 == 0)

    tf_full = tokenize_tf(with_doc_id(full)).cache()
    base = build_postings(tokenize_tf(with_doc_id(base_c)), seg_cfg)
    delta = build_postings(tokenize_tf(with_doc_id(delta_c)), seg_cfg)
    appended = append_segments(base, delta).cache()

    # df on every row is the term total of the full corpus
    want_df = {
        r["term"]: r["n"]
        for r in tf_full.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    for r in appended.select("term", "df").distinct().collect():
        assert r["df"] == want_df[r["term"]], r["term"]
    # (term, segment) unique after the offset
    n_rows = appended.count()
    assert appended.select("term", "segment").distinct().count() == n_rows

    ds = doc_stats(tf_full).cache()
    cs = collection_stats(ds).collect()[0]
    toks = ["def", "return", "import"]
    got = bm25_topk_compressed(
        spark, appended, ds, cs["n_docs"], cs["avgdl"], toks, k=10
    ).collect()
    oneshot = build_postings(tf_full, seg_cfg)
    want = bm25_topk_compressed(
        spark, oneshot, ds, cs["n_docs"], cs["avgdl"], toks, k=10
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_delete_docs_equals_rebuild_without_them(spark):
    """Tombstone delete == one-shot build over the surviving corpus,
    byte-identical; untouched terms pass through; emptied terms vanish."""
    from information_retrieval_project_spark.index.merge import delete_docs

    full = generate_corpus(spark, 300, partitions=3).cache()
    ids = with_doc_id(full)
    tf = tokenize_tf(ids).cache()
    idx = build_postings(tf, CFG)

    victims_ids = ids.filter(F.xxhash64("repo", "path") % 5 == 0)
    victim_tf = tokenize_tf(victims_ids)
    assert 0 < victims_ids.count() < full.count()

    got = _rows(delete_docs(idx, victim_tf.select("doc_id", "term")))
    survivors = ids.join(
        victims_ids.select("doc_id"), "doc_id", "left_anti"
    )
    want = _rows(build_postings(tokenize_tf(survivors), CFG))
    assert got == want


def test_compact_segments_equals_oneshot_segmented_build(spark):
    """After appends grow the segment count, compaction (decode → rebuild
    from the index itself, no corpus scan) reproduces the one-shot segmented
    build byte-for-byte."""
    from information_retrieval_project_spark.index.merge import (
        append_segments,
        compact_segments,
    )

    seg_cfg = BuildConfig(
        hot_df_threshold=20, docs_per_salt=50, hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    full = generate_corpus(spark, 240, partitions=2).cache()
    # pmod, not %: Spark's % keeps the dividend's sign, so `% 2 == 1`
    # silently drops negative-hash docs from the split
    a = full.filter(F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)) == 0)
    b = full.filter(F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)) == 1)
    appended = append_segments(
        build_postings(tokenize_tf(with_doc_id(a)), seg_cfg),
        build_postings(tokenize_tf(with_doc_id(b)), seg_cfg),
    )
    compacted = compact_segments(appended, seg_cfg)
    oneshot = build_postings(tokenize_tf(with_doc_id(full)), seg_cfg)

    def seg_rows(df):
        return {
            (r["term"], r["segment"]): (r["df"], bytes(r["postings"]))
            for r in df.collect()
        }

    assert seg_rows(compacted) == seg_rows(oneshot)
    # compaction reduced the appended segment fan-out (or kept it equal)
    assert compacted.count() <= appended.count()


def test_segmented_lifecycle_append_delete_compact_serves(spark):
    """The 10^12-scale segmented lifecycle, closed loop (VERDICT r2 #9):
    append a delta build -> delete-equivalent (the victim docs' segment
    build is REBUILT from its surviving corpus and re-appended; segmented
    indexes never decode-rewrite in place) -> compact -> and BM25 serving is
    rank-identical to a fresh one-shot build at every stage."""
    from information_retrieval_project_spark.index.build import (
        collection_stats,
        doc_stats,
    )
    from information_retrieval_project_spark.index.merge import (
        append_segments,
        compact_segments,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    seg_cfg = BuildConfig(
        hot_df_threshold=20, docs_per_salt=50, hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    full = generate_corpus(spark, 300, partitions=3).cache()
    base_c = full.filter(F.xxhash64("repo", "path", "commit") % 3 != 0).cache()
    delta_c = full.filter(F.xxhash64("repo", "path", "commit") % 3 == 0).cache()

    base = build_postings(tokenize_tf(with_doc_id(base_c)), seg_cfg)

    # 1. append the delta build
    delta = build_postings(tokenize_tf(with_doc_id(delta_c)), seg_cfg)
    appended = append_segments(base, delta)

    # 2. delete-equivalent: victims live in the delta; rebuild that
    # segment-set from its surviving docs and re-append to the base
    survivors_delta = delta_c.filter(F.xxhash64("path") % 4 != 0).cache()
    assert 0 < survivors_delta.count() < delta_c.count()
    rebuilt_delta = build_postings(
        tokenize_tf(with_doc_id(survivors_delta)), seg_cfg
    )
    after_delete = append_segments(base, rebuilt_delta).cache()

    served_corpus = base_c.unionByName(survivors_delta).cache()
    tf_served = tokenize_tf(with_doc_id(served_corpus)).cache()
    ds = doc_stats(tf_served).cache()
    cs = collection_stats(ds).collect()[0]
    toks = ["def", "return", "import"]

    def top(idx):
        return [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_compressed(
                spark, idx, ds, cs["n_docs"], cs["avgdl"], toks, k=10
            ).collect()
        ]

    want = top(build_postings(tf_served, seg_cfg))
    assert top(after_delete) == want

    # 3. compact the grown segment set; segment count shrinks or holds,
    # serving unchanged, and the compacted index equals a one-shot
    # segmented build row-for-row (postings byte-identical)
    compacted = compact_segments(after_delete, seg_cfg).cache()
    assert compacted.count() <= after_delete.count()
    assert top(compacted) == want
    oneshot = build_postings(tf_served, seg_cfg)
    got_rows = {
        (r["term"], r["segment"]): (r["df"], bytes(r["postings"]))
        for r in compacted.collect()
    }
    want_rows = {
        (r["term"], r["segment"]): (r["df"], bytes(r["postings"]))
        for r in oneshot.collect()
    }
    assert got_rows == want_rows
