"""Positional index: exact roundtrip, one tokenizer for tf and positions,
indexed phrase and proximity search == corpus-side semantics, and plans
with no Python stage."""

import re

import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark.corpus import generate_corpus
from information_retrieval_project_spark.functions.textnorm import (
    _SPLIT_PATTERNS,
    normalize_tokenize,
)
from information_retrieval_project_spark.index.build import with_doc_id
from information_retrieval_project_spark.index.positions import (
    build_positions,
    decode_position_rows,
    phrase_match_indexed,
)


def _corpus_positions(ids):
    toks = F.filter(
        F.split(F.lower(F.col("content")), "[^a-z0-9_]+"), lambda x: x != ""
    )
    return ids.select("doc_id", F.posexplode(toks).alias("pos", "term"))


def _corpus_phrase_counts(ids, phrase):
    """Reference semantics: count aligned full-house positions per doc —
    the same shape as entry_queries.q_phrase_match_docs, generalized to n
    terms (and robust to repeated terms)."""
    pos = _corpus_positions(ids)
    spark = ids.sparkSession
    slots = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase)], "term string, slot int"
    )
    aligned = pos.join(slots, "term").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("apos"), "slot"
    )
    return (
        aligned.groupBy("doc_id", "apos")
        .agg(F.count_distinct("slot").alias("n"))
        .filter(F.col("n") == len(phrase))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )


def test_positions_roundtrip_exact(spark):
    """Exploding the stored lists reproduces the exact (term, doc_id, pos)
    relation of the corpus; every list ascends and n_occ is its length."""
    ids = with_doc_id(generate_corpus(spark, 120, partitions=2)).cache()
    idx = build_positions(ids).cache()
    got = decode_position_rows(idx).select("term", "doc_id", "pos").collect()
    want = _corpus_positions(ids).select("term", "doc_id", "pos").collect()
    assert sorted(got) == sorted(want) and want
    rows = idx.select("n_occ", "positions").collect()
    assert all(r["n_occ"] == len(r["positions"]) for r in rows)
    assert all(r["positions"] == sorted(r["positions"]) for r in rows)


@pytest.mark.parametrize("strategy", sorted(_SPLIT_PATTERNS))
def test_positions_build_tf_equals_tf_build(spark, strategy):
    """build_index(positions=True) tokenizes with tokenize_tf's kernel, so
    its tf equals build_index(positions=False)'s for every strategy — on
    non-ASCII letters, NBSP and vertical-tab whitespace, leading/trailing
    separators and a null row (a second tokenizer split these apart)."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
        tokenize_tf,
    )

    texts = [
        "Café naïve",
        "  lead\u00a0nbsp\x0bvtab trail  ",
        ",,x_1 y-2 café,,",
        None,
        "",
    ]
    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", t) for i, t in enumerate(texts)],
        "repo string, path string, commit string, content string",
    )
    cfg = BuildConfig(strategy=strategy, hot_detection_sample=1.0)

    def rows(df):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
            for r in df.collect()
        )

    idx, ds, cs, pos = build_index(corpus, cfg, positions=True)
    idx2, ds2, cs2 = build_index(corpus, cfg)
    assert rows(idx) == rows(idx2)
    assert rows(ds) == rows(ds2) and rows(cs) == rows(cs2)
    tf = rows(tokenize_tf(with_doc_id(corpus), strategy))
    assert rows(pos.select("doc_id", "term", F.col("n_occ").alias("tf"))) == tf
    assert tf


def test_positions_build_in_parity_mode(spark):
    """build_index(positions=True) accepts stem/stopwords: its tf equals
    the positions=False build's, and each position is the term's index
    among the doc's kept (stemmed, non-stopword) terms."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
    )

    corpus = generate_corpus(spark, 60, partitions=2)
    cfg = BuildConfig(stem=True, stopwords=True)
    idx, ds, cs, pos = build_index(corpus, cfg, positions=True)
    idx2, ds2, cs2 = build_index(corpus, cfg)
    assert sorted(idx.collect()) == sorted(idx2.collect())
    assert sorted(ds.collect()) == sorted(ds2.collect())
    want = {}
    for r in with_doc_id(corpus).collect():
        terms = normalize_tokenize(r["content"], stem=True, stopwords=True)
        for i, t in enumerate(terms):
            want.setdefault((t, r["doc_id"]), []).append(i)
    got = {(r["term"], r["doc_id"]): r["positions"] for r in pos.collect()}
    assert got == want and want


def test_phrase_match_indexed_equals_corpus_semantics(spark):
    ids = with_doc_id(generate_corpus(spark, 200, partitions=2)).cache()
    idx = build_positions(ids).cache()
    # pick a 2-gram guaranteed present: the most frequent adjacent pair
    pos = _corpus_positions(ids).cache()
    top = (
        pos.alias("a")
        .join(
            pos.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("w1"), F.col("b.term").alias("w2"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .first()
    )
    phrase2 = [top["w1"], top["w2"]]
    got2 = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_indexed(spark, idx, phrase2).collect()
    }
    want2 = {
        r["doc_id"]: r["n_matches"]
        for r in _corpus_phrase_counts(ids, phrase2).collect()
    }
    assert got2 == want2 and got2  # non-trivial by construction

    # 3-gram (may be empty — equality must still hold)
    tri = (
        pos.alias("a")
        .join(
            pos.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .join(
            pos.alias("c"),
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.pos") == F.col("a.pos") + 2),
        )
        .groupBy(
            F.col("a.term").alias("w1"),
            F.col("b.term").alias("w2"),
            F.col("c.term").alias("w3"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .first()
    )
    phrase3 = [tri["w1"], tri["w2"], tri["w3"]]
    got3 = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_indexed(spark, idx, phrase3).collect()
    }
    want3 = {
        r["doc_id"]: r["n_matches"]
        for r in _corpus_phrase_counts(ids, phrase3).collect()
    }
    assert got3 == want3 and got3


def test_phrase_match_repeated_term(spark):
    """A phrase with the same term in two slots ('a a') must require two
    ADJACENT occurrences, not one occurrence counted twice."""
    rows = [
        (1, "x a a y"),       # one match at pos 1
        (2, "a y a"),         # no adjacent pair
        (3, "a a a"),         # two overlapping matches (pos 0 and 1)
        (4, "b c d"),         # no 'a' at all
    ]
    docs = spark.createDataFrame(
        [(i, "r", "p", str(i), t) for i, t in rows],
        "doc_id long, repo string, path string, commit string, content string",
    )
    idx = build_positions(docs)
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_indexed(spark, idx, ["a", "a"]).collect()
    }
    assert got == {1: 1, 3: 2}


def test_proximity_match_indexed(spark):
    from information_retrieval_project_spark.index.positions import (
        proximity_match_indexed,
    )

    rows = [
        (1, "x a q q b y"),   # |1-4| = 3
        (2, "a x x x x x b"), # |0-6| = 6 -> excluded at window 5
        (3, "b a"),           # |1-0| = 1
        (4, "a a a"),         # no b
    ]
    docs = spark.createDataFrame(
        [(i, "r", "p", str(i), t) for i, t in rows],
        "doc_id long, repo string, path string, commit string, content string",
    )
    idx = build_positions(docs)
    got = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, idx, "a", "b", 5).collect()
    }
    assert got == {1: 3, 3: 1}


def test_build_positions_null_and_empty_content(spark):
    """Null/empty content = zero tokens (same as every other tokenize path),
    not a crashed task (NaN->INT64_MIN in np.repeat)."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")],
        "doc_id long, content string",
    )
    idx = build_positions(docs)
    assert {r["doc_id"] for r in idx.collect()} == {1}
    assert idx.count() == 2  # terms a and b of doc 1 only


def test_proximity_hot_term_is_linear_not_quadratic(spark):
    """Pathological skew (VERDICT r3 #3): a stopword-frequency term pair in
    ONE long doc — 10⁴ occurrences of each term. The old per-doc position
    JOIN built occ_a × occ_b = 10⁸ pairs here; the sorted-merge kernel is
    O(occ_a + occ_b) and must finish in bounded time with the exact
    min-distance."""
    import time

    from information_retrieval_project_spark.index.positions import (
        proximity_match_indexed,
    )

    n = 10_000
    hot = "a b " * n                    # a at even, b at odd → min_dist 1
    far = "a " + "x " * 50 + "b"        # min_dist 51 → excluded at window 5
    docs = spark.createDataFrame(
        [(1, hot), (2, far)], "doc_id long, content string"
    )
    idx = build_positions(docs)
    t0 = time.time()
    got = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, idx, "a", "b", 5).collect()
    }
    assert got == {1: 1}
    # generous bound: the quadratic kernel took minutes on this input
    assert time.time() - t0 < 60

    # same-term variant on the same hot doc: 10⁴ occurrences of 'a',
    # consecutive gap 2
    got_same = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, idx, "a", "a", 5).collect()
    }
    assert got_same == {1: 2}


def test_proximity_multi_row_store_merges_all_rows(spark):
    """A positions store carrying >1 row per (term, doc) — e.g. a merged or
    appended relation — must merge ALL rows before the distance kernel
    (ADVICE r4: F.first() silently used one arbitrary row). Constructed so
    the one-row answer is WRONG: term x's closest occurrence to y lives in
    the second row of (x, doc 1)."""
    from information_retrieval_project_spark.index.positions import (
        POS_SCHEMA,
        proximity_match_indexed,
    )

    rows = [
        ("x", 1, 1, [100]),  # registered FIRST: the row F.first() took
        ("x", 1, 1, [5]),
        ("y", 1, 1, [6]),
        ("z", 2, 1, [0]),    # same-term split across rows
        ("z", 2, 1, [2]),
    ]
    pos_idx = spark.createDataFrame(rows, POS_SCHEMA)
    got = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, pos_idx, "x", "y", 3).collect()
    }
    assert got == {1: 1}  # x@5 vs y@6 — only visible after the row merge

    got_same = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, pos_idx, "z", "z", 5).collect()
    }
    assert got_same == {2: 2}  # occurrences live in different rows


def test_proximity_same_term_requires_two_occurrences(spark):
    from information_retrieval_project_spark.index.positions import (
        proximity_match_indexed,
    )

    docs = spark.createDataFrame(
        [(1, "a x a"), (2, "a x x"), (3, "a a")],
        "doc_id long, content string",
    )
    idx = build_positions(docs)
    got = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match_indexed(spark, idx, "a", "a", 5).collect()
    }
    # doc 2 has ONE 'a' -> no self-pair hit; docs 1 and 3 have two
    assert got == {1: 2, 3: 1}


def test_fused_build_identity_and_single_scan(spark, tmp_path):
    """build_index(positions=True) — ONE fused tokenize pass feeding both
    the inverted index and the positional index (VERDICT r3 #4). The fused
    outputs must be byte-identical to the two-pass build, and the plan must
    contain exactly ONE corpus scan (the two-pass build pays the dominant
    scan+tokenize stage twice)."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
    )

    src = str(tmp_path / "corpus")
    generate_corpus(spark, 150, partitions=2).write.parquet(src)
    corpus = spark.read.parquet(src)
    # sample=0: hot detection reads the (cached) fused tf itself, so the
    # single-scan assertion below isn't clouded by the sampled pre-job
    cfg = BuildConfig(hot_detection_sample=0.0)

    idx, ds, cs, pos = build_index(corpus, cfg, positions=True)
    idx2, ds2, cs2 = build_index(corpus, cfg)
    pos2 = build_positions(with_doc_id(corpus))

    def rows(df):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
            for r in df.collect()
        )

    assert rows(idx) == rows(idx2)          # postings byte-identical
    assert rows(ds) == rows(ds2)
    assert rows(cs) == rows(cs2)
    assert rows(pos) == rows(pos2)          # positions byte-identical
    # n_occ IS tf: the fused pass's counts equal the default Arrow-kernel
    # tokenize path's tf triples (cross-strategy parity)
    from information_retrieval_project_spark.index.build import tokenize_tf

    assert rows(pos.select("doc_id", "term", F.col("n_occ").alias("tf"))) == rows(
        tokenize_tf(with_doc_id(corpus))
    )

    # single corpus scan, proven behaviorally (formatted AQE plans repeat
    # cached subtrees, so string-counting scans is meaningless): after the
    # fused relation is materialized, DELETE the source files — every output
    # of the fused build still computes, because they all read the ONE
    # cached fused relation. A plan that actually needs a second corpus
    # scan (the Arrow tokenize path — different canonical plan, so no cache
    # substitution) fails on the same deleted files, proving the deletion
    # detects real rescans. (build_positions / tokenize_tf themselves would
    # silently hit the fused/tf caches — identical canonical subplans —
    # which is the plan-reuse working as designed.)
    import shutil

    import pytest
    from py4j.protocol import Py4JJavaError

    shutil.rmtree(src)
    assert idx.count() > 0 and pos.count() > 0
    assert ds.count() > 0 and cs.count() == 1
    with pytest.raises(Py4JJavaError):
        corpus.count()  # an uncached plan over the same files DOES rescan


def test_positions_storage_roundtrip_and_pruning(spark, tmp_path):
    """write_positions/read_positions: stored phrase serving is identical to
    in-memory, the scan prunes term_bucket partitions, and a corrupt
    committed state raises (the wrong-modulus lesson from the main index,
    ADVICE r1)."""
    import pytest

    from information_retrieval_project_spark.index.positions import (
        read_positions,
        write_positions,
    )

    out = str(tmp_path / "posidx")
    ids = with_doc_id(generate_corpus(spark, 150, partitions=2)).cache()
    idx = build_positions(ids)
    write_positions(idx, out, term_buckets=8)
    stored, tb = read_positions(spark, out)
    assert tb == 8

    # a phrase guaranteed present (the corpus's most frequent adjacent
    # pair) — 'def main' does NOT occur in this corpus, so a fixed phrase
    # made the stored==in-memory identity vacuously []==[]
    pos_rel = _corpus_positions(ids)
    top = (
        pos_rel.alias("a")
        .join(
            pos_rel.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("w1"), F.col("b.term").alias("w2"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .first()
    )
    phrase = [top["w1"], top["w2"]]
    want = {
        (r["doc_id"], r["n_matches"])
        for r in phrase_match_indexed(spark, idx, phrase).collect()
    }
    served = phrase_match_indexed(spark, stored, phrase, term_buckets=tb)
    got = {(r["doc_id"], r["n_matches"]) for r in served.collect()}
    assert got == want and got  # non-trivial by construction

    # the physical plan must prune partitions on term_bucket
    from information_retrieval_project_spark.index.positions import prune_terms

    pruned = prune_terms(stored, phrase, tb)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:300]

    # corrupt committed state raises instead of assuming a modulus
    with open(f"{out}/CURRENT") as f:
        state = f"{out}/{f.read().strip()}/state.json"
    with open(state, "w") as f:
        f.write("{nope")
    with pytest.raises(ValueError, match="corrupt state.json"):
        read_positions(spark, out)


def test_stored_phrase_with_quote_and_backslash_terms(spark, tmp_path):
    """Under the `keras` strategy (whitespace split) terms keep quotes and
    backslashes; the stored store's term and bucket prune still finds them,
    whatever the parser's escaping setting."""
    from information_retrieval_project_spark.index.build import tokenize_tf_positions
    from information_retrieval_project_spark.index.positions import (
        read_positions,
        write_positions,
    )

    docs = spark.createDataFrame(
        [(1, "say it's a\\b here"), (2, "it's fine"), (3, "a\\b it's")],
        "doc_id long, content string",
    )
    pos = tokenize_tf_positions(docs, "keras").select(
        "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
    )
    out = str(tmp_path / "posidx")
    write_positions(pos, out, term_buckets=8)
    stored, tb = read_positions(spark, out)
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            got = phrase_match_indexed(spark, stored, ["it's", "a\\b"], tb)
            assert [tuple(r) for r in got.collect()] == [(1, 1)], escaped
    finally:
        spark.conf.set(key, before)


def test_write_positions_crash_never_mismatches_modulus(spark, tmp_path):
    """CURRENT-pointer snapshot protocol (index/manifest.py, shared with
    streaming/incremental.py): simulate every crash window and assert the
    reader always sees A consistent committed snapshot — never 8-bucket
    data paired with a 32-bucket modulus, and never NO snapshot at all
    (the old rename-pair protocol's gap)."""
    import os

    from information_retrieval_project_spark.index.positions import (
        read_positions,
        write_positions,
    )

    out = str(tmp_path / "posatomic")
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, content string"
    )
    idx = build_positions(docs)
    write_positions(idx, out, term_buckets=32)

    # crash window 1: a re-bucketing run dies before the version-dir
    # rename (staging written, never published); backdated mtime — the
    # staging GC is age-gated (ADVICE r4), young dirs may be live writers
    staging = os.path.join(out, "_staging_v000042")
    os.makedirs(os.path.join(staging, "data"), exist_ok=True)
    os.utime(staging, (0, 0))
    stored, tb = read_positions(spark, out)
    assert tb == 32 and stored.count() == idx.count()  # old snapshot intact

    # crash window 2: version dir published but the pointer flip never ran
    # — the pointer still names the old consistent snapshot
    orphan = os.path.join(out, "v000099")
    os.makedirs(os.path.join(orphan, "data"), exist_ok=True)
    stored, tb = read_positions(spark, out)
    assert tb == 32 and stored.count() == idx.count()

    # the next write cleans stale staging, publishes a fresh version, and
    # flips the pointer; the PREVIOUS committed snapshot is retained for
    # in-flight readers
    write_positions(idx, out, term_buckets=8)
    stored2, tb2 = read_positions(spark, out)
    assert tb2 == 8 and stored2.count() == idx.count()
    assert not os.path.exists(staging)
    assert not os.path.exists(orphan)  # never-committed dirs are GC'd

    # a pointer naming a missing snapshot fails LOUDLY, never guesses
    with open(os.path.join(out, "CURRENT"), "w") as f:
        f.write("v999999")
    import pytest

    with pytest.raises(ValueError, match="missing snapshot"):
        read_positions(spark, out)


def test_phrase_topk_served_from_stored_segmented_indexes(spark, tmp_path):
    """End-to-end index-served phrase ranking (VERDICT r3 #7): ONE fused
    build (positions=True) → write BOTH structures (compressed postings
    bucketed at 16, positions at 8, SEGMENTED hot terms) → read back →
    bm25_phrase_topk_compressed. Must be rank-identical (scores ±1e-9) to
    the in-memory unsegmented composition — proving the stored/segmented
    serving path end to end, including the per-segment df=term-total and
    cross-segment per-doc contribution summing."""
    import pytest as _pytest

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
        read_index,
        read_index_meta,
        write_index,
    )
    from information_retrieval_project_spark.index.positions import (
        read_positions,
        write_positions,
    )
    from information_retrieval_project_spark.queryexec.bm25 import (
        bm25_scores,
        query_terms_df,
        topk,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_phrase_topk_compressed,
    )

    out = str(tmp_path / "served")
    corpus = generate_corpus(spark, 300, partitions=3)
    cfg = BuildConfig(
        hot_df_threshold=50,
        docs_per_salt=60,
        hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    idx, ds, cs, pos = build_index(corpus, cfg, positions=True)
    assert idx.filter(F.col("segment") > 0).count() > 0  # segmentation real
    write_index(idx, ds, cs, out, term_buckets=16)
    # the positions store owns its dir (index/manifest.py)
    write_positions(pos, f"{out}/positions", term_buckets=8)

    r_idx, r_ds, r_cs = read_index(spark, out)
    meta = read_index_meta(spark, out)
    r_pos, ptb = read_positions(spark, f"{out}/positions")
    assert ptb == 8 and meta["term_buckets"] == 16
    cs_row = r_cs.collect()[0]

    # a phrase guaranteed present: the corpus's most frequent adjacent pair
    ids = with_doc_id(corpus)
    pos_rel = _corpus_positions(ids)
    top = (
        pos_rel.alias("a")
        .join(
            pos_rel.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("w1"), F.col("b.term").alias("w2"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .first()
    )
    phrase = [top["w1"], top["w2"]]
    query = ["def", "return", "import"]
    served = bm25_phrase_topk_compressed(
        spark,
        r_idx,
        r_ds,
        cs_row["n_docs"],
        cs_row["avgdl"],
        r_pos,
        phrase,
        query,
        k=10,
        term_buckets=meta["term_buckets"],
        pos_term_buckets=ptb,
    ).collect()

    # reference: in-memory unsegmented tf-relation composition
    from information_retrieval_project_spark.index.build import tokenize_tf

    tf = tokenize_tf(ids).cache()
    ds0 = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    phrase_docs = phrase_match_indexed(
        spark, build_positions(ids), phrase
    ).select("doc_id")
    scores = bm25_scores(
        tf,
        ds0,
        cs_row["n_docs"],
        cs_row["avgdl"],
        query_terms_df(spark, query),
    ).join(phrase_docs, "doc_id", "left_semi")
    want = topk(scores, 10).collect()

    assert [r["doc_id"] for r in served] == [r["doc_id"] for r in want]
    assert served and len(served) == len(want)
    for a, b in zip(served, want):
        assert a["rank"] == b["rank"]
        assert a["score"] == _pytest.approx(b["score"], abs=1e-9)


def test_proximity_topk_served_from_stored_segmented_indexes(spark, tmp_path):
    """End-to-end index-served PROXIMITY ranking (VERDICT r4 #3): ONE fused
    build → write compressed postings (bucketed at 16, segmented hot terms)
    + positions (bucketed at 8) → read back → bm25_proximity_topk_compressed.
    Must be rank-identical (scores ±1e-9) to the in-memory corpus-side
    composition (bm25 scores boosted by the positional min-distance)."""
    import pytest as _pytest

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
        read_index,
        read_index_meta,
        tokenize_tf,
        write_index,
    )
    from information_retrieval_project_spark.index.positions import (
        proximity_match_indexed,
        read_positions,
        write_positions,
    )
    from information_retrieval_project_spark.queryexec.bm25 import (
        bm25_scores,
        query_terms_df,
        topk,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_proximity_topk_compressed,
    )

    out = str(tmp_path / "served_prox")
    corpus = generate_corpus(spark, 300, partitions=3)
    cfg = BuildConfig(
        hot_df_threshold=50,
        docs_per_salt=60,
        hot_detection_sample=1.0,
        segment_hot_terms=True,
    )
    idx, ds, cs, pos = build_index(corpus, cfg, positions=True)
    write_index(idx, ds, cs, out, term_buckets=16)
    # the positions store owns its dir (index/manifest.py)
    write_positions(pos, f"{out}/positions", term_buckets=8)

    r_idx, r_ds, r_cs = read_index(spark, out)
    meta = read_index_meta(spark, out)
    r_pos, ptb = read_positions(spark, f"{out}/positions")
    cs_row = r_cs.collect()[0]

    term_a, term_b, window = "def", "return", 6
    served = bm25_proximity_topk_compressed(
        spark,
        r_idx,
        r_ds,
        cs_row["n_docs"],
        cs_row["avgdl"],
        r_pos,
        term_a,
        term_b,
        window,
        [term_a, term_b],
        k=10,
        term_buckets=meta["term_buckets"],
        pos_term_buckets=ptb,
    ).collect()
    assert len(served) == 10

    # reference: in-memory corpus-side composition (fresh positions build)
    ids = with_doc_id(corpus)
    tf = tokenize_tf(ids).cache()
    ds0 = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    prox = proximity_match_indexed(
        spark, build_positions(ids), term_a, term_b, window
    )
    base = bm25_scores(
        tf,
        ds0,
        cs_row["n_docs"],
        cs_row["avgdl"],
        query_terms_df(spark, [term_a, term_b]),
    )
    boost = 1.0 + F.when(
        F.col("min_dist").isNotNull(), 1.0 / (1.0 + F.col("min_dist"))
    ).otherwise(0.0)
    boosted = base.join(prox, "doc_id", "left").select(
        "doc_id", (F.col("score") * boost).alias("score")
    )
    want = topk(boosted, 10).collect()
    tf.unpersist()

    assert [r["doc_id"] for r in served] == [r["doc_id"] for r in want]
    for a, b in zip(served, want):
        assert a["rank"] == b["rank"]
        assert a["score"] == _pytest.approx(b["score"], abs=1e-9)


def test_append_positions_incremental_maintenance(spark, tmp_path):
    """Incremental positional maintenance (VERDICT r4 #7): appending a new
    doc batch must (a) tokenize only the new docs and link — not rewrite —
    the old snapshot's files, (b) go through the same versioned
    CURRENT-pointer protocol, (c) leave phrase and proximity queries
    rank-identical to a full rebuild over the union, and (d) survive a
    crashed attempt (staging leftovers + published-but-unpointed version)
    with a clean retry."""
    import os

    from information_retrieval_project_spark.index.positions import (
        append_positions,
        proximity_match_indexed,
        read_positions,
        write_positions,
    )

    out = str(tmp_path / "posappend")
    corpus_a = with_doc_id(generate_corpus(spark, 150, partitions=2)).cache()
    corpus_b = (
        with_doc_id(generate_corpus(spark, 220, partitions=2))
        .filter(F.col("doc_id") % 3 == 0)
        .join(corpus_a.select("doc_id"), "doc_id", "left_anti")
        .cache()
    )
    assert corpus_b.count() > 10

    # initial append on an empty store = full write
    r0 = append_positions(spark, out, corpus_a)
    assert r0["mode"] == "initial"
    _, tb0 = read_positions(spark, out)

    # crash simulation: stale staging + a published version with no pointer
    os.makedirs(os.path.join(out, "_staging_v000042"))
    os.utime(
        os.path.join(out, "_staging_v000042"),
        (0, 0),  # old enough for the age-gated GC
    )
    os.makedirs(os.path.join(out, "v000099", "data"))

    r1 = append_positions(spark, out, corpus_b)
    assert r1["mode"] == "appended" and r1["linked_files"] > 0
    stored, tb1 = read_positions(spark, out)
    assert tb1 == tb0  # modulus reused from the committed state

    # full rebuild over the union — the appended store must match exactly
    union = corpus_a.unionByName(corpus_b)
    full = build_positions(union)
    pos_rel = _corpus_positions(union)
    top = (
        pos_rel.alias("a")
        .join(
            pos_rel.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("w1"), F.col("b.term").alias("w2"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .first()
    )
    phrase = [top["w1"], top["w2"]]
    got_p = {
        (r["doc_id"], r["n_matches"])
        for r in phrase_match_indexed(spark, stored, phrase, tb1).collect()
    }
    want_p = {
        (r["doc_id"], r["n_matches"])
        for r in phrase_match_indexed(spark, full, phrase).collect()
    }
    assert got_p == want_p and len(want_p) > 0

    got_x = {
        (r["doc_id"], r["min_dist"])
        for r in proximity_match_indexed(
            spark, stored, "def", "return", 8, tb1
        ).collect()
    }
    want_x = {
        (r["doc_id"], r["min_dist"])
        for r in proximity_match_indexed(
            spark, full, "def", "return", 8
        ).collect()
    }
    assert got_x == want_x and len(want_x) > 0

    # row-level identity: appended store carries exactly the union's rows
    assert stored.count() == full.count()

    # second append is also clean (chained snapshots, retention window)
    corpus_c = (
        with_doc_id(generate_corpus(spark, 300, partitions=2))
        .filter(F.col("doc_id") % 7 == 0)
        .join(
            corpus_a.select("doc_id").unionByName(corpus_b.select("doc_id")),
            "doc_id",
            "left_anti",
        )
    )
    if corpus_c.count() > 0:
        r2 = append_positions(spark, out, corpus_c)
        assert r2["mode"] == "appended"
        stored2, _ = read_positions(spark, out)
        assert stored2.count() == full.count() + build_positions(
            corpus_c
        ).count()
    corpus_a.unpersist(); corpus_b.unpersist()


def test_compact_and_delete_positions_store(spark, tmp_path):
    """Store lifecycle closure (parity with the postings side's
    compact_segments / delete_docs): hardlink appends grow the file count
    per batch — compaction must shrink it back without changing any query
    result or losing committed state; tombstone delete must drop exactly
    the given docs from phrase/proximity results and keep everything
    else byte-stable."""
    from information_retrieval_project_spark.index import manifest
    from information_retrieval_project_spark.index.positions import (
        append_positions,
        compact_positions,
        delete_positions_docs,
        proximity_match_indexed,
        read_positions,
        write_positions,
    )

    def incorporated():
        return manifest.read_state(manifest.current(out))["incorporated"]

    out = str(tmp_path / "poslife")
    batches = [
        with_doc_id(generate_corpus(spark, n, partitions=2)).filter(
            F.col("doc_id") % 3 == k
        )
        for k, n in enumerate((200, 260, 320))
    ]
    write_positions(
        build_positions(batches[0]),
        out,
        state={"incorporated": ["b0"]},
    )
    for i, b in enumerate(batches[1:], start=1):
        append_positions(
            spark,
            out,
            new_docs_corpus=b,
            state={"incorporated": [f"b{j}" for j in range(i + 1)]},
        )

    stored, tb = read_positions(spark, out)
    before_rows = stored.count()
    prox_before = {
        (r["doc_id"], r["min_dist"])
        for r in proximity_match_indexed(
            spark, stored, "def", "return", 8, tb
        ).collect()
    }

    r = compact_positions(spark, out)
    assert r["files_after"] < r["files_before"], r
    stored2, tb2 = read_positions(spark, out)
    assert tb2 == tb and stored2.count() == before_rows
    prox_after = {
        (r_["doc_id"], r_["min_dist"])
        for r_ in proximity_match_indexed(
            spark, stored2, "def", "return", 8, tb2
        ).collect()
    }
    assert prox_after == prox_before and len(prox_before) > 0
    # committed state survived the compaction
    assert incorporated() == ["b0", "b1", "b2"]

    # tombstone delete: pick docs that currently match, drop them
    victims = sorted({d for d, _ in prox_before})[:3]
    dr = delete_positions_docs(spark, out, victims)
    assert dr["n_tombstones"] == 3
    stored3, tb3 = read_positions(spark, out)
    assert stored3.filter(F.col("doc_id").isin(victims)).count() == 0
    prox_del = {
        (r_["doc_id"], r_["min_dist"])
        for r_ in proximity_match_indexed(
            spark, stored3, "def", "return", 8, tb3
        ).collect()
    }
    assert prox_del == {
        (d, m) for d, m in prox_before if d not in victims
    }
    assert incorporated() == ["b0", "b1", "b2"]


def test_proximity_min_dist_property(spark):
    """Seeded property: over a store of 400 random docs, one
    proximity_match_indexed call per term pair (window wide enough to keep
    every doc) returns each doc's brute-force all-pairs minimum — for a
    distinct pair and for a term with itself, with docs holding one term
    only, one occurrence only, and position lists split over several rows
    in any order."""
    import random
    from collections import Counter

    from information_retrieval_project_spark.index.positions import (
        POS_SCHEMA,
        proximity_match_indexed,
    )

    rng = random.Random(7)
    rows, occ = [], {}
    for doc in range(400):
        n = rng.randint(1, 40)
        cells = rng.sample(range(rng.randint(n, 3 * n + 50)), n)
        # a doc holds x only, y only, or both; tokens are one term each
        cut = rng.choice([0, n, rng.randint(0, n)])
        for term, ps in (("x", cells[:cut]), ("y", cells[cut:])):
            if not ps:
                continue
            occ[doc, term] = ps
            ps = sorted(ps)
            bounds = sorted(rng.sample(range(1, len(ps)), min(2, len(ps) - 1)))
            parts = [ps[i:j] for i, j in zip([0, *bounds], [*bounds, len(ps)])]
            rng.shuffle(parts)
            rows += [(term, doc, len(p), p) for p in parts]
    store = spark.createDataFrame(rows, POS_SCHEMA)
    docs = {d for d, _ in occ}
    want_xy = {
        d: min(abs(a - b) for a in occ[d, "x"] for b in occ[d, "y"])
        for d in docs
        if (d, "x") in occ and (d, "y") in occ
    }
    want_xx = {
        d: min(abs(a - b) for i, a in enumerate(ps) for b in ps[i + 1 :])
        for d in docs
        if len(ps := occ.get((d, "x"), [])) > 1
    }
    assert len(want_xy) > 50 and len(want_xx) > 50
    assert len(docs) - len(want_xy) > 50  # one-term docs must not match
    n_rows = Counter((t, d) for t, d, _, _ in rows)
    assert sum(c > 1 for c in n_rows.values()) > 50  # lists split over rows
    for a, b, want in (("x", "y", want_xy), ("x", "x", want_xx)):
        got = {
            r["doc_id"]: r["min_dist"]
            for r in proximity_match_indexed(spark, store, a, b, 10**6).collect()
        }
        assert got == want, (a, b)


def test_read_positions_runs_no_job_and_equals_inferred_read(spark, tmp_path, jobs_run):
    """read_positions reads with the schema the writer wrote (POS_SCHEMA
    plus the term_bucket partition column): no schema-inference job, and
    the same columns, types and rows as a read that infers them."""
    import os

    from information_retrieval_project_spark.index import manifest
    from information_retrieval_project_spark.index.positions import (
        read_positions,
        write_positions,
    )

    out = str(tmp_path / "posidx")
    ids = with_doc_id(generate_corpus(spark, 60, partitions=2))
    write_positions(build_positions(ids), out, term_buckets=4)
    (stored, tb), n_jobs = jobs_run(lambda: read_positions(spark, out))
    assert tb == 4 and n_jobs == 0
    inferred = spark.read.parquet(os.path.join(manifest.current(out), "data"))
    assert stored.dtypes == inferred.dtypes
    key = ["term", "doc_id", "n_occ"]
    want = inferred.orderBy(*key).collect()
    assert stored.orderBy(*key).collect() == want and want


def _python_operators(df) -> list[str]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    ops = set(re.findall(r"\((\d+)\) (\w*(?:Python|Pandas|Arrow)\w*)", plan))
    return sorted(op for _, op in ops)


def test_phrase_and_proximity_plan_no_python_operator(spark, tmp_path):
    """Over stored indexes, phrase and proximity plan no Python operator
    (MapInPandas, MapInArrow, ArrowEvalPython, BatchEvalPython…): they are
    native Spark expressions over array<int>. The composed BM25 serves plan
    exactly one, the posting decode."""
    from information_retrieval_project_spark.index.build import (
        build_index,
        read_index,
        write_index,
    )
    from information_retrieval_project_spark.index.positions import (
        proximity_match_indexed,
        read_positions,
        write_positions,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_phrase_topk_compressed,
        bm25_proximity_topk_compressed,
    )

    out = str(tmp_path / "served")
    idx, ds, cs, pos = build_index(
        generate_corpus(spark, 60, partitions=2), positions=True
    )
    write_index(idx, ds, cs, out, term_buckets=4)
    write_positions(pos, f"{out}/positions", term_buckets=4)
    r_idx, r_ds, r_cs = read_index(spark, out)
    r_pos, ptb = read_positions(spark, f"{out}/positions")
    n_docs, avgdl = r_cs.collect()[0][:2]
    phrase = ["def", "return"]
    assert _python_operators(phrase_match_indexed(spark, r_pos, phrase, ptb)) == []
    for b in ("return", "def"):
        prox = proximity_match_indexed(spark, r_pos, "def", b, 5, ptb)
        assert _python_operators(prox) == []
    served = [
        bm25_phrase_topk_compressed(
            spark, r_idx, r_ds, n_docs, avgdl, r_pos, phrase, phrase,
            term_buckets=4, pos_term_buckets=ptb,
        ),
        bm25_proximity_topk_compressed(
            spark, r_idx, r_ds, n_docs, avgdl, r_pos, "def", "return", 5,
            phrase, term_buckets=4, pos_term_buckets=ptb,
        ),
    ]
    for df in served:
        assert _python_operators(df) == ["MapInPandas"]
