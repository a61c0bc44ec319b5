"""Streaming incremental ingest: only-new-files semantics + equality with
the one-shot batch build."""

import os
import re
import shutil

from pyspark.sql import functions as F

from information_retrieval_project_spark.corpus import generate_pdf
from information_retrieval_project_spark.index.build import (
    read_index,
    tokenize_tf,
    with_doc_id,
)
from information_retrieval_project_spark.streaming.incremental import (
    incremental_tf_ingest,
)


def _write_chunk(spark, pdf, path):
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)


def test_incremental_ingest_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "tf")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    p1 = generate_pdf(60, start=0)
    p2 = generate_pdf(60, start=60)
    _write_chunk(spark, p1, f"{inp}/chunk1")
    # file source needs a flat dir of files: move part files up
    for d in ["chunk1"]:
        for f in os.listdir(f"{inp}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{inp}/{d}/{f}", f"{inp}/{d.replace('chunk','f')}.parquet")
        shutil.rmtree(f"{inp}/{d}")

    incremental_tf_ingest(spark, inp, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    _write_chunk(spark, p2, f"{inp}/chunk2")
    for d in ["chunk2"]:
        for f in os.listdir(f"{inp}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{inp}/{d}/{f}", f"{inp}/{d.replace('chunk','f')}.parquet")
        shutil.rmtree(f"{inp}/{d}")

    incremental_tf_ingest(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() > n1

    # equality with the one-shot batch tokenize over the full corpus
    import pandas as pd

    full = spark.createDataFrame(pd.concat([p1, p2], ignore_index=True))
    want = tokenize_tf(with_doc_id(full))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_index_update_merges_only_new_files(spark, tmp_path):
    """Stream→index lifecycle: updates incorporate only newly-arrived tf
    files (index/merge), and the maintained index equals a one-shot build
    over the full corpus — byte-identical postings."""
    import pandas as pd

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
    )
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_index_update,
    )

    tf_dir = str(tmp_path / "tf2")
    out = str(tmp_path / "idx2")
    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    p1 = generate_pdf(60, start=0)
    p2 = generate_pdf(60, start=60)

    tokenize_tf(with_doc_id(spark.createDataFrame(p1))).coalesce(1).write.mode(
        "append"
    ).parquet(tf_dir)
    r1 = incremental_index_update(spark, tf_dir, out, cfg)
    assert r1["mode"] == "initial" and r1["new_files"] >= 1
    assert incremental_index_update(spark, tf_dir, out, cfg)["mode"] == "noop"

    tokenize_tf(with_doc_id(spark.createDataFrame(p2))).coalesce(1).write.mode(
        "append"
    ).parquet(tf_dir)
    # the tf stream is written with the default analyzer: another cfg is
    # refused, naming the dir, before anything is merged
    import pytest

    keras = BuildConfig(strategy="keras", hot_df_threshold=10_000)
    with pytest.raises(ValueError, match=re.escape(tf_dir)):
        incremental_index_update(spark, tf_dir, out, keras)
    r2 = incremental_index_update(spark, tf_dir, out, cfg)
    assert r2["mode"] == "merged" and r2["new_files"] >= 1

    from information_retrieval_project_spark.index.build import read_index

    m_idx, m_ds, m_cs_df = read_index(spark, out)
    got = {
        r["term"]: (r["df"], bytes(r["postings"])) for r in m_idx.collect()
    }
    full = spark.createDataFrame(pd.concat([p1, p2], ignore_index=True))
    want = {
        r["term"]: (r["df"], bytes(r["postings"]))
        for r in build_postings(tokenize_tf(with_doc_id(full)), cfg).collect()
    }
    assert got == want

    # the maintained out_dir is directly SERVABLE: BM25 over the maintained
    # index + stats equals serving a one-shot batch build
    from information_retrieval_project_spark.index.build import (
        collection_stats,
        doc_stats,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    m_cs = m_cs_df.collect()[0]
    toks = ["def", "return", "import"]
    got_q = bm25_topk_compressed(
        spark, m_idx, m_ds, m_cs["n_docs"], m_cs["avgdl"], toks, k=10
    ).collect()
    tf_full = tokenize_tf(with_doc_id(full)).cache()
    b_ds = doc_stats(tf_full)
    b_cs = collection_stats(b_ds).collect()[0]
    want_q = bm25_topk_compressed(
        spark, build_postings(tf_full, cfg), b_ds,
        b_cs["n_docs"], b_cs["avgdl"], toks, k=10,
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got_q] == [
        (r["doc_id"], round(r["score"], 9)) for r in want_q
    ]


def test_incremental_update_crash_recovery(spark, tmp_path):
    """ADVICE r2: the additive merge must not double-apply after a crash.
    Simulate the two crash windows — (a) staging written but never published,
    (b) snapshot published but CURRENT never flipped — and assert the next
    run converges to exactly the one-shot build either way."""
    import json
    import os
    import shutil

    import pandas as pd

    from information_retrieval_project_spark.index import manifest
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        read_index,
    )
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_index_update,
    )

    tf_dir = str(tmp_path / "tf3")
    out = str(tmp_path / "idx3")
    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    p1 = generate_pdf(50, start=0)
    p2 = generate_pdf(50, start=50)

    tokenize_tf(with_doc_id(spark.createDataFrame(p1))).coalesce(1).write.mode(
        "append"
    ).parquet(tf_dir)
    r1 = incremental_index_update(spark, tf_dir, out, cfg)
    assert r1["snapshot"] == "v000001"
    snap1 = manifest.current(out)

    tokenize_tf(with_doc_id(spark.createDataFrame(p2))).coalesce(1).write.mode(
        "append"
    ).parquet(tf_dir)

    # crash window (a): a leftover staging dir from a died update
    os.makedirs(os.path.join(out, "_staging_v000002", "index"), exist_ok=True)
    # crash window (b): a fully-published v000002 whose CURRENT flip never
    # happened — its contents are a stale double-merge hazard
    shutil.copytree(snap1, os.path.join(out, "v000002"))
    with open(os.path.join(out, "v000002", "state.json"), "w") as f:
        # poison: would re-merge EVERYTHING if trusted
        json.dump({"incorporated": []}, f)

    r2 = incremental_index_update(spark, tf_dir, out, cfg)
    assert r2["mode"] == "merged" and r2["snapshot"] == "v000002"
    assert not os.path.exists(os.path.join(out, "_staging_v000002"))

    m_idx, _, m_cs_df = read_index(spark, out)
    got = {
        r["term"]: (r["df"], bytes(r["postings"])) for r in m_idx.collect()
    }
    full = spark.createDataFrame(pd.concat([p1, p2], ignore_index=True))
    want = {
        r["term"]: (r["df"], bytes(r["postings"]))
        for r in build_postings(tokenize_tf(with_doc_id(full)), cfg).collect()
    }
    assert got == want
    assert m_cs_df.collect()[0]["n_docs"] == 100
    # idempotent after recovery: nothing left to apply
    assert incremental_index_update(spark, tf_dir, out, cfg)["mode"] == "noop"


def test_incremental_update_corrupt_pointer_raises(spark, tmp_path):
    """CURRENT naming a missing snapshot is corruption — rebuilding from only
    new files would silently drop history (ADVICE r2)."""
    import os

    import pytest

    from information_retrieval_project_spark.index.build import BuildConfig
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_index_update,
    )

    out = str(tmp_path / "idx4")
    os.makedirs(out)
    with open(os.path.join(out, "CURRENT"), "w") as f:
        f.write("v000099")
    with pytest.raises(RuntimeError, match="missing snapshot"):
        incremental_index_update(
            spark, str(tmp_path), out, BuildConfig(hot_detection_sample=1.0)
        )


def test_incremental_update_retention_keeps_previous_snapshot(spark, tmp_path):
    """The superseded snapshot survives one update so in-flight readers
    pinned to it keep their files; older ones are GC'd."""
    import os

    from information_retrieval_project_spark.index.build import BuildConfig
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_index_update,
    )

    tf_dir = str(tmp_path / "tf5")
    out = str(tmp_path / "idx5")
    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    for i in range(3):
        pdf = generate_pdf(30, start=30 * i)
        tokenize_tf(with_doc_id(spark.createDataFrame(pdf))).coalesce(
            1
        ).write.mode("append").parquet(tf_dir)
        incremental_index_update(spark, tf_dir, out, cfg)
    snaps = sorted(e for e in os.listdir(out) if e.startswith("v"))
    assert snaps == ["v000002", "v000003"]  # current + one predecessor


def test_incremental_corpus_update_maintains_both_stores(spark, tmp_path):
    """incremental_corpus_update: ONE fused tokenize pass per batch feeds
    the merged postings index AND the appended positional store; both serve
    results identical to a full rebuild over everything ingested, a crash
    between the two commits (simulated by rolling the positions store back
    one batch) is caught up on the next run, and an unchanged corpus is a
    noop."""
    import shutil as _sh

    from information_retrieval_project_spark.index.codec import decode_postings
    from information_retrieval_project_spark.index.positions import (
        build_positions,
        phrase_match_indexed,
        read_positions,
    )
    from information_retrieval_project_spark.queryexec.bm25 import (
        bm25_scores,
        query_terms_df,
        topk,
    )
    from information_retrieval_project_spark.index.build import read_index
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_corpus_update,
    )

    corpus_dir = str(tmp_path / "corpus")
    out = str(tmp_path / "both")
    os.makedirs(corpus_dir)

    def _add_file(pdf, name):
        tmp = str(tmp_path / f"_chunk_{name}")
        _write_chunk(spark, pdf, tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        _sh.move(os.path.join(tmp, part), os.path.join(corpus_dir, name))
        _sh.rmtree(tmp)

    def _assert_indexed_docs_have_stats():
        # serving assumes every indexed doc has a doc_stats row
        idx, ds, _ = read_index(spark, os.path.join(out, "index_store"))
        indexed = {
            int(d)
            for r in idx.select("postings").collect()
            for d in decode_postings(bytes(r["postings"]))[0]
        }
        with_stats = {r["doc_id"] for r in ds.select("doc_id").collect()}
        assert indexed and indexed <= with_stats

    _add_file(generate_pdf(60, start=0), "f1.parquet")
    r1 = incremental_corpus_update(spark, corpus_dir, out)
    assert r1["mode"] == "fused"
    _assert_indexed_docs_have_stats()
    assert r1["index"]["mode"] == "initial"
    assert r1["positions"]["mode"] == "initial"

    _add_file(generate_pdf(60, start=60), "f2.parquet")
    r2 = incremental_corpus_update(spark, corpus_dir, out)
    assert r2["mode"] == "fused"
    assert r2["index"]["mode"] == "merged"
    assert r2["positions"]["mode"] == "appended"
    assert r2["positions"]["linked_files"] > 0
    _assert_indexed_docs_have_stats()

    # both stores must now equal a full rebuild over ALL ingested docs
    all_docs = with_doc_id(spark.read.parquet(corpus_dir))
    tf_full = tokenize_tf(all_docs).cache()
    ds_full = tf_full.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    n_docs = ds_full.count()
    avgdl = ds_full.agg(F.avg("doc_len")).collect()[0][0]
    query = ["def", "return", "import"]

    idx, ds, cs = read_index(spark, os.path.join(out, "index_store"))
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    cs_row = cs.collect()[0]
    assert cs_row["n_docs"] == n_docs
    served_topk = bm25_topk_compressed(
        spark, idx, ds, cs_row["n_docs"], cs_row["avgdl"], query, k=10
    ).collect()
    want_topk = topk(
        bm25_scores(
            tf_full, ds_full, n_docs, float(avgdl),
            query_terms_df(spark, query),
        ),
        10,
    ).collect()
    assert [r["doc_id"] for r in served_topk] == [
        r["doc_id"] for r in want_topk
    ]

    pos, ptb = read_positions(spark, os.path.join(out, "positions_store"))
    full_pos = build_positions(all_docs)
    got_p = {
        (r["doc_id"], r["n_matches"])
        for r in phrase_match_indexed(
            spark, pos, ["def", "handle_request"], ptb
        ).collect()
    }
    want_p = {
        (r["doc_id"], r["n_matches"])
        for r in phrase_match_indexed(
            spark, full_pos, ["def", "handle_request"]
        ).collect()
    }
    assert got_p == want_p

    # noop when nothing new
    assert incremental_corpus_update(spark, corpus_dir, out)["mode"] == "noop"

    # crash between the two commits: index advanced, positions lagging —
    # roll the positions store back one batch and let the next run catch up
    pos_dir = os.path.join(out, "positions_store")
    backup = str(tmp_path / "pos_backup")
    _sh.copytree(pos_dir, backup)
    _add_file(generate_pdf(40, start=120), "f3.parquet")
    r3 = incremental_corpus_update(spark, corpus_dir, out)
    assert r3["mode"] == "fused"
    _assert_indexed_docs_have_stats()
    _sh.rmtree(pos_dir)
    _sh.copytree(backup, pos_dir)  # positions now one batch behind
    r4 = incremental_corpus_update(spark, corpus_dir, out)
    assert r4["mode"] == "catchup"
    assert "index" not in r4  # index store was already current
    _assert_indexed_docs_have_stats()
    pos2, ptb2 = read_positions(spark, os.path.join(out, "positions_store"))
    all_docs2 = with_doc_id(spark.read.parquet(corpus_dir))
    assert pos2.count() == build_positions(all_docs2).count()
    # and the incorporated list caught up — a further run is a noop
    assert incremental_corpus_update(spark, corpus_dir, out)["mode"] == "noop"
    tf_full.unpersist()


def test_corpus_update_keeps_the_committed_analyzer(spark, tmp_path):
    """Both stores tokenize every delta with the analyzer they committed:
    a keras store updated with a keras cfg holds keras terms after the
    catch-up path and the fused path, and a cfg of another analyzer is
    refused, naming the dir, before either store's CURRENT moves."""
    import pytest

    from information_retrieval_project_spark.functions.textnorm import Analyzer
    from information_retrieval_project_spark.index import manifest
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        read_index_meta,
    )
    from information_retrieval_project_spark.index.positions import read_positions
    from information_retrieval_project_spark.queryexec.wand import decode_candidates
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_corpus_update,
    )

    corpus_dir, out = str(tmp_path / "corpus"), str(tmp_path / "stores")
    idx_dir = os.path.join(out, "index_store")
    pos_dir = os.path.join(out, "positions_store")
    keras = BuildConfig(strategy="keras", hot_detection_sample=1.0)

    def add_file(start, name):
        tmp = str(tmp_path / f"_chunk_{name}")
        pdf = generate_pdf(30, start=start)
        pdf["content"] += " self.path(x):"  # a keras term, three code terms
        _write_chunk(spark, pdf, tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.makedirs(corpus_dir, exist_ok=True)
        shutil.move(os.path.join(tmp, part), os.path.join(corpus_dir, name))

    def stored_rows():
        idx, _, _ = read_index(spark, idx_dir)
        pos, _ = read_positions(spark, pos_dir)
        return (
            sorted(decode_candidates(idx).select("doc_id", "term", "tf").collect()),
            sorted(pos.select("doc_id", "term", F.col("n_occ").alias("tf")).collect()),
        )

    add_file(0, "f1.parquet")
    assert incremental_corpus_update(spark, corpus_dir, out, keras)["mode"] == "fused"
    shutil.rmtree(pos_dir)  # the positions store lags: next run catches it up
    add_file(30, "f2.parquet")
    assert incremental_corpus_update(spark, corpus_dir, out, keras)["mode"] == "catchup"
    add_file(60, "f3.parquet")
    assert incremental_corpus_update(spark, corpus_dir, out, keras)["mode"] == "fused"

    docs = with_doc_id(spark.read.parquet(corpus_dir))
    want = sorted(tokenize_tf(docs, "keras").collect())
    assert want != sorted(tokenize_tf(docs).collect())
    assert stored_rows() == (want, want)
    assert read_index_meta(spark, idx_dir)["analyzer"] == Analyzer("keras")

    add_file(90, "f4.parquet")
    pointers = [manifest.current(d) for d in (idx_dir, pos_dir)]
    with pytest.raises(manifest.SnapshotStoreError, match=re.escape(idx_dir)):
        incremental_corpus_update(spark, corpus_dir, out, BuildConfig())
    assert [manifest.current(d) for d in (idx_dir, pos_dir)] == pointers


def test_incremental_update_snapshots_are_term_bucketed(spark, tmp_path):
    """Every update commits a term-bucketed snapshot at the committed
    modulus: a query pruned with read_index_meta's term_buckets prunes
    the scan by term_bucket and equals the unpruned query."""
    from information_retrieval_project_spark.index.bucketing import prune_terms
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        read_index,
        read_index_meta,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_index_update,
    )

    tf_dir, out = str(tmp_path / "tf"), str(tmp_path / "idx")
    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    for start in (0, 40):
        tokenize_tf(
            with_doc_id(spark.createDataFrame(generate_pdf(40, start=start)))
        ).coalesce(1).write.mode("append").parquet(tf_dir)
        incremental_index_update(spark, tf_dir, out, cfg)
    tb = read_index_meta(spark, out)["term_buckets"]
    idx, ds, cs = read_index(spark, out)
    c = cs.collect()[0]
    toks = ["def", "return", "import"]

    def served(index, term_buckets):
        rows = bm25_topk_compressed(
            spark, index, ds, c["n_docs"], c["avgdl"], toks, k=10,
            term_buckets=term_buckets,
        ).collect()
        return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows]

    assert c["n_docs"] == 80
    assert served(idx, tb) == served(idx.drop("term_bucket"), None)
    pruned = prune_terms(idx, toks, tb)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:300]
