"""Checkpoint-resumable build: crash mid-build → resume → identical index
(north_rule; SURVEY.md §7.1 M5)."""

import os
import re
from dataclasses import replace

import pytest

from information_retrieval_project_spark.corpus import generate_corpus
from information_retrieval_project_spark.index.build import (
    BuildConfig,
    build_index,
    read_index,
)
from information_retrieval_project_spark.index.codec import decode_postings
from information_retrieval_project_spark.pipelines.lineage import (
    finalize_index,
    load_manifest,
    resumable_build,
)

CFG = BuildConfig(hot_df_threshold=50, docs_per_salt=100, hot_detection_sample=1.0)


def _index_as_dict(spark, out):
    rows = read_index(spark, os.path.join(out, "index_store"))[0].collect()
    return {
        r["term"]: (r["df"], decode_postings(bytes(r["postings"]))[0].tolist(),
                    decode_postings(bytes(r["postings"]))[1].tolist())
        for r in rows
    }


def test_crash_resume_identical(spark, tmp_path):
    corpus = generate_corpus(spark, 300, partitions=3).cache()
    out = str(tmp_path / "build")

    with pytest.raises(RuntimeError, match="simulated crash"):
        resumable_build(spark, corpus, out, n_units=6, cfg=CFG, fail_after_units=3)
    assert len(load_manifest(out)) == 3

    # resume: only the remaining units run
    metrics = resumable_build(spark, corpus, out, n_units=6, cfg=CFG)
    assert len(metrics) == 3
    assert len(load_manifest(out)) == 6
    finalize_index(spark, out, CFG)

    # one-shot reference build
    idx, ds, _ = build_index(corpus, CFG)
    want = {
        r["term"]: (r["df"], decode_postings(bytes(r["postings"]))[0].tolist(),
                    decode_postings(bytes(r["postings"]))[1].tolist())
        for r in idx.collect()
    }
    got = _index_as_dict(spark, out)
    assert got == want

    # manifest carries throughput metrics per unit
    for rec in load_manifest(out).values():
        assert rec["n_docs"] >= 0 and rec["seconds"] > 0 and "docs_per_sec" in rec


def test_rerun_is_noop(spark, tmp_path):
    corpus = generate_corpus(spark, 120, partitions=2).cache()
    out = str(tmp_path / "build2")
    resumable_build(spark, corpus, out, n_units=4, cfg=CFG)
    again = resumable_build(spark, corpus, out, n_units=4, cfg=CFG)
    assert again == []  # everything checkpointed, nothing re-runs


def test_changed_input_invalidates_stale_units(spark, tmp_path):
    """Resume against CHANGED input must rebuild the affected units, not
    silently skip them (manifest input fingerprint, ADVICE r1)."""
    from pyspark.sql import functions as F

    corpus = generate_corpus(spark, 120, partitions=2).cache()
    out = str(tmp_path / "build3")
    resumable_build(spark, corpus, out, n_units=4, cfg=CFG)

    # mutate one file's content → exactly the units holding its rows change
    changed = corpus.withColumn(
        "content",
        F.when(F.col("path") == corpus.select("path").first()["path"],
               F.concat(F.col("content"), F.lit(" mutated_token")))
        .otherwise(F.col("content")),
    ).cache()
    again = resumable_build(spark, changed, out, n_units=4, cfg=CFG)
    assert len(again) >= 1                   # stale unit(s) rebuilt
    assert len(again) < 4                    # unaffected units still skipped

    # after the rebuild, the resumed state matches a from-scratch build
    finalize_index(spark, out, CFG)
    idx, _, _ = build_index(changed, CFG)
    want = {
        r["term"]: (r["df"], decode_postings(bytes(r["postings"]))[0].tolist())
        for r in idx.collect()
    }
    got = {
        k: (v[0], v[1])
        for k, v in _index_as_dict(spark, out).items()
    }
    assert got == want
    # and a further rerun is again a no-op
    assert resumable_build(spark, changed, out, n_units=4, cfg=CFG) == []


def test_finalize_commits_only_when_units_change(spark, tmp_path, jobs_run):
    """A resumed run that built no unit finalizes nothing: finalize_index
    finds the same units' (input_fp, n_docs) in the committed snapshot and
    returns it without a Spark job or a new snapshot. Changing one unit's
    input commits one more snapshot."""
    from pyspark.sql import functions as F

    from information_retrieval_project_spark.index import manifest

    corpus = generate_corpus(spark, 120, partitions=2).cache()
    out = str(tmp_path / "build4")
    store = os.path.join(out, "index_store")
    resumable_build(spark, corpus, out, n_units=4, cfg=CFG)
    first = finalize_index(spark, out, CFG)
    assert manifest.current(store).endswith(first)

    assert resumable_build(spark, corpus, out, n_units=4, cfg=CFG) == []
    again, n_jobs = jobs_run(lambda: finalize_index(spark, out, CFG))
    assert again == first and n_jobs == 0
    assert sorted(os.listdir(store)) == ["CURRENT", first]

    path = corpus.select("path").first()["path"]
    changed = corpus.withColumn(
        "content",
        F.when(F.col("path") == path, F.concat(F.col("content"), F.lit(" z")))
        .otherwise(F.col("content")),
    )
    assert 1 <= len(resumable_build(spark, changed, out, n_units=4, cfg=CFG)) < 4
    second = finalize_index(spark, out, CFG)
    assert second != first and manifest.current(store).endswith(second)
    assert sorted(os.listdir(store)) == ["CURRENT", first, second]


def test_finalize_follows_the_units_analyzer(spark, tmp_path):
    """finalize_index commits a whole snapshot labelled with cfg's analyzer:
    a rebuild into the same out_dir under another analyzer re-tokenizes
    every unit and commits, replacing the old store; finalizing units
    tokenized with another analyzer than cfg's is refused, naming out_dir."""
    from information_retrieval_project_spark.functions.textnorm import Analyzer
    from information_retrieval_project_spark.index.build import (
        read_index_meta,
        tokenize_tf,
        with_doc_id,
    )
    from information_retrieval_project_spark.queryexec.wand import decode_candidates

    corpus = generate_corpus(spark, 120, partitions=2).cache()
    out = str(tmp_path / "build5")
    store = os.path.join(out, "index_store")
    resumable_build(spark, corpus, out, n_units=4, cfg=CFG)
    finalize_index(spark, out, CFG)

    keras = replace(CFG, strategy="keras")
    with pytest.raises(ValueError, match=re.escape(out)):
        finalize_index(spark, out, keras)
    assert len(resumable_build(spark, corpus, out, n_units=4, cfg=keras)) == 4
    with pytest.raises(ValueError, match=re.escape(out)):
        finalize_index(spark, out, CFG)
    finalize_index(spark, out, keras)
    assert read_index_meta(spark, store)["analyzer"] == Analyzer("keras")
    got = decode_candidates(read_index(spark, store)[0])
    want = tokenize_tf(with_doc_id(corpus), "keras")
    assert sorted(got.select("doc_id", "term", "tf").collect()) == sorted(
        want.collect()
    )
