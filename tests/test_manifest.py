"""index/manifest.py: the snapshot commit shared by the index store and
the positions store — crashes between its steps, and refusal of every
layout it did not write."""

import os
import re

import pytest

from information_retrieval_project_spark.corpus import generate_pdf
from information_retrieval_project_spark.index import manifest
from information_retrieval_project_spark.index.build import (
    BuildConfig,
    build_postings,
    collection_stats,
    doc_stats,
    read_index,
    read_index_meta,
    tokenize_tf,
    with_doc_id,
    write_index,
)
from information_retrieval_project_spark.index.positions import (
    append_positions,
    build_positions,
    compact_positions,
    delete_positions_docs,
    read_positions,
    write_positions,
)
from information_retrieval_project_spark.streaming.incremental import (
    incremental_index_update,
    read_served_index,
)

CFG = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
BATCHES = {"a": 0, "b": 40, "c": 80}  # batch name -> first generated doc


def _docs(spark, names):
    import pandas as pd

    pdf = pd.concat(
        [generate_pdf(40, start=BATCHES[n]) for n in names], ignore_index=True
    )
    return with_doc_id(spark.createDataFrame(pdf))


class _IndexStore:
    """The served index store, fed tf files like incremental_tf_ingest."""

    def __init__(self, spark, tmp_path):
        self.spark, self.dir = spark, str(tmp_path / "store")
        self.tf_dir = str(tmp_path / "tf")

    def update(self, name):
        tokenize_tf(_docs(self.spark, [name])).coalesce(1).write.mode(
            "append"
        ).parquet(self.tf_dir)
        incremental_index_update(self.spark, self.tf_dir, self.dir, CFG)

    def n_docs(self):
        return read_served_index(self.spark, self.dir)[1].count()

    def rows(self):
        idx = read_served_index(self.spark, self.dir)[0]
        return {r["term"]: (r["df"], bytes(r["postings"])) for r in idx.collect()}

    def one_shot(self, names):
        idx = build_postings(tokenize_tf(_docs(self.spark, names)), CFG)
        return {r["term"]: (r["df"], bytes(r["postings"])) for r in idx.collect()}


class _PositionsStore:
    """The positions store, appended batch by batch; the committed state
    names the batches it holds, as incremental_corpus_update keeps it."""

    def __init__(self, spark, tmp_path):
        self.spark, self.dir = spark, str(tmp_path / "store")
        self.seen = []

    def update(self, name):
        self.seen.append(name)
        cur = manifest.current(self.dir)
        done = manifest.read_state(cur)["incorporated"] if cur else []
        pending = [n for n in self.seen if n not in done]
        if pending:
            append_positions(
                self.spark,
                self.dir,
                new_docs_corpus=_docs(self.spark, pending),
                state={"incorporated": done + pending},
            )

    def n_docs(self):
        stored, _ = read_positions(self.spark, self.dir)
        return stored.select("doc_id").distinct().count()

    @staticmethod
    def _set(df):
        return {
            (r["term"], r["doc_id"], r["n_occ"], tuple(r["positions"]))
            for r in df.select("term", "doc_id", "n_occ", "positions").collect()
        }

    def rows(self):
        return self._set(read_positions(self.spark, self.dir)[0])

    def one_shot(self, names):
        return self._set(build_positions(_docs(self.spark, names)))


def _die(*_a, **_k):
    raise OSError("injected crash")


def _crash(monkeypatch, point):
    """Make the commit die at `point`: before the publish rename, before
    the pointer flip, or right after the flip (before GC)."""
    real_replace = os.replace

    def flip_then_die(src, dst):
        real_replace(src, dst)
        _die()

    attr, fake = {
        "after_staging": ("rename", _die),
        "after_publish": ("replace", _die),
        "after_flip": ("replace", flip_then_die),
    }[point]
    monkeypatch.setattr(os, attr, fake)


@pytest.mark.parametrize("point", ["after_staging", "after_publish", "after_flip"])
@pytest.mark.parametrize("kind", ["index", "positions"])
def test_commit_crash_between_steps(spark, tmp_path, monkeypatch, kind, point):
    store = {"index": _IndexStore, "positions": _PositionsStore}[kind](
        spark, tmp_path
    )
    store.update("a")
    _crash(monkeypatch, point)
    with pytest.raises(OSError, match="injected crash"):
        store.update("b")
    monkeypatch.undo()

    # a reader resolves a complete snapshot: the old one until the pointer
    # has flipped, the new one after
    flipped = point == "after_flip"
    assert os.path.basename(manifest.current(store.dir)) == (
        "v000002" if flipped else "v000001"
    )
    assert store.n_docs() == (80 if flipped else 40)

    # the next commit converges to the one-shot build and leaves only the
    # committed snapshot and its predecessor
    store.update("c")
    assert store.rows() == store.one_shot(["a", "b", "c"])
    new = 3 if flipped else 2
    assert sorted(os.listdir(store.dir)) == [
        "CURRENT", f"v{new - 1:06d}", f"v{new:06d}",
    ]


def test_first_commit_crash_is_not_a_legacy_layout(tmp_path, monkeypatch):
    """A first commit that dies after its publish rename leaves v000001/
    and CURRENT.tmp but no CURRENT: nothing is committed, and the next
    writer starts over instead of refusing the store."""
    store = str(tmp_path / "store")
    staging = manifest.begin(store)
    _crash(monkeypatch, "after_publish")
    with pytest.raises(OSError, match="injected crash"):
        manifest.commit(store, staging, {"n": 1})
    monkeypatch.undo()
    assert manifest.current(store) is None
    staging = manifest.begin(store)
    assert sorted(os.listdir(store)) == ["CURRENT.tmp", "_staging_v000001"]
    assert manifest.commit(store, staging, {"n": 2}) == "v000001"
    assert manifest.read_state(manifest.current(store)) == {"n": 2}
    assert sorted(os.listdir(store)) == ["CURRENT", "v000001"]


def _fill(root, files):
    for rel, data in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(data)


LEGACY_LAYOUTS = {
    # write_index's store before snapshots: four top-level dirs
    "index_four_dir": {
        "index/term_bucket=0/part-0.parquet": "x",
        "doc_stats/part-0.parquet": "x",
        "collection_stats/part-0.parquet": "x",
        "index_meta/part-00000.json": '{"term_buckets":32,"fmt":"parquet"}\n',
    },
    # a committed snapshot without index_format: the update store's
    # unbucketed snapshots (with bm_docs) and the positions store's
    "index_snapshot_unversioned": {
        "CURRENT": "v000001",
        "v000001/index/part-0.parquet": "x",
        "v000001/doc_stats/part-0.parquet": "x",
        "v000001/collection_stats/part-0.parquet": "x",
        "v000001/state.json": '{"incorporated": ["part-old.parquet"]}',
    },
    "positions_snapshot_unversioned": {
        "CURRENT": "v000001",
        "v000001/data/term_bucket=0/part-0.parquet": "x",
        "v000001/state.json": '{"incorporated": [], "term_buckets": 4}',
    },
    # the index store before snapshots: one top-level index
    "index_pre_snapshot": {
        "index/part-0.parquet": "x",
        "doc_stats/part-0.parquet": "x",
        "incorporated.json": '["part-old.parquet"]',
    },
    # a committed positions snapshot of the varbyte binary lists
    "positions_v1": {
        "CURRENT": "v000001",
        "v000001/data/term_bucket=0/part-0.parquet": "x",
        "v000001/state.json": '{"index_format": "positions-v1", "term_buckets": 4}',
    },
    # committed snapshots of the formats that did not record the analyzer
    "index_v2": {
        "CURRENT": "v000001",
        "v000001/index/term_bucket=0/part-0.parquet": "x",
        "v000001/doc_stats/part-0.parquet": "x",
        "v000001/state.json": '{"index_format": "postings-v2", "term_buckets": 4}',
    },
    "positions_v2": {
        "CURRENT": "v000001",
        "v000001/data/term_bucket=0/part-0.parquet": "x",
        "v000001/state.json": '{"index_format": "positions-v2", "term_buckets": 4}',
    },
    # the positions store before its pointer: one bundle dir
    "positions_bundle": {
        "positions_bundle/data/term_bucket=0/part-0.parquet": "x",
        "positions_bundle/meta/part-0.json": '{"term_buckets":4}',
    },
    # the positions store's own pointer and versioned dirs
    "positions_pointer": {
        "POSITIONS_CURRENT": "positions_v000001",
        "positions_v000001/data/term_bucket=0/part-0.parquet": "x",
        "positions_v000001/meta/part-0.json": '{"term_buckets":4}',
        "positions_v000001/incorporated.json": '["f1.parquet"]',
    },
}


def _tree(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        out[os.path.relpath(d, root)] = None
        for fn in files:
            with open(os.path.join(d, fn), "rb") as f:
                out[os.path.relpath(os.path.join(d, fn), root)] = f.read()
    return out


@pytest.mark.parametrize("layout", sorted(LEGACY_LAYOUTS))
def test_legacy_layout_is_refused(spark, tmp_path, layout):
    """A store dir without CURRENT that holds anything but uncommitted
    leftovers was written in an older layout: every read and every update
    raises one error naming the dir, and the dir is left byte-identical."""
    d = str(tmp_path / "store")
    _fill(d, LEGACY_LAYOUTS[layout])
    before = _tree(d)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, content string")
    tf = spark.createDataFrame([(1, "a", 1)], "doc_id long, term string, tf long")
    ds = doc_stats(tf)
    calls = [
        lambda: read_index(spark, d),
        lambda: read_index_meta(spark, d),
        lambda: write_index(build_postings(tf, CFG), ds, collection_stats(ds), d),
        lambda: read_served_index(spark, d),
        lambda: read_positions(spark, d),
        lambda: incremental_index_update(spark, str(tmp_path), d, CFG),
        lambda: write_positions(build_positions(docs), d),
        lambda: append_positions(spark, d, new_docs_corpus=docs),
        lambda: compact_positions(spark, d),
        lambda: delete_positions_docs(spark, d, [1]),
    ]
    for call in calls:
        with pytest.raises(manifest.SnapshotStoreError, match=re.escape(d)):
            call()
    assert _tree(d) == before


def test_write_index_crash_between_data_writes(spark, tmp_path, monkeypatch):
    """write_index over a committed store that dies after staging its index
    but before its doc_stats leaves read_index on the previous complete
    snapshot; the next write_index commits over the leftovers."""
    from pyspark.sql.readwriter import DataFrameWriter

    store = str(tmp_path / "store")

    def write(names):
        tf = tokenize_tf(_docs(spark, names))
        ds = doc_stats(tf)
        write_index(build_postings(tf, CFG), ds, collection_stats(ds), store)

    def stored():
        idx, ds, cs = read_index(spark, store)
        rows = {r["term"]: (r["df"], bytes(r["postings"])) for r in idx.collect()}
        return rows, ds.count(), cs.collect()[0]["n_docs"]

    write(["a"])
    before = stored()
    real_parquet = DataFrameWriter.parquet

    def die_on_doc_stats(self, path, *a, **k):
        if path.endswith("doc_stats"):
            _die()
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", die_on_doc_stats)
    with pytest.raises(OSError, match="injected crash"):
        write(["a", "b"])
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(store, "_staging_v000002", "index"))
    assert os.path.basename(manifest.current(store)) == "v000001"
    assert stored() == before == (_IndexStore(spark, tmp_path).one_shot(["a"]), 40, 40)

    write(["a", "b"])
    assert stored()[1:] == (80, 80)
    assert sorted(os.listdir(store)) == ["CURRENT", "v000001", "v000002"]
