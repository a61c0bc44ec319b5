"""zipguard: a process re-reads a zip on its sys.path only when the zip
changed, however often importlib.invalidate_caches() runs (pyspark's worker
runs it at the start of every task)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from information_retrieval_project_spark import zipguard


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path, forgotten by every import cache afterwards."""
    path = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewrite_is(archive, monkeypatch):
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    import zg_mod_a

    assert zg_mod_a.X == 1
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: (reads.append(p), read(p))[1]
    )
    importlib.invalidate_caches()  # the first call may read
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive (new size) is re-read: its new module imports
    _write_zip(archive, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    import zg_mod_b

    assert zg_mod_b.Y == 2


def test_worker_keeps_the_guard_after_a_package_udf(spark):
    """Python workers that have run a package UDF (the build's tokenize,
    whose unpickling imports the package) report, from inside a later task
    whose function does not import the package, that their zip importers
    refresh stat-gated (on Python < 3.12; later Pythons refresh lazily and
    keep their own method)."""
    from information_retrieval_project_spark.index.build import tokenize_tf

    docs = spark.createDataFrame(
        [(i, f"def f{i}(x): return x") for i in range(64)],
        "doc_id long, content string",
    )
    # one tokenize task per partition: enough tasks to pass through every
    # idle worker of the pool, so the report below meets package workers
    assert len(tokenize_tf(docs.repartition(16)).collect()) == 64 * 4

    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "loaded": ["information_retrieval_project_spark" in sys.modules],
            "guarded": [
                getattr(method, "__module__", None)
                == "information_retrieval_project_spark.zipguard"
            ],
        })

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(report, "loaded boolean, guarded boolean")
        .collect()
    )
    seen = [r["guarded"] for r in rows if r["loaded"]]
    assert seen, rows
    assert seen == [zipguard._ACTIVE] * len(seen), rows
