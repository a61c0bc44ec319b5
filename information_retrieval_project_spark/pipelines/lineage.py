"""Checkpoint-resumable index build with per-partition lineage + metrics.

north_rule requirement: the build must be resumable from checkpoint with
per-partition lineage and index-throughput metrics. Design (SURVEY.md §4.2,
§7.1 M5):

- The corpus is split into BUILD UNITS by a stable hash of the row key
  (pmod(xxhash64(repo, path), n_units)) — a deterministic, data-independent
  partitioning, so a resumed run sees exactly the same units.
- Each unit's tokenize→tf stage is written to its own parquet directory via
  an ATOMIC commit: write to `_tmp_unit=<i>`, then rename to `unit=<i>`.
  Spark task retries inside the unit are already safe (parquet job commit);
  the rename makes the *unit* commit atomic against driver crashes.
- A lineage manifest (JSON lines, one per unit) records an input fingerprint
  (order-independent bit_xor of xxhash64(repo,path,commit,content) plus the
  row count), row/term counts, wall time, and throughput — append-only,
  written after the rename, so `manifest ⊆ committed units` always holds.
- Resume = skip units whose manifest fingerprint matches the CURRENT input
  (one slim groupBy(build_unit) hash pass recomputes all unit fingerprints);
  units built from since-changed input are invalidated and rebuilt
  (ADVICE r1). The final posting build reads all unit outputs (a plain
  parquet scan) and commits `out_dir/index_store` with write_index.

At cluster scale each unit is a chunk of input partitions, the manifest
lives on the object store, and Iceberg snapshot commits would replace the
unit rename — same protocol, same idempotence argument.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import manifest
from ..index.build import (
    INDEX_FORMAT,
    BuildConfig,
    build_postings,
    collection_stats,
    doc_stats,
    tokenize_tf,
    with_doc_id,
    write_index,
)


@dataclass
class UnitMetric:
    unit: int
    n_docs: int
    n_tf_rows: int
    seconds: float
    docs_per_sec: float


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage_manifest.jsonl")


def load_manifest(out_dir: str) -> dict[int, dict]:
    path = _manifest_path(out_dir)
    done: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    done[rec["unit"]] = rec
    return done


def resumable_build(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_units: int = 8,
    cfg: BuildConfig = BuildConfig(),
    fail_after_units: int | None = None,
) -> list[UnitMetric]:
    """Tokenize the corpus unit-by-unit with checkpoint/resume; then build the
    final index from the committed units. Returns per-unit metrics for the
    units processed in THIS invocation (resumed units are skipped).

    fail_after_units: test hook — raise after N unit commits to simulate a
    mid-build crash.
    """
    os.makedirs(out_dir, exist_ok=True)
    tf_root = os.path.join(out_dir, "tf_units")
    os.makedirs(tf_root, exist_ok=True)
    done = load_manifest(out_dir)
    ids = with_doc_id(corpus).withColumn(
        "build_unit", F.pmod(F.xxhash64("repo", "path"), F.lit(n_units))
    )
    # One slim pass computes every unit's input fingerprint: row count +
    # order-independent bit_xor of the full-row hash. A manifest entry only
    # skips its unit if the fingerprint still matches — a resumed run against
    # changed input (or another analyzer) rebuilds the stale units instead.
    analyzer = cfg.analyzer._asdict()
    fps = {
        r["build_unit"]: (r["n"], r["fp"])
        for r in ids.groupBy("build_unit")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor(
                F.xxhash64("repo", "path", "commit", "content")
            ).alias("fp"),
        )
        .collect()
    }
    metrics: list[UnitMetric] = []
    processed = 0
    for unit in range(n_units):
        n_docs, input_fp = fps.get(unit, (0, 0))
        prev = done.get(unit)
        if (
            prev is not None
            and prev.get("input_fp") == input_fp
            and prev.get("n_docs") == n_docs
            and prev.get("analyzer") == analyzer
        ):
            continue
        t0 = time.time()
        part = ids.filter(F.col("build_unit") == unit)
        tf_df = tokenize_tf(part, *cfg.analyzer)
        tmp = os.path.join(tf_root, f"_tmp_unit={unit}")
        final = os.path.join(tf_root, f"unit={unit}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # leftovers from a crashed attempt
        tf_df.write.mode("overwrite").parquet(tmp)
        n_tf = spark.read.parquet(tmp).count()
        if os.path.exists(final):
            shutil.rmtree(final)  # uncommitted (not in manifest) → replace
        os.rename(tmp, final)  # atomic unit commit
        dt = time.time() - t0
        m = UnitMetric(unit, n_docs, n_tf, dt, n_docs / dt if dt > 0 else 0.0)
        with open(_manifest_path(out_dir), "a") as f:
            f.write(
                json.dumps(
                    {
                        "unit": unit,
                        "input_fp": input_fp,
                        "n_docs": m.n_docs,
                        "analyzer": analyzer,
                        "n_tf_rows": m.n_tf_rows,
                        "seconds": round(m.seconds, 3),
                        "docs_per_sec": round(m.docs_per_sec, 2),
                        "ts": time.time(),
                    }
                )
                + "\n"
            )
        metrics.append(m)
        processed += 1
        if fail_after_units is not None and processed >= fail_after_units:
            raise RuntimeError(f"simulated crash after {processed} units")
    return metrics


def finalize_index(
    spark: SparkSession, out_dir: str, cfg: BuildConfig = BuildConfig()
) -> str:
    """Build postings + stats from all committed units and commit them as
    the next snapshot of the index store at out_dir/index_store (read it
    with index/build.read_index); returns the committed snapshot's name.
    The snapshot's state records each unit's (input_fp, n_docs) and the
    build config: when the committed snapshot already records the same,
    nothing is read or committed (a resumed run that built no unit is a
    true no-op). It commits cfg's analyzer: a unit recorded under another
    is refused, naming out_dir."""
    store = os.path.join(out_dir, "index_store")
    units = load_manifest(out_dir).values()
    if any(r.get("analyzer") != cfg.analyzer._asdict() for r in units):
        raise ValueError(f"units of {out_dir} are not all {cfg.analyzer}")
    built = {
        "units": sorted([r["unit"], r["input_fp"], r["n_docs"]] for r in units),
        "build_config": asdict(cfg),
    }
    cur = manifest.committed(store, INDEX_FORMAT, required=False)
    if cur is not None and all(cur[1].get(k) == v for k, v in built.items()):
        return os.path.basename(cur[0])
    tf_df = spark.read.parquet(os.path.join(out_dir, "tf_units"))
    tf_df = tf_df.select("doc_id", "term", "tf")
    ds = doc_stats(tf_df)
    return write_index(
        build_postings(tf_df, cfg), ds, collection_stats(ds), store,
        state=built, analyzer=cfg.analyzer,
    )
