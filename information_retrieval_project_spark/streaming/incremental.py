"""Structured Streaming: incremental index ingest and served-index updates.

The reference is strictly batch (SURVEY.md §2.9), so streaming here is the
documented upgrade path, not parity: Trigger.AvailableNow + foreachBatch
drives the SAME batch build function (index/build.tokenize_tf) over newly
arrived corpus files, with Spark's checkpoint giving exactly-once file-source
progress on top of the build's own lineage manifest.

At cluster scale the file source becomes an Iceberg/Kafka source and
foreachBatch appends tf-unit partitions exactly like pipelines/lineage.py —
the batch and streaming ingest paths share one implementation.
"""

from __future__ import annotations

import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textnorm import Analyzer
from ..index import manifest
from ..index.build import (
    INDEX_FORMAT,
    BuildConfig,
    build_postings,
    read_index,
    tokenize_tf,
    with_doc_id,
)
from ..index.positions import POSITIONS_FORMAT

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def incremental_tf_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Consume all currently-available corpus parquet files and append their
    (doc_id, term, tf) rows, tokenized with Analyzer(), to out_dir.
    Re-running after new files arrive processes ONLY the new files
    (file-source checkpoint). Blocks until the AvailableNow trigger drains."""
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tf = tokenize_tf(with_doc_id(batch_df))
        tf.write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# the serving handle of an index store is index/build.read_index
read_served_index = read_index


def _incorporated(committed: tuple[str, dict] | None) -> set[str]:
    """Input files a committed snapshot (manifest.committed) already holds."""
    return set(committed[1].get("incorporated", ())) if committed else set()


def incremental_index_update(
    spark: SparkSession,
    tf_dir: str,
    out_dir: str,
    cfg: BuildConfig = BuildConfig(),
) -> dict:
    """Maintain a SERVED index over the append-only tf stream: merge only the
    tf part-files that arrived since the last update into the stored index
    (index/merge.merge_index — untouched terms pass through byte-identical,
    no re-encode), instead of rebuilding from all of history. doc_stats and
    collection_stats are maintained alongside; read_index(out_dir) is
    directly servable by queryexec after every update.

    Crash idempotence (the merge is ADDITIVE — re-applying a delta would SUM
    tf into existing postings — so state and data must commit together):
    every update commits a complete term-bucketed snapshot through
    index/build.write_index, at the committed modulus and with the
    incorporated files in its state.json. A crash at any point leaves CURRENT on the
    previous complete snapshot, and the next run re-merges the same new
    files against the unchanged base. The previous snapshot survives one
    update, so in-flight readers pinned to it keep their files.
    Append-only: re-ingesting a document would sum its tf into existing
    postings; dedupe upstream. The tf files are Analyzer()'s (the ingest's
    one): a cfg or committed store of another is refused, naming the dir."""
    if cfg.analyzer != Analyzer():
        raise ValueError(f"the tf files in {tf_dir} are {Analyzer()}, not {cfg.analyzer}")
    cur = manifest.committed(out_dir, INDEX_FORMAT, required=False, analyzer=Analyzer())
    incorporated = _incorporated(cur)
    files = sorted(glob(os.path.join(tf_dir, "*.parquet")))
    new = [f for f in files if os.path.basename(f) not in incorporated]
    if not new:
        return {
            "mode": "noop",
            "new_files": 0,
            "snapshot": os.path.basename(cur[0]) if cur else None,
        }
    return _apply_index_delta(
        spark,
        spark.read.parquet(*new),
        out_dir,
        cur,
        incorporated | {os.path.basename(f) for f in new},
        len(new),
        cfg,
    )


def _apply_index_delta(
    spark: SparkSession,
    delta_tf: DataFrame,
    out_dir: str,
    cur: tuple[str, dict] | None,
    incorporated: set[str],
    n_new: int,
    cfg: BuildConfig,
) -> dict:
    """The merge + snapshot-commit core of incremental_index_update, with
    the delta already materialized as a tf relation — shared by the
    file-driven entry point above and by incremental_corpus_update (whose
    delta comes from ONE fused tokenize pass feeding this index AND the
    positional store). cur: manifest.committed() of out_dir. The update
    is written at the committed modulus."""
    from ..index.build import collection_stats, doc_stats, write_index

    delta_idx = build_postings(delta_tf, cfg)
    delta_ds = doc_stats(delta_tf)
    if cur:
        from ..index.merge import merge_doc_stats, merge_index

        base_idx, base_ds, _ = read_index(spark, out_dir)
        merged = merge_index(base_idx, delta_idx)
        ds = merge_doc_stats(base_ds, delta_ds)
        mode, layout = "merged", {"term_buckets": cur[1]["term_buckets"]}
    else:
        merged, ds, mode, layout = delta_idx, delta_ds, "initial", {}
    name = write_index(
        merged, ds, collection_stats(ds), out_dir,
        state={"incorporated": sorted(incorporated)}, analyzer=cfg.analyzer, **layout,
    )
    return {"mode": mode, "new_files": n_new, "snapshot": name}


def incremental_corpus_update(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    cfg: BuildConfig = BuildConfig(),
) -> dict:
    """Maintain BOTH servable stores from the corpus itself: the merged
    postings index (incremental_index_update's snapshot protocol, under
    out_dir/index_store) AND the positional index
    (index/positions.append_positions, under out_dir/positions_store) —
    with the dominant tokenize cost paid ONCE per new-file batch via the
    fused tokenize_tf_positions pass (the maintenance-path form of
    build_index(positions=True): at 100 TB the corpus scan is the build,
    so a deployment serving BM25 + phrase/proximity must not scan twice).

    Each store commits its own incorporated-file list atomically WITH its
    snapshot (in the snapshot's state.json). The two commits are
    sequential, not transactional: a crash between them leaves the index
    store one batch ahead, and the next run CATCHES THE LAGGING STORE UP
    with its own scan of exactly the missed files — each store converges
    independently and append-only idempotence holds per store. Corpus
    files are append-only immutable batches (the file-source contract of
    incremental_tf_ingest); re-writing an already-incorporated file is
    NOT detected (same rule as incremental_index_update: dedupe upstream).
    Deltas are tokenized with cfg.analyzer; a store committed with another
    is refused, naming its dir, before anything is tokenized or committed.
    """
    from ..index.build import tokenize_tf_positions, with_doc_id
    from ..index.positions import append_positions

    idx_dir = os.path.join(out_dir, "index_store")
    pos_dir = os.path.join(out_dir, "positions_store")
    files = sorted(glob(os.path.join(corpus_dir, "*.parquet")))

    analyzer = cfg.analyzer
    cur = manifest.committed(idx_dir, INDEX_FORMAT, required=False, analyzer=analyzer)
    inc_idx = _incorporated(cur)
    inc_pos = _incorporated(
        manifest.committed(pos_dir, POSITIONS_FORMAT, required=False, analyzer=analyzer)
    )

    new_idx = [f for f in files if os.path.basename(f) not in inc_idx]
    new_pos = [f for f in files if os.path.basename(f) not in inc_pos]
    if not new_idx and not new_pos:
        return {"mode": "noop", "new_files": 0}

    out: dict = {}
    if new_idx and set(new_idx) == set(new_pos):
        # the common path: ONE fused pass feeds both deltas; persisted so
        # the index branch (postings + stats) and the positions branch
        # don't each re-tokenize
        corpus = with_doc_id(spark.read.parquet(*new_idx))
        fused = tokenize_tf_positions(corpus, *analyzer).persist()
        try:
            tf_delta = fused.select("doc_id", "term", "tf")
            pos_delta = fused.select(
                "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
            )
            names = {os.path.basename(f) for f in new_idx}
            out["index"] = _apply_index_delta(
                spark, tf_delta, idx_dir, cur, inc_idx | names,
                len(new_idx), cfg,
            )
            out["positions"] = append_positions(
                spark,
                pos_dir,
                delta_positions=pos_delta,
                state={"incorporated": sorted(inc_pos | names)},
                analyzer=analyzer,
            )
        finally:
            # a failure between the two commits must not leave the full
            # tokenized corpus cached for the session lifetime
            fused.unpersist()
        out["mode"] = "fused"
        return out
    # catch-up path (after a crash between the two commits): each lagging
    # store scans exactly its own missed files
    if new_idx:
        names = {os.path.basename(f) for f in new_idx}
        tf_delta = tokenize_tf(with_doc_id(spark.read.parquet(*new_idx)), *analyzer)
        out["index"] = _apply_index_delta(
            spark, tf_delta, idx_dir, cur, inc_idx | names, len(new_idx), cfg
        )
    if new_pos:
        names = {os.path.basename(f) for f in new_pos}
        out["positions"] = append_positions(
            spark,
            pos_dir,
            new_docs_corpus=with_doc_id(spark.read.parquet(*new_pos)),
            state={"incorporated": sorted(inc_pos | names)},
            analyzer=analyzer,
        )
    out["mode"] = "catchup"
    return out
