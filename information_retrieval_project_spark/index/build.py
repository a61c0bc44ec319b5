"""Inverted-index build: corpus → postings + stats, Spark-first.

Dataflow (SURVEY.md §3.2; replaces the reference's per-query TfidfVectorizer
refit, data_manager.py:122-123, with a build-once index):

  scan (repo,path,commit,lang,content)
    → doc_id = xxhash64(repo,path,commit), content_sha = sha2(content,256)
    → mapInArrow tokenize+count   ···· (doc_id, term, tf) with NO (doc,term)
      shuffle: tf is finished inside the Arrow batch (map-side complete)
    → doc_stats  = groupBy(doc_id).sum(tf)           [hash agg, AQE coalesce]
    → df per term= groupBy(term).count()             [partial+final agg —
      skew-safe: map-side partial bounds hot-term rows at one per task]
    → posting build, merged layout (default): ONE shuffle,
      groupBy(term) → array_sort(collect_list(struct(doc_id, tf))); a
      term's whole list is one row either way, so it is grouped once
    → posting build, segmented layout only (segment_hot_terms=True): SALTED —
      hot terms (df > hot_df_threshold, from a sampled pass) are split into
      pmod(xxhash64(doc_id), n_salts) runs, each a JVM-sorted (doc_id, tf)
      row of its own, so no group or row exceeds ~docs_per_salt postings.
      This is the explicit skew handling required by BASELINE.json
      north_rule (AQE skew-join covers joins, not groupBy hot keys —
      SURVEY.md §4.2).
    → one arrow_udf encodes every posting list of an Arrow batch at once
      (codec.encode_posting_lists: delta+varbyte, per-block max tf)
    → index(term, df, max_tf, postings:binary, bm_tfs:binary)
    → collection_stats(n_docs, avgdl, total_terms)
    → write_index: one snapshot of the store (index/manifest.py), the index
      term-bucketed, doc_stats beside it, the collection stats in state.json

All row-wise compute is vectorized pandas/Arrow (input_hint rule).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

import numpy as np
import pyarrow as pa  # module scope: arrow_udf resolves its string annotations here
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textnorm import Analyzer, analyze
from . import manifest
from .bucketing import write_bucketed
from .codec import encode_posting_lists

TF_SCHEMA = "doc_id long, term string, tf long"
TF_POS_SCHEMA = f"{TF_SCHEMA}, positions array<int>"

# committed in every index snapshot's state.json; a snapshot of another
# format is refused, not misread. v2: index rows carry no bm_docs column.
# v3: state.json records the analyzer the index was tokenized with.
INDEX_FORMAT = "postings-v3"


def with_doc_id(corpus: DataFrame) -> DataFrame:
    """Stable 64-bit doc id + the per-row content invariant column.

    doc_id = xxhash64(repo,path,commit) (SURVEY.md §7.0); content_sha is the
    sha256 invariant from BASELINE.json input_hint, checked in tests.
    """
    return corpus.withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).withColumn("content_sha", F.sha2("content", 256))


def _tokenize_arrow(analyzer: Analyzer, positions: bool, batches):
    """The one tokenize kernel, the mapInArrow body of tokenize_tf
    (positions=False → TF_SCHEMA) and tokenize_tf_positions (positions=True
    → TF_POS_SCHEMA): textnorm.analyze, then the per-doc term counts or
    positions. Module level, so the UDF is pickled by reference:
    unpickling it imports the package on the worker, which installs
    zipguard for the worker's later tasks (a nested closure would be
    pickled by value and import nothing of the package)."""
    # Spark owns parallelism: one Arrow CPU thread per task worker.
    # Arrow's default pool is os.cpu_count() wide, so every task
    # would otherwise fan out machine-wide — oversubscribing the
    # executor and silently breaking task-level scaling measurements.
    pa.set_cpu_count(1)

    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        toks = analyze(tbl["content"].combine_chunks(), analyzer)
        flat = pc.list_flatten(toks)
        parents = pc.list_parent_indices(toks)
        doc_ids = pc.take(tbl["doc_id"].combine_chunks(), parents)
        keep = pc.not_equal(flat, "")
        t = pa.table({"doc_id": doc_ids, "term": flat}).filter(keep)
        if not positions:
            agg = t.group_by(["doc_id", "term"]).aggregate([([], "count_all")])
            yield from agg.rename_columns(["doc_id", "term", "tf"]).to_batches()
            continue
        # a token's position is its index among its row's kept tokens: the
        # row indices ascend, so a row's first token sits at searchsorted
        row = parents.filter(keep).to_numpy()
        pos = np.arange(row.size, dtype=np.int32) - np.searchsorted(row, row)
        t = t.append_column("pos", pa.array(pos, pa.int32()))
        # single-threaded, so each list keeps its tokens' (ascending) order
        agg = t.group_by(["doc_id", "term"], use_threads=False).aggregate(
            [("pos", "list")]
        )
        tf = pc.list_value_length(agg["pos_list"]).cast(pa.int64())
        out = pa.table(
            [agg["doc_id"], agg["term"], tf, agg["pos_list"]],
            names=["doc_id", "term", "tf", "positions"],
        )
        yield from out.to_batches()


def tokenize_tf(
    corpus_with_id: DataFrame,
    strategy: str = "code",
    stem: bool = False,
    stopwords: bool = False,
) -> DataFrame:
    """(doc_id, content) → (doc_id, term, tf), tf finished inside the batch.

    One mapInArrow: textnorm.analyze under the analyzer (strategy, stem,
    stopwords), the tokenizer of queries and the oracle too, then an Acero
    hash group_by; tokenize_tf_positions runs the same kernel. Measured
    ladder at 600k docs, local[8] (BENCH notes): native explode+groupBy
    slowest, a pandas regex pass 16.0 s, Arrow kernels 5.96 s (strong-scaling
    ~0.76/stage against pandas' ~0.45). The (doc_id, term) reduction
    finishes inside the batch, so the only downstream shuffles are the slim
    tf triples."""
    return corpus_with_id.select("doc_id", "content").mapInArrow(
        partial(_tokenize_arrow, Analyzer(strategy, stem, stopwords), False),
        TF_SCHEMA,
    )


def tokenize_tf_positions(
    corpus_with_id: DataFrame,
    strategy: str = "code",
    stem: bool = False,
    stopwords: bool = False,
) -> DataFrame:
    """(doc_id, content) → (doc_id, term, tf, positions array<int>): one
    shuffle-free mapInArrow over tokenize_tf's kernel (a doc's positions all
    live in its one content row). Each list holds the term's ascending
    indices among the doc's kept terms and tf is its length;
    build_index(positions=True) derives tf and positions from this pass."""
    return corpus_with_id.select("doc_id", "content").mapInArrow(
        partial(_tokenize_arrow, Analyzer(strategy, stem, stopwords), True),
        TF_POS_SCHEMA,
    )


def doc_stats(tf_df: DataFrame) -> DataFrame:
    return tf_df.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


def collection_stats(doc_stats_df: DataFrame) -> DataFrame:
    return doc_stats_df.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_terms"),
    )


@dataclass(frozen=True)
class BuildConfig:
    # hot_df_threshold, docs_per_salt and hot_detection_sample affect only
    # segment_hot_terms=True: the merged layout neither salts nor samples.
    hot_df_threshold: int = 100_000   # postings longer than this get salted
    docs_per_salt: int = 50_000       # target run length per salted sub-group
    # heavy-hitter detection runs on a sample (classic sketch-style
    # detection): a term missed near the threshold just takes the 1-salt
    # path — salting is a memory-bound mechanism, never a correctness one,
    # and the sampled pass is ~1/sample_rate cheaper than a full df agg.
    hot_detection_sample: float = 0.02
    # segment_hot_terms=True salts hot terms and keeps each salted run as
    # its OWN index row (term, segment, postings) instead of one row per
    # term — bounding every Arrow row/array by docs_per_salt. Required at true
    # 10^12-file scale where one hot term's full posting list cannot live in
    # a single row; df on every segment row is the TERM-TOTAL df so idf is
    # computable from any segment. Query paths sum per-doc contributions
    # across segments (each doc lives in exactly one segment).
    segment_hot_terms: bool = False
    strategy: str = "code"
    stem: bool = False
    stopwords: bool = False

    @property
    def analyzer(self) -> Analyzer:
        return Analyzer(self.strategy, self.stem, self.stopwords)


def _encode_pairs_udf():
    """Arrow UDF: array<struct<doc_id, tf>> sorted by doc_id → struct of
    encoded postings + block-max metadata. The list offsets and flattened
    values go straight to numpy and the whole batch is encoded in one
    encode_posting_lists call: no pandas Series of per-term arrays and no
    per-term Python loop (that loop was most of the build's encode stage)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("postings binary, bm_tfs binary")
    def encode(pairs: pa.Array) -> pa.Array:
        doc_ids, tfs = pairs.flatten().flatten()
        return pa.StructArray.from_arrays(
            encode_posting_lists(pairs.offsets, doc_ids, tfs),
            names=["postings", "bm_tfs"],
        )

    return encode


def detect_hot_terms(
    tf_df: DataFrame, cfg: BuildConfig, scale: float | None = None
) -> DataFrame:
    """(term, n_salts) for terms whose estimated df exceeds the threshold.

    Sampled heavy-hitter detection (classic sketch-style): a term missed near
    the threshold just takes the 1-salt path — salting is a memory-bound
    mechanism, never a correctness one.

    scale: when tf_df is ALREADY a sample of the corpus, pass its sampling
    fraction so counts are scaled up (count/scale) instead of re-sampling;
    when None, cfg.hot_detection_sample row-samples tf_df here."""
    if scale is None:
        sample = cfg.hot_detection_sample
        if 0 < sample < 1:
            tf_df = tf_df.sample(fraction=sample, seed=42)
            scale = sample
        else:
            scale = 1.0
    df_est = tf_df.groupBy("term").agg((F.count("*") / scale).alias("df"))
    return (
        df_est.filter(F.col("df") > cfg.hot_df_threshold)
        .withColumn(
            "n_salts",
            F.greatest(
                F.lit(2), F.ceil(F.col("df") / cfg.docs_per_salt).cast("int")
            ),
        )
        .select("term", "n_salts")
    )


def build_postings(
    tf_df: DataFrame,
    cfg: BuildConfig = BuildConfig(),
    hot: DataFrame | None = None,
) -> DataFrame:
    """tf triples → compressed index: one JVM-sorted (doc_id, tf) array per
    index row, encoded by one Arrow pass.

    Merged layout (the default): one row per term, built by ONE shuffle —
    groupBy(term) with a map-side partial collect_list, then array_sort.
    The whole list of a term is one row in one task however it is grouped,
    so salting would only add a hot-term join and a second shuffle of every
    posting array; `hot` is accepted and unused here.

    Segmented layout (cfg.segment_hot_terms): the explicit skew handling.
    Hot terms (df > hot_df_threshold) are salted into
    pmod(xxhash64(doc_id), n_salts) runs of ~docs_per_salt postings, and
    each run stays its own (term, segment) row, so no group or Arrow row
    holds a hot term's whole list. df on every segment row is the term
    total, a window sum over its segments. hot: optional precomputed
    (term, n_salts) — build_index passes a corpus-sample estimate so the
    broadcast pre-job doesn't force a full tokenize pass before the main
    build starts (VERDICT r1: the detection job was the build's fixed
    serial share); None detects on tf_df.
    """
    pairs = F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias("pairs")
    if cfg.segment_hot_terms:
        if hot is None:
            hot = detect_hot_terms(tf_df, cfg)
        salt = F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.xxhash64("doc_id"), F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0))
        runs = (
            tf_df.join(F.broadcast(hot), "term", "left")
            .groupBy("term", salt.alias("segment"))
            .agg(pairs)
        )
        keys = ["term", "segment"]
        term_df = F.sum(F.size("pairs")).over(Window.partitionBy("term"))
    else:
        runs = tf_df.groupBy("term").agg(pairs)
        keys = ["term"]
        term_df = F.size("pairs")
    enc = _encode_pairs_udf()
    return runs.select(
        *keys,
        term_df.alias("df"),
        F.array_max(F.col("pairs").getField("tf")).alias("max_tf"),
        enc(F.col("pairs")).alias("_enc"),
    ).select(
        *keys,
        "df",
        "max_tf",
        F.col("_enc.postings").alias("postings"),
        F.col("_enc.bm_tfs").alias("bm_tfs"),
    )


def build_index(
    corpus: DataFrame,
    cfg: BuildConfig = BuildConfig(),
    cache: bool = True,
    positions: bool = False,
) -> tuple[DataFrame, ...]:
    """Full build. Returns (index, doc_stats, collection_stats), plus the
    positional index (term, doc_id, n_occ, positions array<int>) as a 4th
    element when positions=True.

    tf is persisted by default: three downstream consumers (doc_stats,
    collection_stats, postings) would otherwise each re-tokenize the corpus.
    On a cluster build this materialization is the tf-unit parquet write of
    pipelines/lineage.py; in-memory persist is the single-job equivalent.

    The sampled hot-term pass (detect_hot_terms over a tokenized doc
    sample) runs only for cfg.segment_hot_terms, the layout that salts; the
    merged layout is one tokenize and one postings shuffle.

    positions=True (VERDICT r3 #4): ONE tokenize pass
    (tokenize_tf_positions, tokenize_tf's kernel) emits (doc_id, term, tf,
    positions) — tf and the positional index are projections of the same
    materialized relation, so an index+positions deployment scans and
    tokenizes the corpus ONCE, and its tf equals positions=False's for
    every analyzer, parity mode included."""
    ids = with_doc_id(corpus)
    pos_idx = None
    if positions:
        fused = tokenize_tf_positions(ids, *cfg.analyzer)
        if cache:
            fused = fused.persist()
        tf_df = fused.select("doc_id", "term", "tf")
        pos_idx = fused.select(
            "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
        )
    else:
        tf_df = tokenize_tf(ids, *cfg.analyzer)
        if cache:
            tf_df = tf_df.persist()
    ds = doc_stats(tf_df)
    cs = collection_stats(ds)
    # Segmented layout only: hot-term detection from a DOC sample of the
    # corpus, not from tf_df. Sampling tf_df would force the broadcast
    # pre-job to tokenize the whole corpus before the main build starts (it
    # was the build's fixed serial share); tokenizing hot_detection_sample
    # of the docs costs ~1/sample of that. Per-doc (term, doc) pair counts /
    # sample is the same unbiased df estimator either way.
    hot = None
    sample = cfg.hot_detection_sample
    if cfg.segment_hot_terms and 0 < sample < 1:
        sampled_tf = tokenize_tf(
            ids.sample(fraction=sample, seed=42), *cfg.analyzer
        )
        hot = detect_hot_terms(sampled_tf, cfg, scale=sample)
    idx = build_postings(tf_df, cfg, hot=hot)
    if positions:
        return idx, ds, cs, pos_idx
    return idx, ds, cs


def write_index(
    idx: DataFrame,
    ds: DataFrame,
    cs: DataFrame,
    out_dir: str,
    term_buckets: int = 32,
    state: dict | None = None,
    analyzer: Analyzer = Analyzer(),
) -> str:
    """Commit (index, doc_stats, collection_stats) as the next snapshot of
    the store at out_dir (index/manifest.py); returns its name. The index is
    term-bucketed (index/bucketing.py) so query-time term lookups prune
    partitions (SURVEY.md §4.2). One state.json holds the format, the
    modulus, the analyzer idx was tokenized with, the one-row cs collected
    on the driver, each relation's schema and the caller's `state`. Queries
    must hash terms with the SAME modulus or pruning silently drops valid
    postings (ADVICE r1): it commits with the data, so nothing pairs an
    index with another modulus or stats."""
    manifest.committed(out_dir, INDEX_FORMAT, required=False)
    staging = manifest.begin(out_dir)
    write_bucketed(idx, os.path.join(staging, "index"), term_buckets)
    ds.write.parquet(os.path.join(staging, "doc_stats"))
    stats = cs.collect()[0]
    return manifest.commit(
        out_dir,
        staging,
        {
            **(state or {}),
            "index_format": INDEX_FORMAT,
            "term_buckets": int(term_buckets),
            "analyzer": analyzer._asdict(),
            "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"],
            "total_terms": stats["total_terms"],
            "schemas": {
                "index": f"{_ddl(idx)}, term_bucket int",
                "doc_stats": _ddl(ds),
            },
        },
    )


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)


def read_index_meta(spark: SparkSession, out_dir: str) -> dict:
    """The committed snapshot's state.json (term_buckets, index_format,
    the analyzer as a textnorm.Analyzer, collection stats, schemas, caller
    state), read on the driver: no Spark job. Raises SnapshotStoreError
    naming the dir for any other layout."""
    return manifest.committed(out_dir, INDEX_FORMAT)[1]


def read_index(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(index, doc_stats, collection_stats) of the committed snapshot of
    the store at out_dir, the one reader of what write_index commits. Both
    relations are read with the schemas recorded in state.json and the
    stats come from it as a JVM-local one-row relation: no Spark job.
    Raises SnapshotStoreError naming the dir for the four-dir layout
    written before snapshots and for a snapshot of another format."""
    from ..queryexec.bm25 import local_relation

    snap, state = manifest.committed(out_dir, INDEX_FORMAT)
    idx, ds = (
        spark.read.schema(state["schemas"][name]).parquet(os.path.join(snap, name))
        for name in ("index", "doc_stats")
    )
    stats = [(state["n_docs"], state["avgdl"], state["total_terms"])]
    cs_schema = "n_docs long, avgdl double, total_terms long"
    return idx, ds, local_relation(spark, stats, cs_schema)
