"""The benchmark workloads, run against the package's public functions.

Load is one client thread in a closed loop: the next operation starts when
the previous one (and its correctness check) has finished. Only operation
time counts toward the ``--seconds`` window; checks run outside it.

``build``: warm ``build_index`` + ``write_index`` of a seeded corpus. Set-up
is a fresh Spark session plus a scan of the corpus.
``serve``: rounds of single ``bm25_topk_compressed`` queries, one of each
length, and a 64-query set through ``bm25_topk_batch_compressed``, against
an index written by ``write_index`` once before set-up (its cost is what
``build`` measures).
Set-up is a fresh Spark session plus ``read_index`` + ``read_index_meta`` and
the collection stats the queries need.
In a traced run, ``build`` also times the build layer by layer and measures
1 -> 4 core scaling in fresh pinned processes, and ``serve`` also runs an
incremental-update probe (``incremental_corpus_update`` with queries through
``read_served_index``).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

from . import gen
from .env import start_session
from .procstat import bytes_written, dir_bytes, file_sizes
from .reference import Reference, topk_matches

K = 10
HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Sizes:
    build_docs: int = 3000
    serve_docs: int = 400
    files: int = 8
    vocab: int = 8000
    rare_share: float = 0.02
    query_pool: int = 256
    batch: int = 64
    setup_reps: int = 3
    warmup_ops: int = 2
    sample_terms: int = 200
    update_base_docs: int = 600
    update_delta_docs: int = 80
    update_deltas: int = 2
    update_queries: int = 2
    prune_probe_queries: int = 4
    scaling: bool = True
    scaling_docs: int = 1000


# seconds-scale inputs for the self-test
TINY = Sizes(
    build_docs=240,
    serve_docs=240,
    files=2,
    vocab=1500,
    query_pool=16,
    batch=8,
    setup_reps=1,
    warmup_ops=1,
    sample_terms=20,
    update_base_docs=80,
    update_delta_docs=20,
    update_deltas=1,
    update_queries=1,
    prune_probe_queries=1,
    scaling=False,
)


class Run:
    """State of one benchmark run: session, counters and reported metrics."""

    def __init__(self, work: str, seed: int, seconds: float, sizes: Sizes, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.mutate = None  # self-test hook: corrupts a result before its check
        self._t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.elapsed():7.1f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` operations attempted, all failed unless ``ok``."""
        self.attempted += n
        if not ok:
            self.failed += n
            print(f"FAILED: {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check outside the timed operations."""
        if not ok:
            self.checks_ok = False
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def check_topk(self, got: list[tuple[int, float]], scores: dict[int, float]) -> bool:
        if self.mutate is not None:
            got = self.mutate(got)
        return topk_matches(got, scores, K)

    def span(self, name: str, on: bool = True):
        if self.tracer is None or not on:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def start(self) -> None:
        """The first session start (JVM launch included): session.start_s."""
        if self.spark is None:
            t0 = time.perf_counter()
            self.spark = start_session()
            self.layers["session.start_s"] = time.perf_counter() - t0

    def setup(self, body) -> None:
        """Stop Spark, then time a fresh session plus ``body``: once untimed,
        then setup_reps times; setup_s is the median. The untimed first
        set-up absorbs the JVM's first run of the set-up code; stopping the
        previous session is teardown and is not timed (it varies by ~0.5 s)."""
        self.start()
        times = []
        for _ in range(1 + self.sizes.setup_reps):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session()
            body()
            times.append(time.perf_counter() - t0)
        times = times[1:]
        self.e2e["setup_s"] = statistics.median(times)
        self.log("set-up times: " + " ".join(f"{t:.3f}" for t in times))

    def loop(self, budget_s: float, op, min_ops: int = 2) -> None:
        """Closed loop: call ``op(i)`` until the operations' own time (its
        return value) reaches ``budget_s``, ``min_ops`` times at least (a
        median of one is a single sample, and a traced run alternates
        untraced and traced operations)."""
        spent, i, times = 0.0, 0, []
        while i < min_ops or spent < budget_s:
            t0 = time.perf_counter()
            try:
                dt = op(i)
            except Exception:  # a failed operation is counted, the run goes on
                traceback.print_exc()
                self.record(False, f"operation {i} raised")
                dt = time.perf_counter() - t0
            spent += dt
            times.append(dt)
            i += 1
        self.log(f"{i} operations: " + " ".join(f"{t:.3f}" for t in times))


def config_for(n_docs: int):
    """BuildConfig scaled so terms in more than a tenth of the docs take the
    salted hot-term path."""
    from information_retrieval_project_spark.index.build import BuildConfig

    return BuildConfig(hot_df_threshold=max(2, n_docs // 10), docs_per_salt=max(1, n_docs // 10))


def build_and_write(spark, corpus_dir: str, out_dir: str, cfg) -> None:
    from information_retrieval_project_spark.index.build import build_index, write_index

    idx, ds, cs = build_index(spark.read.parquet(corpus_dir), cfg)
    write_index(idx, ds, cs, out_dir)


def doc_ids(run: Run, path: str, batch: gen.Batch) -> list[int]:
    """Engine doc ids of ``batch`` in batch order, checking the per-row
    invariant sha256(content) == with_doc_id(...).content_sha."""
    from information_retrieval_project_spark.index.build import with_doc_id

    rows = (
        with_doc_id(run.spark.read.parquet(path))
        .select("path", "doc_id", "content_sha")
        .collect()
    )
    by_path = {r["path"]: (r["doc_id"], r["content_sha"]) for r in rows}
    run.check(len(rows) == len(batch) == len(by_path), f"row count of {path}")
    bad = sum(
        by_path.get(p, (0, ""))[1] != gen.sha256_hex(c)
        for p, c in zip(batch.path, batch.content)
    )
    run.check(bad == 0, f"sha256 invariant: {bad} rows differ in {path}")
    ids = [by_path.get(p, (0, ""))[0] for p in batch.path]
    run.check(len(set(ids)) == len(ids), "doc ids are unique")
    return ids


def oracle_cross_check(run: Run, batch: gen.Batch, queries: list[list[str]]) -> None:
    """The reference scorer agrees with the package's pure-Python oracle on
    a small corpus (first 40 docs)."""
    from information_retrieval_project_spark.oracle.oracle import oracle_bm25_topk

    n = min(40, len(batch))
    ref = Reference()
    ref.add(range(n), batch.tokens[:n])
    docs = dict(enumerate(batch.content[:n]))
    for q in queries[:5]:
        got = oracle_bm25_topk(docs, " ".join(q), k=K)
        run.check(topk_matches(got, ref.scores(q), K), f"reference vs oracle on {q}")


def sample_terms(run: Run, ref: Reference) -> list[str]:
    """A fixed, seeded sample of indexed terms: the hot head plus random ones."""
    terms = ref.terms()
    rng = np.random.default_rng([run.seed, 7])
    pick = rng.choice(len(terms), size=min(run.sizes.sample_terms, len(terms)), replace=False)
    hot = [t for t in gen.HOT_WORDS[:10] if ref.df(t)]
    return sorted(set(hot) | {terms[i] for i in pick})


def verify_index(run: Run, out_dir: str, ref: Reference, terms: list[str]):
    """Stored stats equal the reference's, the index has one row per term,
    and the sampled posting lists decode to exactly the reference postings.
    Returns (ok, sampled rows)."""
    from pyspark.sql import functions as F

    from information_retrieval_project_spark.index.build import read_index
    from information_retrieval_project_spark.index.codec import decode_postings

    idx, ds, cs = read_index(run.spark, out_dir)
    c = cs.collect()[0]
    ok = c["n_docs"] == ref.n_docs and c["total_terms"] == ref.total_terms
    ok &= abs(c["avgdl"] - ref.total_terms / ref.n_docs) < 1e-9
    ok &= idx.count() == ref.n_terms
    rows = (
        idx.filter(F.col("term").isin(terms))
        .select("term", "df", "max_tf", "postings")
        .collect()
    )
    ok &= len(rows) == len(terms)
    for r in rows:
        d, t = decode_postings(bytes(r["postings"]))
        rd, rt = ref.postings(r["term"])
        ok &= bool(
            np.array_equal(d, rd)
            and np.array_equal(t, rt)
            and r["df"] == rd.size
            and r["max_tf"] == rt.max()
        )
    return bool(ok), rows


def codec_metrics(rows) -> dict[str, float]:
    """Driver-side encode/decode throughput over the sampled posting lists."""
    from information_retrieval_project_spark.index.codec import decode_postings, encode_postings

    lists = [decode_postings(bytes(r["postings"])) for r in rows]
    n_post = sum(d.size for d, _ in lists)

    def rate(fn, items) -> tuple[float, list]:
        reps, t0 = 0, time.perf_counter()
        while True:
            out = [fn(*x) if isinstance(x, tuple) else fn(x) for x in items]
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= 0.3:
                return reps / dt, out

    enc_rate, enc = rate(encode_postings, lists)
    dec_rate, _ = rate(decode_postings, enc)
    enc_mb = sum(len(e) for e in enc) / 1e6
    return {
        "index.codec.encode_mb_per_s": enc_mb * enc_rate,
        "index.codec.decode_mb_per_s": enc_mb * dec_rate,
        "index.codec.bytes_per_posting": enc_mb * 1e6 / max(1, n_post),
    }


def _spark_totals(run: Run) -> None:
    roots = [s for s in run.tracer.spans if s.parent is None]
    tot = [run.tracer.totals(s) for s in roots]
    run.layers["spark.failed_tasks"] = sum(t["failed_tasks"] for t in tot)
    run.layers["spark.spill_bytes"] = sum(t["spill_bytes"] for t in tot)
    run.layers["spark.shuffle_write_bytes"] = sum(t["shuffle_write_bytes"] for t in tot)


def _overhead(times: dict[bool, list[float]]) -> float:
    if not times[True] or not times[False]:
        return 0.0
    return statistics.median(times[True]) / statistics.median(times[False]) - 1.0


# --------------------------------------------------------------------- build


def build(run: Run) -> None:
    s = run.sizes
    vocab = gen.make_vocab(s.vocab)
    docs = gen.make_docs(run.seed, 0, s.build_docs, vocab, rare_share=s.rare_share)
    corpus = run.path("corpus")
    gen.write_files(docs, corpus, s.files)
    run.log("inputs written")
    run.setup(lambda: run.spark.read.parquet(corpus).count())
    run.log("set-up done")

    ref = Reference()
    ref.add(doc_ids(run, corpus, docs), docs.tokens)
    oracle_cross_check(run, docs, gen.make_queries(run.seed, 0, 5, vocab))
    cfg = config_for(len(docs))
    terms = sample_terms(run, ref)

    # untimed builds of the same corpus warm the JVM: a cold build takes
    # about three times as long as a warm one, the next still ~25% longer
    # (after a warm-up on a smaller corpus the first full build was still
    # ~20% slower than the next)
    for _ in range(s.warmup_ops):
        build_and_write(run.spark, corpus, run.path("idx_warm"), cfg)
        run.spark.catalog.clearCache()
        shutil.rmtree(run.path("idx_warm"))
    run.log("warm-up builds done")

    if run.trace:
        from .trace import Tracer

        run.tracer = Tracer(run.spark, f"build-{run.seed}")
    times: dict[bool, list[float]] = {False: [], True: []}
    stored, sampled = [], []

    def op(i: int) -> float:
        # a traced run alternates plain builds with builds made of the
        # public layer calls in turn, each under its own span
        traced = run.trace and i % 2 == 1
        out = run.path(f"idx{i}")
        t0 = time.perf_counter()
        if traced:
            _layered_build(run, corpus, out, cfg)
        else:
            build_and_write(run.spark, corpus, out, cfg)
        dt = time.perf_counter() - t0
        run.spark.catalog.clearCache()
        times[traced].append(dt)
        ok, rows = verify_index(run, out, ref, terms)
        run.record(ok, f"build {i}")
        sampled[:] = rows
        stored.append(dir_bytes(out))
        shutil.rmtree(out)
        return dt

    run.loop(run.seconds, op)
    run.log("timed loop done")
    op_s = times[False] + times[True]
    run.e2e["op_p50_s"] = statistics.median(op_s)
    run.e2e["throughput_per_s"] = len(docs) * len(op_s) / sum(op_s)
    run.e2e["index_bytes_per_input_byte"] = statistics.median(stored) / docs.content_bytes()

    if run.trace:
        run.layers.update(codec_metrics(sampled))
        run.layers["index.build.index_rows"] = ref.n_terms
        run.layers["index.build.bytes_written"] = statistics.median(stored)
        if s.scaling:
            small = run.path("corpus_scaling")
            gen.write_files(docs.head(s.scaling_docs), small, s.files)
            # the whole run must end within 180 s
            run.layers["index.build.scaling_eff_1_to_4"] = _scaling(run, small, 150.0)
        run.tracer.finish()
        med = statistics.median
        for name in ("tokenize", "postings_write"):
            run.layers[f"index.build.{name}_s"] = med(
                sp.wall_s for sp in run.tracer.spans if sp.name == f"index.build.{name}"
            )
        run.layers["trace.overhead_frac"] = _overhead(times)
        _spark_totals(run)


def _layered_build(run: Run, corpus: str, out: str, cfg) -> None:
    """build_index + write_index as its public layer calls in turn, each
    under its own span: tokenize (materialized), hot-term detection, then
    postings + write."""
    from information_retrieval_project_spark.index.build import (
        build_postings,
        collection_stats,
        detect_hot_terms,
        doc_stats,
        tokenize_tf,
        with_doc_id,
        write_index,
    )

    spark = run.spark
    ids = with_doc_id(spark.read.parquet(corpus))
    with run.span("index.build.tokenize"):
        tf = tokenize_tf(ids, cfg.strategy).persist()
        run.layers["index.build.tf_rows"] = tf.count()
    with run.span("index.build.hot_terms"):
        frac = cfg.hot_detection_sample
        hot_rows = detect_hot_terms(
            tokenize_tf(ids.sample(fraction=frac, seed=42), cfg.strategy), cfg, scale=frac
        ).collect()
        run.layers["index.build.hot_terms"] = len(hot_rows)
    with run.span("index.build.postings_write"):
        hot = spark.createDataFrame(hot_rows, "term string, n_salts int")
        ds = doc_stats(tf)
        write_index(build_postings(tf, cfg, hot=hot), ds, collection_stats(ds), out)
    tf.unpersist()


def _scaling(run: Run, corpus: str, deadline_s: float) -> float:
    """Build throughput at local[4] / (4 x local[1]), each level one cold
    build in a fresh process pinned to its cores. 0 when the run is too far
    along to finish both levels by ``deadline_s`` (run time)."""
    hi = min(4, len(os.sched_getaffinity(0)))
    rate = {}
    for cores in (1, hi):
        left = deadline_s - run.elapsed()
        if left < 30:
            run.log(f"scaling skipped: {left:.0f} s left")
            return 0.0
        cmd = [
            sys.executable,
            os.path.join(HERE, "scaling.py"),
            "--cores", str(cores),
            "--corpus", corpus,
            "--work", run.path(f"scaling{cores}"),
        ]
        # own process group, so a timeout also ends the child's JVM
        child = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, err = child.communicate(timeout=left)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.communicate()
            run.log(f"scaling child at {cores} cores timed out")
            return 0.0
        if child.returncode != 0:
            print(err[-2000:], file=sys.stderr)
            run.check(False, f"scaling child at {cores} cores")
            return 0.0
        rate[cores] = json.loads(out.strip().splitlines()[-1])["files_per_s"]
    return rate[hi] / (hi * rate[1])


# --------------------------------------------------------------------- serve


def _ranked(rows) -> list[tuple[int, float]]:
    rows = sorted(rows, key=lambda r: r["rank"])
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def serve(run: Run) -> None:
    from information_retrieval_project_spark.index.build import read_index, read_index_meta
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
        bm25_topk_compressed,
    )

    s = run.sizes
    vocab = gen.make_vocab(s.vocab)
    docs = gen.make_docs(run.seed, 0, s.serve_docs, vocab, rare_share=s.rare_share)
    corpus = run.path("corpus")
    gen.write_files(docs, corpus, s.files)
    out = run.path("index")
    run.log("inputs written")
    run.start()
    run.log("session started")
    build_and_write(run.spark, corpus, out, config_for(len(docs)))
    state = {}

    def setup_body() -> None:
        idx, ds, cs = read_index(run.spark, out)
        state.update(
            idx=idx, ds=ds, stats=cs.collect()[0],
            tb=read_index_meta(run.spark, out)["term_buckets"],
        )

    run.log("index built")
    run.setup(setup_body)
    run.log("set-up done")
    spark = run.spark
    idx, ds, tb = state["idx"], state["ds"], state["tb"]
    n_docs, avgdl = state["stats"]["n_docs"], state["stats"]["avgdl"]

    ref = Reference()
    ref.add(doc_ids(run, corpus, docs), docs.tokens)
    # the timed pool, then the warm-up rounds' queries
    queries = gen.make_queries(run.seed, 0, s.query_pool + s.warmup_ops * s.batch, vocab)
    oracle_cross_check(run, docs, queries)
    terms = sample_terms(run, ref)
    ok, rows = verify_index(run, out, ref, terms)
    run.check(ok, "served index contents")
    stored = dir_bytes(out)
    scores: dict[int, dict[int, float]] = {}

    def ref_scores(qi: int) -> dict[int, float]:
        if qi not in scores:
            scores[qi] = ref.scores(queries[qi])
        return scores[qi]

    def single(qi: int) -> float:
        q = queries[qi]
        t0 = time.perf_counter()
        got = bm25_topk_compressed(spark, idx, ds, n_docs, avgdl, q, k=K, term_buckets=tb).collect()
        dt = time.perf_counter() - t0
        run.record(run.check_topk(_ranked(got), ref_scores(qi)), f"query {q}")
        return dt

    def batch(first: int) -> float:
        qs = {j: queries[first + j] for j in range(s.batch)}
        t0 = time.perf_counter()
        got = bm25_topk_batch_compressed(spark, idx, ds, n_docs, avgdl, qs, k=K, term_buckets=tb).collect()
        dt = time.perf_counter() - t0
        per_q: dict[int, list] = {j: [] for j in qs}
        for r in got:
            per_q[r["query_id"]].append(r)
        for j, q in qs.items():
            run.record(run.check_topk(_ranked(per_q[j]), ref_scores(first + j)), f"batch query {q}")
        return dt

    run.log("checks done")
    # rounds of one query of each length and one 64-query set, so every run
    # times the same mix of query shapes and both kinds of operation spread
    # over the whole timed window
    shapes = gen.MAX_TERMS
    # warm-up rounds on queries outside the timed pool, checked but not
    # timed: the first round of a JVM runs ~1.7 times as long as later ones,
    # the second still ~1.3 times
    for w in range(s.warmup_ops):
        first = s.query_pool + w * s.batch
        batch(first)
        for j in range(shapes):
            single(first + j)
    run.log("warm-up done")

    if run.trace:
        from .trace import Tracer

        run.tracer = Tracer(run.spark, f"serve-{run.seed}")
    times: dict[bool, list[float]] = {False: [], True: []}
    batch_s, q_spans, b_spans, prune = [], [], [], []

    def round_op(i: int) -> float:
        # a traced run alternates untraced and traced rounds
        traced = run.trace and i % 2 == 1
        spent = 0.0
        first = i * shapes % s.query_pool
        for qi in range(first, first + shapes):
            if traced:
                from information_retrieval_project_spark.index.bucketing import bucket_values_for_terms

                t0 = time.perf_counter()
                with run.span("index.bucketing.bucket_values_for_terms"):
                    buckets = bucket_values_for_terms(spark, queries[qi], tb)
                prune.append((time.perf_counter() - t0, len(buckets)))
            with run.span("queryexec.wand.bm25_topk_compressed", traced) as sp:
                dt = single(qi)
            if traced:
                q_spans.append(sp)
            times[traced].append(dt)
            spent += dt
        with run.span("queryexec.wand.bm25_topk_batch_compressed", traced) as sp:
            dt = batch(i * s.batch % s.query_pool)
        if traced:
            b_spans.append(sp)
        batch_s.append(dt)
        return spent + dt

    run.loop(run.seconds, round_op)
    run.log("single queries: " + " ".join(f"{t:.3f}" for t in times[False] + times[True]))
    run.log("timed loop done")
    run.e2e["op_p50_s"] = statistics.median(times[False] + times[True])
    run.e2e["throughput_per_s"] = s.batch * len(batch_s) / sum(batch_s)
    run.e2e["index_bytes_per_input_byte"] = stored / docs.content_bytes()

    if run.trace:
        run.layers.update(codec_metrics(rows))
        _prune_probe(run, idx, ds, n_docs, avgdl, tb, queries[: s.prune_probe_queries])
        # the probe takes about a minute; the whole run must end within 180 s
        upd_spans = _update_probe(run, vocab) if run.elapsed() < 100 else []
        run.tracer.finish()
        _query_layers(run, q_spans, b_spans, prune)
        if upd_spans:
            upd = [run.tracer.totals(sp) for sp in upd_spans]
            run.layers["streaming.incremental.busy_s"] = statistics.median(t["busy_s"] for t in upd)
            run.layers["streaming.incremental.jobs_per_update"] = statistics.median(t["jobs"] for t in upd)
        else:
            run.log("update probe skipped: run too far along")
        run.layers["trace.overhead_frac"] = _overhead(times)
        _spark_totals(run)


def _query_layers(run: Run, q_spans, b_spans, prune) -> None:
    cores = len(os.sched_getaffinity(0))
    tot = [run.tracer.totals(sp) for sp in q_spans]
    med = statistics.median
    run.layers.update(
        {
            "queryexec.wand.jobs_per_query": med(t["jobs"] for t in tot),
            "queryexec.wand.stages_per_query": med(t["stages"] for t in tot),
            "queryexec.wand.tasks_per_query": med(t["tasks"] for t in tot),
            "queryexec.wand.busy_s_per_query": med(t["busy_s"] for t in tot),
            "queryexec.wand.wait_frac": med(
                1.0 - t["busy_s"] / (sp.wall_s * cores) for t, sp in zip(tot, q_spans)
            ),
            "queryexec.wand.input_bytes_per_query": med(t["input_bytes"] for t in tot),
            "queryexec.wand.shuffle_bytes_per_query": med(t["shuffle_write_bytes"] for t in tot),
            "index.bucketing.prune_s": med(p[0] for p in prune),
            "index.bucketing.buckets_per_query": med(p[1] for p in prune),
        }
    )
    if b_spans:
        busy = sum(run.tracer.totals(sp)["busy_s"] for sp in b_spans)
        run.layers["queryexec.wand.batch_busy_s_per_query"] = busy / (
            len(b_spans) * run.sizes.batch
        )


def _prune_probe(run: Run, idx, ds, n_docs, avgdl, tb, queries) -> None:
    """Postings each query decodes, and the share of them the block-max
    candidate pass keeps (blockmax_prune_info + decode_candidates)."""
    from information_retrieval_project_spark.index.bucketing import prune_terms
    from information_retrieval_project_spark.queryexec.wand import (
        blockmax_prune_info,
        decode_candidates,
    )

    totals, kept = [], []
    with run.span("queryexec.wand.prune_probe"):
        for q in queries:
            rows = prune_terms(idx, q, tb)
            total = decode_candidates(rows).count()
            info = blockmax_prune_info(rows, ds, n_docs, avgdl, K)
            kept.append(
                decode_candidates(rows, prune=info, n_docs=n_docs).count() if info else total
            )
            totals.append(total)
    run.layers["queryexec.wand.postings_decoded_per_query"] = statistics.mean(totals)
    run.layers["queryexec.wand.blocks_kept_ratio"] = sum(kept) / max(1, sum(totals))


def _update_probe(run: Run, vocab: gen.Vocab) -> list:
    """Base store, then delta files landing one at a time, each followed by
    incremental_corpus_update and queries through read_served_index."""
    from information_retrieval_project_spark.queryexec.wand import bm25_topk_compressed
    from information_retrieval_project_spark.streaming.incremental import (
        incremental_corpus_update,
        read_served_index,
    )

    s, spark = run.sizes, run.spark
    corpus, store = run.path("upd_corpus"), run.path("upd_store")
    idx_dir, pos_dir = os.path.join(store, "index_store"), os.path.join(store, "positions_store")
    os.makedirs(corpus)
    base = gen.make_docs(run.seed, 10, s.update_base_docs, vocab, rare_share=s.rare_share)
    gen.write_parquet(base, os.path.join(corpus, "b000000.parquet"))
    cfg = config_for(len(base))
    ref = Reference()
    ref.add(doc_ids(run, os.path.join(corpus, "b000000.parquet"), base), base.tokens)
    with run.span("streaming.incremental.initial"):
        incremental_corpus_update(spark, corpus, store, cfg)
    queries = gen.make_queries(run.seed, 10, s.update_deltas * s.update_queries, vocab)
    upd, q_s, ratio_idx, ratio_pos, spans = [], [], [], [], []
    for i in range(1, s.update_deltas + 1):
        delta = gen.make_docs(run.seed, 10 + i, s.update_delta_docs, vocab, rare_share=s.rare_share)
        path = os.path.join(corpus, f"b{i:06d}.parquet")
        gen.write_parquet(delta, path)
        before_idx, before_pos = file_sizes(idx_dir), file_sizes(pos_dir)
        with run.span("streaming.incremental.update") as sp:
            t0 = time.perf_counter()
            try:
                incremental_corpus_update(spark, corpus, store, cfg)
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            upd.append(time.perf_counter() - t0)
        spans.append(sp)
        run.record(ok, f"incremental update {i}")
        delta_bytes = delta.content_bytes()
        ratio_idx.append(bytes_written(idx_dir, before_idx) / delta_bytes)
        ratio_pos.append(bytes_written(pos_dir, before_pos) / delta_bytes)
        ref.add(doc_ids(run, path, delta), delta.tokens)
        idx, ds, cs = read_served_index(spark, idx_dir)
        c = cs.collect()[0]
        run.check(
            c["n_docs"] == ref.n_docs and c["total_terms"] == ref.total_terms,
            f"snapshot stats after update {i}",
        )
        for q in queries[(i - 1) * s.update_queries : i * s.update_queries]:
            t0 = time.perf_counter()
            got = bm25_topk_compressed(spark, idx, ds, c["n_docs"], c["avgdl"], q, k=K).collect()
            q_s.append(time.perf_counter() - t0)
            run.record(run.check_topk(_ranked(got), ref.scores(q)), f"served query {q}")
    med = statistics.median
    run.layers["streaming.incremental.update_s"] = med(upd)
    run.layers["streaming.incremental.query_s"] = med(q_s)
    run.layers["streaming.incremental.bytes_written_per_delta_byte"] = med(ratio_idx)
    run.layers["index.positions.bytes_written_per_delta_byte"] = med(ratio_pos)
    return spans


WORKLOADS = {"build": build, "serve": serve}
