"""The served BM25 top-k over the compressed index == exhaustive scoring
of the same tf rows (property tests, SURVEY.md §5.2.3), and its plan shape."""

import numpy as np
import pytest


def exhaustive_topk(postings, doc_len, n_docs, avgdl, k, k1=1.2, b=0.75):
    """Reference BM25 top-k: every posting of every term scored in Python.
    postings: term -> (doc_ids, tfs); returns [(doc_id, score)] by
    (score DESC, doc_id ASC)."""
    scores = {}
    for t in sorted(postings):
        d, tf = postings[t]
        if d.size == 0:
            continue
        idf = float(np.log(1.0 + (n_docs - d.size + 0.5) / (d.size + 0.5)))
        for doc, f in zip(d.tolist(), tf.tolist()):
            f, dl = float(f), float(doc_len[doc])
            scores[doc] = scores.get(doc, 0.0) + idf * (
                f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl / avgdl))
            )
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def _reference(rows):
    """exhaustive_topk inputs from (doc_id, term, tf) rows: per-term sorted
    postings, doc lengths, n_docs and avgdl."""
    by_term, doc_len = {}, {}
    for d, t, f in rows:
        by_term.setdefault(t, []).append((d, f))
        doc_len[d] = doc_len.get(d, 0) + f
    postings = {}
    for t, pairs in by_term.items():
        pairs.sort()
        postings[t] = (
            np.array([d for d, _ in pairs], dtype=np.int64),
            np.array([f for _, f in pairs], dtype=np.int64),
        )
    return postings, doc_len, len(doc_len), float(np.mean(list(doc_len.values())))


def _reference_topk(ref, query, k, round_scores=None):
    """Exhaustive BM25 top-k of `query`; with round_scores, ranked on the
    rounded score like the served rounded-rank mode."""
    postings, doc_len, n_docs, avgdl = ref
    q = {t: postings[t] for t in set(query) if t in postings}
    ranked = exhaustive_topk(q, doc_len, n_docs, avgdl, len(doc_len))
    if round_scores is not None:
        ranked = sorted(
            ((d, round(s, round_scores)) for d, s in ranked),
            key=lambda x: (-x[1], x[0]),
        )
    return ranked[:k]


def _assert_topk(got, want, ctx=None):
    assert [(r["rank"], r["doc_id"]) for r in got] == [
        (i + 1, d) for i, (d, _) in enumerate(want)
    ], ctx
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9, ctx


def _tf_rows(tf):
    return [(r["doc_id"], r["term"], r["tf"]) for r in tf.collect()]


def test_blockmax_pruned_decode_equals_exhaustive_and_prunes(spark):
    """The served top-k over a term-pruned, salted and segmented index
    (several rows per hot term, df = term-total) must be rank- and
    score-identical to exhaustive scoring of the same tf rows, unrounded
    and in the gate's rounded-rank mode."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf,
        with_doc_id,
    )
    from information_retrieval_project_spark.corpus import generate_corpus
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    ids = with_doc_id(generate_corpus(spark, 2000, partitions=4))
    tf = tokenize_tf(ids).cache()
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(
            hot_df_threshold=100,
            docs_per_salt=200,
            hot_detection_sample=1.0,
            segment_hot_terms=True,
        ),
    ).cache()
    query = ["def", "return", "buffer"]  # hot + hot + selective
    ref = _reference(_tf_rows(tf))

    for k, rs in ((5, None), (10, None), (10, 5)):
        got = bm25_topk_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], query, k=k,
            round_scores=rs,
        ).collect()
        _assert_topk(got, _reference_topk(ref, query, k, rs), (k, rs))

    tf.unpersist(); ds.unpersist(); idx.unpersist()


def test_blockmax_candidate_generation_prunes_stopword_postings(spark):
    """The measured decoded-row reduction of block-max candidate generation:
    on a skewed corpus — a selective high-idf term + a stopword-grade term —
    the candidate pass must drop the stopword's blocks (pigeonhole rule:
    their upper bound can't supply 1/|Q| of the certified k-th score), so
    the decoded rows collapse from every posting of every query term to
    roughly the selective term's postings. The served top-k on the same
    index is checked against exhaustive scoring alongside."""
    import random

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf,
    )
    from information_retrieval_project_spark.index.bucketing import (
        prune_terms,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        blockmax_prune_info,
        bm25_topk_compressed,
        decode_candidates,
    )

    rng = random.Random(7)
    rows = []
    for i in range(3000):
        words = ["common"] * rng.randint(1, 2) + [
            f"filler{rng.randint(0, 200)}" for _ in range(rng.randint(5, 30))
        ]
        if i % 8 == 0:  # 375 docs carry the selective term, tf 2..8
            words += ["rare"] * rng.randint(2, 8)
        rng.shuffle(words)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    tf = tokenize_tf(docs).cache()
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(
            hot_df_threshold=500, docs_per_salt=800, hot_detection_sample=1.0
        ),
    ).cache()
    query = ["rare", "common"]

    got = bm25_topk_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], query, k=10
    ).collect()
    _assert_topk(got, _reference_topk(_reference(_tf_rows(tf)), query, 10))

    # the measured reduction: surviving blocks vs full posting volume
    irows = prune_terms(idx, query, None)
    info = blockmax_prune_info(irows, ds, cs["n_docs"], cs["avgdl"], 10)
    assert info is not None
    n_all = decode_candidates(irows).count()
    n_kept = decode_candidates(irows, prune=info, n_docs=cs["n_docs"]).count()
    # 'common' df=3000, 'rare' df~375: dropping common's blocks leaves
    # <= rare's postings + a handful of surviving common blocks
    assert n_kept < 0.5 * n_all, (n_kept, n_all)
    tf.unpersist(); ds.unpersist(); idx.unpersist()


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_blockmax_pruned_equals_exhaustive_randomized(spark, seed):
    """Adversarial property coverage for the served single-query top-k:
    random corpora (negative doc_ids, skewed dfs, random tf ranges,
    segmentation on and off, random k incl. k larger than some posting
    lists) must give the top-k rows and scores of exhaustive scoring over
    the same tf rows — both unrounded and in the gate's rounded-rank
    mode."""
    import random

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    rng = random.Random(seed)
    n_docs = rng.randint(300, 1500)
    n_terms = rng.randint(5, 25)
    terms = [f"t{i}" for i in range(n_terms)]
    # skewed dfs: term i appears in docs with prob ~ 1/(i+1)
    rows = []
    for d in range(n_docs):
        doc_id = d * 13 - 7000  # includes negatives, sparse ids
        for i, t in enumerate(terms):
            if rng.random() < 1.0 / (i + 1):
                rows.append((doc_id, t, rng.randint(1, 30)))
    ref = _reference(rows)
    tf = spark.createDataFrame(rows, "doc_id long, term string, tf long")
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    segmented = seed % 2 == 1
    idx = build_postings(
        tf,
        BuildConfig(
            hot_df_threshold=rng.randint(50, 400),
            docs_per_salt=rng.randint(100, 500),
            hot_detection_sample=1.0,
            segment_hot_terms=segmented,
        ),
    ).cache()
    query = rng.sample(terms, rng.randint(1, min(5, n_terms)))
    for k in (1, rng.randint(2, 40)):
        for rs in (None, 5):
            got = bm25_topk_compressed(
                spark, idx, ds, cs["n_docs"], cs["avgdl"], query,
                k=k, round_scores=rs,
            ).collect()
            _assert_topk(
                got, _reference_topk(ref, query, k, rs), (seed, k, rs, segmented)
            )
    ds.unpersist(); idx.unpersist()


def _stored_index(spark, out, rows, term_buckets):
    """(doc_id, term, tf) rows -> an index written by write_index and read
    back by read_index with its stored modulus."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        read_index,
        read_index_meta,
        write_index,
    )

    tf = spark.createDataFrame(rows, "doc_id long, term string, tf long")
    ds = doc_stats(tf)
    idx = build_postings(
        tf, BuildConfig(hot_df_threshold=100, docs_per_salt=100, hot_detection_sample=1.0)
    )
    write_index(idx, ds, collection_stats(ds), out, term_buckets=term_buckets)
    idx, ds, cs = read_index(spark, out)
    return idx, ds, cs.collect()[0], read_index_meta(spark, out)["term_buckets"]


def test_fused_blockmax_construction_runs_no_driver_actions(spark, monkeypatch, tmp_path):
    """CONSTRUCTING the served single and batch top-k DataFrames over a
    term-bucketed stored index must run zero driver actions and zero Spark
    jobs: the query terms' buckets are folded into the scan filter, not
    collected (the old prune_terms ran two jobs per query here)."""
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
        bm25_topk_compressed,
    )

    rows = [(d, t, (d * 7 + len(t)) % 9 + 1) for d in range(300) for t in ("aa", "bb", "cc") if (d + len(t)) % 3]
    idx, ds, cs, tb = _stored_index(spark, str(tmp_path / "idx"), rows, 16)
    # patch the concrete DataFrame class: it overrides collect, so patching
    # the pyspark.sql.DataFrame base would intercept nothing
    _DF = type(idx)
    ref = _reference(rows)
    queries = {0: ["aa", "bb"], 1: ["cc"], 2: ["bb", "cc", "zz"]}

    sc = spark.sparkContext
    calls = []
    orig = _DF.collect
    monkeypatch.setattr(_DF, "collect", lambda self: (calls.append(1), orig(self))[1])
    sc.setJobGroup("construct-serve", "construct-serve")
    try:
        q = bm25_topk_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], ["aa", "bb"], k=5,
            term_buckets=tb,
        )
        bq = bm25_topk_batch_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], queries, k=5,
            term_buckets=tb,
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("construct-serve")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert calls == [], "construction must not run driver actions"
    assert list(jobs) == [], "construction must not run Spark jobs"
    got = orig(q)
    monkeypatch.undo()
    _assert_topk(got, _reference_topk(ref, ["aa", "bb"], 5))
    by_q = {}
    for r in bq.orderBy("query_id", "rank").collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, toks in queries.items():
        _assert_topk(by_q[qid], _reference_topk(ref, toks, 5), qid)


def test_construction_py4j_calls_do_not_grow_with_query_terms(spark, monkeypatch, tmp_path):
    """Building the served single and batch top-k DataFrames costs the same
    number of py4j calls however many distinct terms the query has: the
    term and bucket prune is one SQL predicate and BM25 one SQL expression,
    not a few Column calls per term. Only call commands ("c\\n") count;
    object releases depend on GC."""
    import py4j.clientserver

    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
        bm25_topk_compressed,
    )

    vocab = [f"t{i:03d}" for i in range(256)]
    rows = [(d, t, d % 4 + 1) for d in range(8) for t in vocab[d::8]]
    idx, ds, cs, tb = _stored_index(spark, str(tmp_path / "idx"), rows, 16)
    idx.columns  # resolve the cached schema before counting
    conn = py4j.clientserver.ClientServerConnection
    calls = []
    send = conn.send_command

    def counting(self, command):
        calls.append(command.startswith("c\n"))
        return send(self, command)

    monkeypatch.setattr(conn, "send_command", counting)

    def n_calls(build):
        calls.clear()
        build()
        return sum(calls)

    def batch(n_terms):
        terms = vocab[:n_terms]
        queries = {q: terms[q::64] or terms[:1] for q in range(64)}
        return n_calls(lambda: bm25_topk_batch_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], queries, k=10,
            term_buckets=tb,
        ))

    def single(n_terms):
        return n_calls(lambda: bm25_topk_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], vocab[:n_terms], k=10,
            term_buckets=tb,
        ))

    b8, b200, s1, s4 = batch(8), batch(200), single(1), single(4)
    monkeypatch.undo()
    assert abs(b200 - b8) <= 2, (b8, b200)
    assert abs(s4 - s1) <= 2, (s1, s4)


def test_served_empty_and_missing_terms_return_no_rows(spark, tmp_path):
    """An empty term list prunes to no rows (`IN ()` does not parse, so the
    prune is a false literal), and serving it, or a batch whose terms are
    all missing from the index, returns no rows instead of raising."""
    from information_retrieval_project_spark.index.bucketing import prune_terms
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
        bm25_topk_compressed,
    )

    rows = [(d, t, d % 3 + 1) for d in range(20) for t in ("aa", "bb")]
    idx, ds, cs, tb = _stored_index(spark, str(tmp_path / "idx"), rows, 8)
    assert prune_terms(idx, [], tb).count() == 0
    assert prune_terms(idx, ["aa"], tb).count() > 0
    assert bm25_topk_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], [], k=5, term_buckets=tb
    ).collect() == []
    assert bm25_topk_batch_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], {0: ["zz"], 1: ["yy", "xx"]},
        k=5, term_buckets=tb,
    ).collect() == []


def test_served_plan_one_python_stage_pruned_scan(
    spark, tmp_path, partial_limit_below_query_shuffle
):
    """Plan shape of the served single and batch top-k over a stored,
    term-bucketed index: exactly ONE Python-evaluated operator (the posting
    decode) under any Python-UDF node name, no semi-join, and the query
    terms' buckets in the scan's PartitionFilters; the batch's query
    relation is a LocalTableScan, with no ExistingRDD scan, and its
    per-query rank limit runs partially before the query_id shuffle."""
    import re

    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
        bm25_topk_compressed,
    )

    rows = [(d, t, d % 5 + 1) for d in range(200) for t in ("aa", "bb", "cc")]
    idx, ds, cs, tb = _stored_index(spark, str(tmp_path / "idx"), rows, 8)
    single = bm25_topk_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], ["aa", "bb"], k=5,
        term_buckets=tb,
    )
    batch = bm25_topk_batch_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], {0: ["aa"], 1: ["aa", "bb"]},
        k=5, term_buckets=tb,
    )
    for q in (single, batch):
        # explained before execution, so only the initial AQE plan is shown;
        # the formatted output names each operator twice (tree + details) —
        # count distinct operator ids
        plan = q._sc._jvm.PythonSQLUtils.explainString(
            q._jdf.queryExecution(), "formatted"
        )
        python_ops = set(
            re.findall(r"\((\d+)\) \w*(?:Python|Pandas|Arrow)\w*", plan)
        )
        assert len(python_ops) == 1, plan
        assert "LeftSemi" not in plan, plan
        assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan), plan
    # `plan` is the batch's: its (query_id, term) relation is JVM-local,
    # a Python-RDD scan would cost one more job of Python tasks per batch
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert partial_limit_below_query_shuffle(batch), plan


@pytest.mark.parametrize("seed", [5, 23])
def test_batch_blockmax_pruned_equals_exhaustive(spark, seed):
    """The served batch top-k must give, per query, the (rank, doc_id,
    score) rows of exhaustive scoring over the same tf rows, rounded and
    unrounded, segmented and not."""
    import random

    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_batch_compressed,
    )

    rng = random.Random(seed)
    n_docs = rng.randint(300, 1200)
    terms = [f"t{i}" for i in range(12)]
    rows = []
    for d in range(n_docs):
        doc_id = d * 11 - 4000
        for i, t in enumerate(terms):
            if rng.random() < 1.0 / (i + 1):
                rows.append((doc_id, t, rng.randint(1, 25)))
    ref = _reference(rows)
    tf = spark.createDataFrame(rows, "doc_id long, term string, tf long")
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(
            hot_df_threshold=rng.randint(60, 300),
            docs_per_salt=rng.randint(100, 400),
            hot_detection_sample=1.0,
            segment_hot_terms=seed % 2 == 1,
        ),
    ).cache()
    queries = {
        qid: rng.sample(terms, rng.randint(1, 4)) for qid in range(4)
    }
    for rs in (None, 5):
        k = rng.randint(2, 15)
        got = bm25_topk_batch_compressed(
            spark, idx, ds, cs["n_docs"], cs["avgdl"], queries,
            k=k, round_scores=rs,
        ).orderBy("query_id", "rank").collect()
        assert {r["query_id"] for r in got} == set(queries), (seed, rs)
        for qid, toks in queries.items():
            _assert_topk(
                [r for r in got if r["query_id"] == qid],
                _reference_topk(ref, toks, k, rs),
                (seed, rs, qid),
            )
    ds.unpersist(); idx.unpersist()
