"""Physical-plan regression tests: the optimizations SURVEY.md §4.2 relies on
must actually appear in the plans (pushdown, pruning, broadcast joins,
TakeOrderedAndProject) — catching a regression where Catalyst silently falls
back to a scan-everything / shuffle-everything plan."""

import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark import entry_queries as EQ


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf_dir):
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    p = plan(d)
    assert "PushedFilters" in p and "lang" in p.split("PushedFilters", 1)[1][:200]
    # column pruning: text must NOT be read
    read_schema = p.split("ReadSchema", 1)[1][:200]
    assert "text" not in read_schema


def test_bm25_uses_broadcast_and_takeordered(spark, sf_dir):
    # q_bm25_topk returns a checkpointed result (cache-lifecycle hygiene,
    # VERDICT r4 #4), so its final plan is a checkpoint scan; assert the
    # SCORING plan via the shared weighted scorer (weights 1.0 == plain
    # BM25, identical plan shape, no checkpoint)
    tf = EQ._tf(spark, sf_dir)
    w1 = spark.createDataFrame(
        [(t, 1.0) for t in sorted(set(EQ.BM25_QUERY))],
        "term string, w double",
    )
    scored = EQ._bm25_scores_weighted(tf, w1)
    p = plan(
        scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    )
    assert "BroadcastHashJoin" in p          # query terms joined broadcast
    assert "TakeOrderedAndProject" in p      # top-k, not global sort


def test_semi_and_anti_join_strategies(spark, sf_dir):
    """The facet drill-down filters scores by a left-semi join and boolean
    NOT is a left-anti join: neither may degrade to an inner join plus
    distinct or a not-in filter."""
    ps = plan(EQ.q_bm25_topk_faceted(spark, sf_dir))
    pa = plan(EQ.q_boolean_or_not_docs(spark, sf_dir))
    assert "LeftSemi" in ps
    assert "LeftAnti" in pa


def test_aggregate_is_hash_partial_final(spark, sf_dir):
    p = plan(EQ.q_term_df(spark, sf_dir))
    assert p.count("HashAggregate") >= 2     # partial + final
    assert "SortAggregate" not in p


def test_native_path_vectorized_scan_and_hash_agg(spark, sf_dir):
    # AQE hides WholeStageCodegen ids pre-execution; assert the vectorized
    # reader + hash aggregation instead (the codegen-eligible shape)
    p = plan(EQ.q_token_stats(spark, sf_dir))
    assert "Batched: true" in p
    assert "HashAggregate" in p and "SortAggregate" not in p


def test_pr_curve_limits_before_ranking(spark, sf_dir):
    """Regression for the round-1 hazard: rank-then-filter ran a global
    row_number over the whole table on one partition. The fixed plan must
    take the top-50 via TakeOrderedAndProject (per-partition heaps) BEFORE
    any Window executes."""
    p = plan(EQ.q_pr_curve(spark, sf_dir))
    # round-1 plan had NO TakeOrderedAndProject: a bare global Window ranked
    # every row, then a filter kept 50. Its presence is the fix — the windows
    # that remain run over the 50 limited rows (they sit above it in the tree)
    assert "TakeOrderedAndProject" in p
    # and the scan reads only the needed columns (no text)
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "text" not in rs


def test_emb_near_dup_has_no_cartesian(spark, sf_dir):
    """The all-pairs near-dup candidate join must stay an equi-join on the
    bucket key — never a CartesianProduct / BroadcastNestedLoopJoin."""
    p = plan(EQ.q_emb_near_dup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_capped_band_join_stays_hash_equi(spark, sf_dir):
    """The bucket-size guard must not change the join strategy of the
    band self-join (equi hash/SMJ, no nested loop). Asserted on the
    banding plan itself: the gate returns a checkpoint scan."""
    from information_retrieval_project_spark.dedup.dedup import (
        minhash_lsh_pairs,
    )

    sig = EQ.q_minhash_signatures(spark, sf_dir)
    p = plan(
        minhash_lsh_pairs(sig, rows_per_band=2, max_bucket=1000, key=F.concat)
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_batch_bm25_window_partitioned_by_query(
    spark, sf_dir, partial_limit_below_query_shuffle
):
    """The query-set rank window must be PARTITIONED by query_id (parallel
    across queries) and the (query_id, term) relation broadcast — the whole
    point of the one-plan batch form — with the rank limit applied per
    partition (WindowGroupLimit Partial) before the query_id shuffle.
    Asserted on the library function's plan directly: the gate wrapper
    localCheckpoints its k-row result (to unpersist tf without a lingering
    cache), which replaces the visible plan with a checkpoint scan."""
    from pyspark.sql import functions as F

    from information_retrieval_project_spark.queryexec.bm25 import (
        bm25_topk_batch,
    )

    tf = EQ._tf(spark, sf_dir)
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    stats = ds.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    out = bm25_topk_batch(
        spark, tf, ds, stats["n_docs"], stats["avgdl"], EQ.BATCH_QUERIES, k=5
    )
    p = plan(out)
    assert "BroadcastHashJoin" in p
    # a Window over partitionBy(query_id) plans an Exchange hashpartitioning
    # on query_id; an unpartitioned window would plan SinglePartition instead
    assert "hashpartitioning(query_id" in p
    assert "TakeOrderedAndProject" in p or "Window" in p
    assert partial_limit_below_query_shuffle(out), p


def test_query_constant_relations_are_jvm_local(spark, sf_dir, tmp_path, monkeypatch, jobs_run):
    """The query-constant relations of the QL-Dirichlet, TF-IDF and
    smoothed-LM rankers, of the TF-IDF, Laplace-LM and facet gates, the
    positions store's delete tombstones, the phrase slots and the paging
    cursor are LocalTableScans built once on the driver: a
    createDataFrame(list) relation plans a Python-RDD scan (ExistingRDD),
    one more job of Python tasks per query."""
    from information_retrieval_project_spark.index import positions
    from information_retrieval_project_spark.queryexec.paging import page_after
    from information_retrieval_project_spark.lm.language_models import (
        jelinek_mercer_scores,
        laplace_scores,
        skipgram_pairs,
    )
    from information_retrieval_project_spark.queryexec.qlm import (
        ql_dirichlet_topk,
    )
    from information_retrieval_project_spark.queryexec.tfidf import (
        tfidf_cosine_topk,
    )

    tf = EQ._tf(spark, sf_dir)
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    n_docs = ds.count()
    ql = ql_dirichlet_topk(spark, tf, ds, EQ.BM25_QUERY, k=5)
    # the query norm is a column of the plan, not collected while building it
    cos, n_jobs = jobs_run(
        lambda: tfidf_cosine_topk(spark, tf, n_docs, EQ.BM25_QUERY, k=5)
    )
    assert n_jobs == 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    sg = skipgram_pairs(docs, s=1)
    outs = [
        ql,
        cos,
        laplace_scores(spark, sg, 100, EQ.LM_QUERY),
        jelinek_mercer_scores(spark, sg, EQ.LM_QUERY),
        EQ.q_laplace_lm(spark, sf_dir),
        EQ.q_facet_counts(spark, sf_dir),
    ]
    # the gate checkpoints its result; plan what it checkpoints
    monkeypatch.setattr(type(tf), "localCheckpoint", lambda self, eager=True: self)
    outs.append(EQ.q_tfidf_cosine(spark, sf_dir))
    monkeypatch.undo()
    # the tombstone delete's rewrite, planned where it is written
    store = str(tmp_path / "pos")
    positions.write_positions(positions.build_positions(docs), store, term_buckets=4)
    written = []
    monkeypatch.setattr(
        positions, "write_positions", lambda df, *a, **k: written.append(df)
    )
    positions.delete_positions_docs(spark, store, [1, 2])
    outs += written
    scores = spark.range(20).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 * 0.5).alias("score")
    )
    outs.append(page_after(scores, 5, cursor=(1.0, 3)))
    outs.append(
        positions.phrase_match_indexed(
            spark, positions.read_positions(spark, store)[0], list(EQ.PHRASE)
        )
    )
    for out in outs:
        p = plan(out)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p


def test_phrase_match_joins_stay_equi(spark, sf_dir):
    """Both phrase paths (corpus-side positional self-join and the
    positional-index serve) must stay equi-joins on (doc_id, pos) — never a
    nested loop — and the corpus path must prune the text column's siblings
    at the scan."""
    for q in (EQ.q_phrase_match_docs, EQ.q_phrase_match_indexed):
        p = plan(q(spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_build_positions_is_shuffle_free(spark, sf_dir):
    """The positional-index build must stay map-side complete: every
    (term, doc_id) group lives inside one content row, so the plan must
    contain NO Exchange (a groupBy formulation would shuffle one row per
    token — the largest possible shuffle at 100 TB)."""
    from information_retrieval_project_spark.index.positions import (
        build_positions,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    assert "Exchange" not in plan(build_positions(docs))


def test_merged_build_is_one_postings_shuffle(spark):
    """The merged layout (the default) sorts each term's posting list in
    one shuffle: groupBy(term) under the encode, with no hot-term broadcast
    join and no xxhash64(doc_id) salt. build_index tokenizes once and
    samples nothing. The segmented layout keeps its salt, the skew handling
    that bounds each of its rows."""
    import re

    from information_retrieval_project_spark.corpus import generate_corpus
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_index,
        build_postings,
    )

    tf = spark.createDataFrame(
        [(d, t, d % 7 + 1) for d in range(50) for t in ("aa", "bb")],
        "doc_id long, term string, tf long",
    )
    merged = plan(build_postings(tf, BuildConfig()))
    # the Arguments line of every (Broadcast)Exchange of the formatted plan
    ex = re.findall(r"^\(\d+\) \w*Exchange\n(?:.*\n)*?Arguments: (.*)", merged, re.M)
    assert len(ex) == 1 and ex[0].startswith("hashpartitioning(term#"), merged
    assert "BroadcastHashJoin" not in merged
    assert not re.search(r"xxhash64\(doc_id#", merged), merged
    built = plan(build_index(generate_corpus(spark, 40, partitions=2), cache=False)[0])
    assert len(re.findall(r"^\(\d+\) MapInArrow$", built, re.M)) == 1, built
    assert "Sample" not in built, built
    seg = plan(build_postings(tf, BuildConfig(segment_hot_terms=True)))
    assert re.search(r"xxhash64\(doc_id#", seg), seg


def test_parity_mode_tokenize_is_one_arrow_stage(spark):
    """Parity mode (stem/stopwords) runs inside tokenize_tf's one
    mapInArrow kernel, not in a pandas pass."""
    import re

    from information_retrieval_project_spark.corpus import generate_corpus
    from information_retrieval_project_spark.index.build import (
        tokenize_tf,
        with_doc_id,
    )

    ids = with_doc_id(generate_corpus(spark, 20, partitions=2))
    p = plan(tokenize_tf(ids, stem=True, stopwords=True))
    assert len(re.findall(r"^\(\d+\) MapInArrow$", p, re.M)) == 1, p
    assert "MapInPandas" not in p, p


def test_facet_counts_plan_shape(spark, sf_dir):
    """Facet counts must broadcast both small sides (query terms, match
    set) and explode facet dimensions through ONE generator — never a
    cartesian join or one aggregation job per facet."""
    p = plan(EQ.q_facet_counts(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "Generate" in p  # the stack() of all facet dims, one pass


def test_minhash_gates_release_their_signatures(spark, sf_dir):
    """Both banding gates persist their signature table only while the
    pairs are computed: the returned DataFrame is an eager checkpoint of
    the small pairs result (a LogicalRDD leaf), and that checkpoint is the
    only RDD the call leaves persisted — the signatures are released."""
    jsc = spark.sparkContext._jsc
    for q in (EQ.q_minhash_band_pairs, EQ.q_minhash_band_pairs_fast):
        before = set(jsc.getPersistentRDDs().keySet())
        out = q(spark, sf_dir)
        added = set(jsc.getPersistentRDDs().keySet()) - before
        leaf = out._jdf.queryExecution().analyzed()
        assert leaf.getClass().getSimpleName() == "LogicalRDD", q.__name__
        assert leaf.children().isEmpty()
        assert added == {leaf.rdd().id()}, q.__name__


def _contrib_text(df) -> str:
    """The `... AS contrib` expression of df's optimized plan, `#id`
    suffixes stripped."""
    import re

    p = df._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"Project \[doc_id#\d+L?, (.*) AS contrib#\d+\]", p)
    assert m, p
    return re.sub(r"#\d+L?", "", m.group(1))


def test_bm25_contrib_plan_text_is_pinned(spark, sf_dir, tmp_path):
    """The BM25 contribution Catalyst builds, operand order included, for
    literal statistics (the served single query) and for column statistics
    with a weight (the weighted gates). A DECIMAL literal or a commuted
    operand changes this text, and can change scores in the last digits."""
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        read_index,
        write_index,
    )
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    tf = spark.createDataFrame(
        [(d, t, d % 7 + 1) for d in range(50) for t in ("aa", "bb", "cc")],
        "doc_id long, term string, tf long",
    )
    ds = doc_stats(tf)
    out = str(tmp_path / "idx")
    write_index(
        build_postings(tf, BuildConfig(hot_df_threshold=1000)),
        ds, collection_stats(ds), out, term_buckets=4,
    )
    idx, ds, cs = read_index(spark, out)
    st = cs.collect()[0]
    served = bm25_topk_compressed(
        spark, idx, ds, st["n_docs"], st["avgdl"], ["aa", "bb"], k=5,
        term_buckets=4,
    )
    assert _contrib_text(served) == (
        "((ln(((((50.0 - cast(df as double)) + 0.5) / (cast(df as double) + 0.5))"
        " + 1.0)) * (cast(tf as double) * 2.2)) / (cast(tf as double) + ((((cast("
        "doc_len as double) * 0.75) / 11.82) + 0.25) * 1.2)))"
    )
    w1 = spark.createDataFrame(
        [(t, 1.0) for t in sorted(set(EQ.BM25_QUERY))], "term string, w double"
    )
    weighted = EQ._bm25_scores_weighted(EQ._tf(spark, sf_dir), w1)
    assert _contrib_text(weighted) == (
        "(((w * ln((((cast((n_docs - df) as double) + 0.5) / (cast(df as double)"
        " + 0.5)) + 1.0))) * (cast(tf as double) * 2.2)) / (cast(tf as double) + "
        "((((cast(doc_len as double) * 0.75) / avgdl) + 0.25) * 1.2)))"
    )
