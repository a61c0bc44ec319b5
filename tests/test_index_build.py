"""End-to-end index build + BM25/TF-IDF rank-identity vs the numpy oracle
(SURVEY.md §5.2 items 1/2/5; BASELINE.json north_rule rank-identical top-k +
sha256 per-row invariant)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark.corpus import generate_corpus, generate_pdf
from information_retrieval_project_spark.index.build import (
    BuildConfig,
    build_postings,
    collection_stats,
    doc_stats,
    tokenize_tf,
    with_doc_id,
)
from information_retrieval_project_spark.index.codec import decode_postings
from information_retrieval_project_spark.oracle.oracle import (
    oracle_bm25_topk,
    oracle_tf,
    oracle_tfidf_cosine_topk,
)
from information_retrieval_project_spark.queryexec.bm25 import bm25_topk
from information_retrieval_project_spark.queryexec.tfidf import tfidf_cosine_topk
from information_retrieval_project_spark.queryexec.wand import bm25_topk_compressed

N_DOCS = 400
QUERIES = [
    "def return import",             # hot head terms
    "parse_config_16 handle_request_100",  # tail terms
    "merge_index_33 return class",   # mixed
    "zzz_not_in_corpus",             # absent term
    "get_cache_44",
]


@pytest.fixture(scope="module")
def built(spark):
    corpus = generate_corpus(spark, N_DOCS, partitions=4)
    ids = with_doc_id(corpus).cache()
    tf_df = tokenize_tf(ids).cache()
    ds = doc_stats(tf_df).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(tf_df, BuildConfig(hot_df_threshold=50, docs_per_salt=100, hot_detection_sample=1.0))
    pdf = generate_pdf(N_DOCS)
    # oracle-side corpus dict keyed by the SAME xxhash64 doc_id computed by Spark
    id_map = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in ids.select("repo", "path", "commit", "doc_id").collect()
    }
    docs = {
        id_map[(row.repo, row.path, row.commit)]: row.content
        for row in pdf.itertuples(index=False)
    }
    return ids, tf_df, ds, cs, idx, docs


def test_doc_id_no_collisions(built):
    ids = built[0]
    assert ids.select("doc_id").distinct().count() == N_DOCS


def test_sha256_row_invariant(built):
    """input_hint: per-row sha256(content) equality engine vs source."""
    ids, docs = built[0], built[5]
    import hashlib

    engine = {r["doc_id"]: r["content_sha"] for r in ids.select("doc_id", "content_sha").collect()}
    for doc_id, content in docs.items():
        assert engine[doc_id] == hashlib.sha256(content.encode()).hexdigest()


def test_tf_matches_oracle(built):
    _, tf_df, _, _, _, docs = built
    otf = oracle_tf(docs)
    rows = tf_df.collect()
    engine = {}
    for r in rows:
        engine.setdefault(r["doc_id"], {})[r["term"]] = r["tf"]
    assert engine == otf


def test_collection_stats(built):
    _, _, _, cs, _, docs = built
    otf = oracle_tf(docs)
    lens = [sum(c.values()) for c in otf.values()]
    assert cs["n_docs"] == len(docs)
    assert cs["total_terms"] == sum(lens)
    assert abs(cs["avgdl"] - sum(lens) / len(lens)) < 1e-9


def test_postings_match_tf_and_salting_is_lossless(built):
    """Both layouts hold exactly the tf relation. The merged layout groups
    each term once: one row per term with exact df, sorted unique doc ids
    and exact tf. The segmented layout is the salted one: a hot term's
    segments are disjoint sorted runs whose union is the term's tf
    postings."""
    _, tf_df, _, _, idx, _ = built
    expect = {}
    for r in tf_df.collect():
        expect.setdefault(r["term"], {})[r["doc_id"]] = r["tf"]
    got = idx.collect()
    assert len(got) == len(expect)
    for row in got:
        d, t = decode_postings(bytes(row["postings"]))
        exp = expect[row["term"]]
        assert row["df"] == len(exp)
        assert d.tolist() == sorted(exp)
        assert t.tolist() == [exp[x] for x in sorted(exp)]
        dl = d.tolist()  # python ints: int64 np.diff overflows on hash range
        assert all(x < y for x, y in zip(dl, dl[1:]))  # strictly sorted, no dups
    seg_idx = build_postings(
        tf_df,
        BuildConfig(
            hot_df_threshold=50, docs_per_salt=100, hot_detection_sample=1.0,
            segment_hot_terms=True,
        ),
    )
    segments = {}
    for row in seg_idx.collect():
        d, t = decode_postings(bytes(row["postings"]))
        dl = d.tolist()
        assert all(x < y for x, y in zip(dl, dl[1:]))  # sorted, no dups
        segments.setdefault(row["term"], []).append(dict(zip(dl, t.tolist())))
    assert segments.keys() == expect.keys()
    for term, runs in segments.items():
        union = {}
        for run in runs:
            assert not union.keys() & run.keys(), term  # disjoint segments
            union.update(run)
        assert union == expect[term], term
    assert max(len(runs) for runs in segments.values()) > 1  # salting ran


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_identical_to_oracle(spark, built, query):
    _, tf_df, ds, cs, _, docs = built
    got = bm25_topk(spark, tf_df, ds, cs["n_docs"], cs["avgdl"],
                    __import__("information_retrieval_project_spark.functions.textnorm", fromlist=["normalize_tokenize"]).normalize_tokenize(query), k=10).collect()
    want = oracle_bm25_topk(docs, query, k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


@pytest.mark.parametrize("query", QUERIES[:3])
def test_compressed_path_equals_sql_path(spark, built, query):
    from information_retrieval_project_spark.functions.textnorm import normalize_tokenize

    _, tf_df, ds, cs, idx, docs = built
    toks = normalize_tokenize(query)
    a = bm25_topk(spark, tf_df, ds, cs["n_docs"], cs["avgdl"], toks, k=10).collect()
    b = bm25_topk_compressed(spark, idx, ds, cs["n_docs"], cs["avgdl"], toks, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_tfidf_cosine_rank_identical_to_oracle(spark, built):
    from information_retrieval_project_spark.functions.textnorm import normalize_tokenize

    _, tf_df, ds, cs, _, docs = built
    query = QUERIES[0]
    got = tfidf_cosine_topk(spark, tf_df, cs["n_docs"], normalize_tokenize(query), k=10).collect()
    want = oracle_tfidf_cosine_topk(docs, query, k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_segmented_hot_terms_rank_identical(spark, built):
    """segment_hot_terms=True (Arrow-row memory bound for 10^12-scale hot
    terms) must produce identical df totals and identical BM25 results
    through the compressed query path."""
    from information_retrieval_project_spark.functions.textnorm import normalize_tokenize

    _, tf_df, ds, cs, idx_merged, _ = built
    seg_idx = build_postings(
        tf_df,
        BuildConfig(
            hot_df_threshold=50, docs_per_salt=100, hot_detection_sample=1.0,
            segment_hot_terms=True,
        ),
    ).cache()
    # hot terms really are segmented
    seg_counts = {
        r["term"]: r["n"] for r in
        seg_idx.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    assert any(n > 1 for n in seg_counts.values())
    # df on every segment row equals the merged index's term df
    want_df = {r["term"]: r["df"] for r in idx_merged.select("term", "df").collect()}
    for r in seg_idx.select("term", "df").distinct().collect():
        assert want_df[r["term"]] == r["df"], r["term"]
    # compressed-path scoring identical to the merged index
    for query in QUERIES[:3]:
        toks = normalize_tokenize(query)
        a = bm25_topk_compressed(spark, idx_merged, ds, cs["n_docs"], cs["avgdl"], toks, k=10).collect()
        b = bm25_topk_compressed(spark, seg_idx, ds, cs["n_docs"], cs["avgdl"], toks, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
            (r["doc_id"], round(r["score"], 9)) for r in b
        ], query


# sha256 over the term-sorted stored rows of build_postings(generate_corpus(
# spark, 1000, seed=42)), keyed by segment_hot_terms; hot_df_threshold=200
# salts the segmented layout (the merged layout never salts). The rows are
# the on-disk index format: if this digest changes, the format changed, and
# that change needs a new build.INDEX_FORMAT, the version every snapshot
# commits in its state.json.
GOLDEN_INDEX_SHA256 = {
    False: "ddc63a9ce1553a7066df3126de4e1684ff2f4b30ebbef51929ef8d94609e651a",
    True: "4c452f819e25961e589576721ab62e1f8d28175466d7066fd99dca80c8aa1eff",
}


def test_index_bytes_match_golden_digest(spark):
    tf_df = tokenize_tf(with_doc_id(generate_corpus(spark, 1000, seed=42))).cache()
    for segmented, want in GOLDEN_INDEX_SHA256.items():
        cfg = BuildConfig(
            hot_df_threshold=200, docs_per_salt=250, hot_detection_sample=1.0,
            segment_hot_terms=segmented,
        )
        keys = ["term", "segment"] if segmented else ["term"]
        rows = (
            build_postings(tf_df, cfg)
            .select(*keys, "df", "max_tf", "postings", "bm_tfs")
            .orderBy(*keys)
            .collect()
        )
        h = hashlib.sha256()
        for r in rows:
            h.update(repr(tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)).encode())
        assert h.hexdigest() == want, f"segment_hot_terms={segmented}"
    tf_df.unpersist()


def test_read_index_runs_no_spark_job(spark, tmp_path, jobs_run):
    """write_index commits its state.json on the driver: it runs exactly
    the jobs of its two data writes and of collecting the one-row stats.
    read_index + read_index_meta + collecting the stats read that
    state.json and the recorded schemas on the driver and run none, and
    return what was written."""
    import os

    from information_retrieval_project_spark.index import manifest
    from information_retrieval_project_spark.index.bucketing import write_bucketed
    from information_retrieval_project_spark.index.build import (
        read_index,
        read_index_meta,
        write_index,
    )

    tf = spark.createDataFrame(
        [(d, t, d % 4 + 1) for d in range(80) for t in ("aa", "bb", "cc")],
        "doc_id long, term string, tf long",
    )
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).cache()
    idx = build_postings(tf, BuildConfig(hot_detection_sample=1.0)).cache()
    idx.count()
    cs.count()

    def data_writes(out):
        write_bucketed(idx, f"{out}/index", 8)
        ds.write.parquet(f"{out}/doc_stats")
        return cs.collect()[0]

    want_cs, n_data = jobs_run(lambda: data_writes(str(tmp_path / "data_only")))
    out = str(tmp_path / "idx")
    _, n_write = jobs_run(lambda: write_index(idx, ds, cs, out, term_buckets=8))
    assert n_write == n_data
    assert sorted(os.listdir(manifest.current(out))) == [
        "doc_stats", "index", manifest.STATE,
    ]

    def read():
        r_idx, r_ds, r_cs = read_index(spark, out)
        return r_idx, r_ds, r_cs.collect()[0], read_index_meta(spark, out)

    (r_idx, r_ds, r_cs, meta), n_read = jobs_run(read)
    assert n_read == 0
    assert meta["term_buckets"] == 8 and r_cs == want_cs
    assert (meta["n_docs"], meta["avgdl"], meta["total_terms"]) == tuple(want_cs)
    assert r_ds.dtypes == ds.dtypes
    assert r_idx.dtypes == idx.dtypes + [("term_bucket", "int")]
    key = ["term"]
    assert r_idx.drop("term_bucket").orderBy(*key).collect() == idx.orderBy(*key).collect()
    for df in (idx, cs, ds):
        df.unpersist()
