"""Stored-index layout: term-bucket partition pruning on the read path and
full write/read roundtrip (SURVEY.md §4.2 partition pruning; index/build
write_index/read_index)."""

import re

import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark.corpus import generate_corpus
from information_retrieval_project_spark.index import manifest
from information_retrieval_project_spark.index.build import (
    INDEX_FORMAT,
    BuildConfig,
    build_index,
    read_index,
    read_index_meta,
    write_index,
)
from information_retrieval_project_spark.index.codec import decode_postings


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    corpus = generate_corpus(spark, 300, partitions=3)
    idx, ds, cs = build_index(corpus, BuildConfig(hot_df_threshold=1000))
    write_index(idx, ds, cs, out, term_buckets=16)
    return out, {r["term"]: r["df"] for r in idx.select("term", "df").collect()}


def test_roundtrip_preserves_index(spark, stored):
    out, want_df = stored
    idx, ds, cs = read_index(spark, out)
    got = {r["term"]: r["df"] for r in idx.select("term", "df").collect()}
    assert got == want_df
    row = idx.filter(F.col("term") == "def").collect()[0]
    d, t = decode_postings(bytes(row["postings"]))
    assert d.size == row["df"] and (t > 0).all()


def test_query_stored_index_with_nondefault_bucket_count(spark, stored):
    """Regression (ADVICE r1): querying an index stored with term_buckets=16
    must not silently prune valid postings. The bucket count comes from the
    snapshot's state.json and is threaded into bm25_topk_compressed; a wrong
    modulus (32) on this corpus would drop every query term whose 16-bucket
    and 32-bucket values differ."""
    from information_retrieval_project_spark.queryexec.wand import (
        bm25_topk_compressed,
    )

    out, _ = stored
    meta = read_index_meta(spark, out)
    assert meta["term_buckets"] == 16
    idx, ds, cs_df = read_index(spark, out)
    cs = cs_df.collect()[0]
    toks = ["def", "return", "import"]
    got = bm25_topk_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], toks, k=10,
        term_buckets=meta["term_buckets"],
    ).collect()
    # oracle: same query against the in-memory (unbucketed) index
    idx0, ds0, cs0_df = build_index(
        generate_corpus(spark, 300, partitions=3),
        BuildConfig(hot_df_threshold=1000),
    )
    cs0 = cs0_df.collect()[0]
    want = bm25_topk_compressed(
        spark, idx0, ds0, cs0["n_docs"], cs0["avgdl"], toks, k=10
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    # no snapshot, no modulus: nothing is assumed
    with pytest.raises(manifest.SnapshotStoreError, match="no snapshot"):
        read_index_meta(spark, out + "/nonexistent")


def test_term_bucket_partition_pruning(spark, stored):
    out, _ = stored
    idx = read_index(spark, out)[0]
    bucket = idx.filter(F.col("term") == "def").select("term_bucket").collect()[0][0]
    pruned = idx.filter(
        (F.col("term") == "def") & (F.col("term_bucket") == int(bucket))
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # the term_bucket predicate must reach PartitionFilters (pruned scan),
    # and the term predicate must be pushed to the parquet reader
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "term_bucket" in pf
    assert "PushedFilters" in plan


def test_corrupt_index_meta_raises_not_falls_back(spark, tmp_path):
    """ADVICE r2: a committed state.json that can't be parsed, or that
    lacks a valid modulus, must raise — silently assuming 32 buckets
    against an index written with a different modulus would drop valid
    postings. A store with nothing committed raises too: there is no
    fallback."""
    import os

    def committed_state(name, text):
        out = str(tmp_path / name)
        os.makedirs(f"{out}/v000001")
        with open(f"{out}/v000001/{manifest.STATE}", "w") as f:
            f.write(text)
        with open(f"{out}/{manifest.CURRENT}", "w") as f:
            f.write("v000001")
        return out

    out = committed_state("idxmeta", "{this is not json")
    with pytest.raises(manifest.SnapshotStoreError, match="corrupt state.json"):
        read_index_meta(spark, out)

    # valid JSON of this format but without the modulus is also corruption
    out2 = committed_state(
        "idxmeta2", '{"index_format": "%s", "something_else": 5}' % INDEX_FORMAT
    )
    with pytest.raises(manifest.SnapshotStoreError, match="term_buckets"):
        read_index_meta(spark, out2)
    with pytest.raises(manifest.SnapshotStoreError, match="term_buckets"):
        read_index(spark, out2)

    # and so is one without the analyzer its terms were tokenized with
    out3 = committed_state(
        "idxmeta3", '{"index_format": "%s", "term_buckets": 4}' % INDEX_FORMAT
    )
    with pytest.raises(manifest.SnapshotStoreError, match="analyzer"):
        read_index(spark, out3)
    # or with an analyzer no build can have: an unknown strategy, a non-bool flag
    for i, bad in enumerate(
        ['{"strategy": "bogus", "stem": false, "stopwords": false}',
         '{"strategy": "code", "stem": 1, "stopwords": false}']
    ):
        out4 = committed_state(
            f"idxmeta4{i}",
            '{"index_format": "%s", "term_buckets": 4, "analyzer": %s}'
            % (INDEX_FORMAT, bad),
        )
        with pytest.raises(manifest.SnapshotStoreError, match=re.escape(out4)):
            read_index_meta(spark, out4)

    # absent path: nothing committed
    with pytest.raises(manifest.SnapshotStoreError, match="no snapshot"):
        read_index_meta(spark, str(tmp_path / "nope"))


def _folded_buckets(df):
    """Bucket literals in the scan's PartitionFilters of a pruned index."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "term_bucket" in pf.group(1), plan
    # IN (...) folds to INSET past the optimizer's conversion threshold and
    # to = for a single distinct bucket
    m = re.search(
        r"term_bucket#\d+ (?:IN \(([\d, ]*)\)|INSET ([\d, ]+)|= (\d+))",
        pf.group(1),
    )
    assert m, pf.group(1)
    return {int(v) for v in next(g for g in m.groups() if g).split(",")}


@pytest.mark.parametrize("term_buckets", [1, 16, 32])
def test_folded_bucket_filter_matches_writer_hash(spark, tmp_path, term_buckets):
    """prune_terms folds the writer's bucket expression into the scan
    filter: for random terms, hard-to-quote characters included, the folded
    literals must equal bucket_values_for_terms and the term_bucket values
    write_index stored, term by term and for the whole set, and the pruned
    rows hold every term, whatever the parser's escaping setting."""
    import random
    import string

    from information_retrieval_project_spark.index.bucketing import (
        bucket_values_for_terms,
        prune_terms,
    )
    from information_retrieval_project_spark.index.build import (
        build_postings,
        collection_stats,
        doc_stats,
    )

    rng = random.Random(term_buckets)
    alphabet = string.ascii_letters + string.digits + "_.-éß中'\\\n\u00a0"
    terms = sorted(
        {"".join(rng.choices(alphabet, k=rng.randint(1, 12))) for _ in range(12)}
        | {"it's", "a\\b", "x\\'y", "a\nb", "a\u00a0b"}
    )
    tf = spark.createDataFrame(
        [(d, t, 1 + d % 3) for d in range(5) for t in terms],
        "doc_id long, term string, tf long",
    )
    ds = doc_stats(tf)
    out = str(tmp_path / "idx")
    write_index(
        build_postings(tf, BuildConfig(hot_df_threshold=1000)),
        ds,
        collection_stats(ds),
        out,
        term_buckets=term_buckets,
    )
    idx, _, _ = read_index(spark, out)
    stored = {
        r["term"]: r["term_bucket"]
        for r in idx.select("term", "term_bucket").distinct().collect()
    }
    assert sorted(stored) == terms
    want = set(stored.values())
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            for t in terms:
                assert _folded_buckets(prune_terms(idx, [t], term_buckets)) == {
                    stored[t]
                }
            pruned = prune_terms(idx, terms, term_buckets)
            assert _folded_buckets(pruned) == want
            got = {r["term"] for r in pruned.select("term").distinct().collect()}
            assert got == set(terms), escaped
            assert set(bucket_values_for_terms(spark, terms, term_buckets)) == want
    finally:
        spark.conf.set(key, before)
