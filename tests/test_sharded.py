"""Doc-sharded serving path == unsharded native BM25 (rank + score)."""

import re

import pytest

from information_retrieval_project_spark.corpus import generate_corpus
from information_retrieval_project_spark.index.build import (
    collection_stats,
    doc_stats,
    tokenize_tf,
    with_doc_id,
)
from information_retrieval_project_spark.queryexec.bm25 import bm25_topk
from information_retrieval_project_spark.queryexec.sharded import (
    bm25_topk_sharded,
    build_sharded_index,
    global_term_df,
)

QUERIES = [
    ["def", "return", "import"],
    ["parse_config_16", "handle_request_100"],
    ["get_cache_44", "class"],
    ["zzz_absent"],
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """tf (cached), and the sharded index and doc stats stored as parquet
    and read back, so a serve plan shows only the serve's operators."""
    corpus = generate_corpus(spark, 500, partitions=4)
    tf = tokenize_tf(with_doc_id(corpus)).cache()
    out = tmp_path_factory.mktemp("sharded")
    build_sharded_index(tf, n_shards=8).write.parquet(str(out / "index"))
    doc_stats(tf).write.parquet(str(out / "doc_stats"))
    idx = spark.read.parquet(str(out / "index"))
    ds = spark.read.parquet(str(out / "doc_stats"))
    cs = collection_stats(ds).collect()[0]
    return tf, ds, cs, idx


def test_global_df_sums_across_shards(built):
    tf, _, _, idx = built
    want = {r["term"]: r["df"] for r in tf.groupBy("term").count().withColumnRenamed("count", "df").collect()}
    got = {r["term"]: r["df"] for r in global_term_df(idx).collect()}
    assert got == want


@pytest.mark.parametrize("q", QUERIES)
def test_sharded_wand_equals_unsharded(spark, built, q):
    """The sharded serve ranks and scores like the unsharded corpus-side
    BM25, and its plan has exactly one Python operator, the posting
    decode (MapInPandas): no per-shard Python kernel (cogroup). The name
    is kept from the per-shard WAND serve this path replaced."""
    tf, ds, cs, idx = built
    sharded = bm25_topk_sharded(spark, idx, ds, cs["n_docs"], cs["avgdl"], q, k=10)
    plan = sharded._sc._jvm.PythonSQLUtils.explainString(
        sharded._jdf.queryExecution(), "formatted"
    )
    python_ops = set(re.findall(r"\((\d+)\) (\w*(?:Python|Pandas|Arrow)\w*)", plan))
    assert [op for _, op in python_ops] == ["MapInPandas"], plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    a = bm25_topk(spark, tf, ds, cs["n_docs"], cs["avgdl"], q, k=10).collect()
    b = sharded.collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    for x, y in zip(a, b):
        assert abs(x["score"] - y["score"]) < 1e-9
