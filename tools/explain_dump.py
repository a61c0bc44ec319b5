"""Dump .explain("formatted") for the headline queries + the serving path.

Usage: python tools/explain_dump.py <out_dir> <suffix> [names...]
Writes <out_dir>/<name>_<suffix>.txt per query. Suffix is e.g. "before" /
"after". The serving path entry ("bm25_served") builds a small index
in-process and explains bm25_topk_compressed (the served top-k path).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# gates whose result is a plan, not a localCheckpoint scan (the pre-checkpoint
# plans of the others are pinned in tests/test_plan_quality.py)
DEFAULT = [
    "term_df",
    "token_stats",
    "cosine_scores",
]


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT + ["bm25_served", "bm25_batch_served"]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from information_retrieval_project_spark import entry_queries as EQ
    from information_retrieval_project_spark.session import get_spark

    spark = get_spark("explain-dump", master="local[8]", shuffle_partitions=8)
    try:
        served = [n for n in names if n.startswith("bm25_served") or n.startswith("bm25_batch_served")]
        for name in names:
            if name in served:
                continue
            df = EQ.QUERIES[name](spark, sf_dir)
            with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(fmt_plan(df))
            print(f"wrote {name}_{suffix}")
        if served:
            from information_retrieval_project_spark.corpus import generate_corpus
            from information_retrieval_project_spark.index.build import (
                BuildConfig,
                build_index,
            )
            from information_retrieval_project_spark.queryexec.wand import (
                bm25_topk_compressed,
                bm25_topk_batch_compressed,
            )

            corpus = generate_corpus(spark, 20000, partitions=8)
            idx, ds, cs_df = build_index(
                corpus, BuildConfig(hot_df_threshold=20000, docs_per_salt=20000)
            )
            idx = idx.cache()
            ds = ds.cache()
            cs = cs_df.collect()[0]
            idx.count(), ds.count()
            if "bm25_served" in served:
                q = bm25_topk_compressed(
                    spark, idx, ds, cs["n_docs"], cs["avgdl"],
                    ["join", "spark", "window"], k=10,
                )
                with open(f"{out_dir}/bm25_served_{suffix}.txt", "w") as f:
                    f.write(fmt_plan(q))
                print(f"wrote bm25_served_{suffix}")
            if "bm25_batch_served" in served:
                qb = bm25_topk_batch_compressed(
                    spark, idx, ds, cs["n_docs"], cs["avgdl"],
                    {0: ["join", "spark"], 1: ["window", "hash"]},
                    k=5, round_scores=5,
                )
                with open(f"{out_dir}/bm25_batch_served_{suffix}.txt", "w") as f:
                    f.write(fmt_plan(qb))
                print(f"wrote bm25_batch_served_{suffix}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
