"""Dump .explain("formatted") for the headline queries + the serving path.

Usage: python tools/explain_dump.py <out_dir> <suffix> [names...]
Writes <out_dir>/<name>_<suffix>.txt per query. Suffix is e.g. "before" /
"after". The serving path entry ("bm25_served") builds a small index
in-process and explains bm25_topk_compressed (the served top-k path). The
"index_build" entry explains build_postings over a tokenized corpus for both
layouts, writing index_build_merged_<suffix>.txt and
index_build_segmented_<suffix>.txt.
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
    names = sys.argv[3:] or DEFAULT + ["bm25_served", "bm25_batch_served", "index_build"]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from information_retrieval_project_spark import entry_queries as EQ
    from information_retrieval_project_spark.session import get_spark

    spark = get_spark("explain-dump", master="local[8]", shuffle_partitions=8)
    try:
        served = [n for n in names if n.startswith("bm25_served") or n.startswith("bm25_batch_served")]
        for name in names:
            if name in served or name == "index_build":
                continue
            df = EQ.QUERIES[name](spark, sf_dir)
            with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(fmt_plan(df))
            print(f"wrote {name}_{suffix}")
        from information_retrieval_project_spark.corpus import generate_corpus
        from information_retrieval_project_spark.index.build import (
            BuildConfig,
            build_index,
            build_postings,
            tokenize_tf,
            with_doc_id,
        )

        if "index_build" in names:
            tf = tokenize_tf(with_doc_id(generate_corpus(spark, 2000, partitions=8)))
            for layout, segmented in (("merged", False), ("segmented", True)):
                idx = build_postings(tf, BuildConfig(segment_hot_terms=segmented))
                with open(f"{out_dir}/index_build_{layout}_{suffix}.txt", "w") as f:
                    f.write(fmt_plan(idx))
                print(f"wrote index_build_{layout}_{suffix}")
        if served:
            from information_retrieval_project_spark.queryexec.wand import (
                bm25_topk_compressed,
                bm25_topk_batch_compressed,
            )

            corpus = generate_corpus(spark, 20000, partitions=8)
            idx, ds, cs_df = build_index(corpus)
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
