"""spark-submit entry point for the index build + serving (north_rule
launch mode).

Usage:
    tools/spark_submit.sh [--docs N] [--out DIR] [--units U]
    tools/spark_submit.sh --out DIR --query "def return buffer" [--k 10]

Build mode: builds the synthetic input_hint corpus, runs the
checkpoint-resumable build, finalizes the compressed index, and prints
JSON metrics; re-running with the same --out resumes from the lineage
manifest. The finalized index is the snapshot store --out/index_store.
Query mode (--query): reads that store with read_index, tokenizes the
query with the analyzer its snapshot committed and serves a BM25 top-k
through bm25_topk_compressed (one bucket-pruned scan at the stored
modulus, one exhaustive posting decode), printing the query's terms and
the ranked hits as JSON — the full build-then-serve lifecycle through one
spark-submit surface.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10000)
    ap.add_argument("--out", default="/tmp/ir_spark_index")
    ap.add_argument("--units", type=int, default=8)
    ap.add_argument("--query", default=None, help="serve this query instead of building")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    # imports resolved from the --py-files zip on the executors
    from pyspark.sql import SparkSession

    from information_retrieval_project_spark.corpus import generate_corpus
    from information_retrieval_project_spark.index.build import BuildConfig
    from information_retrieval_project_spark.pipelines.lineage import (
        finalize_index,
        load_manifest,
        resumable_build,
    )

    spark = SparkSession.builder.appName("ir-index-build").getOrCreate()
    if args.query is not None:
        import os

        from information_retrieval_project_spark.functions.textnorm import (
            normalize_tokenize,
        )
        from information_retrieval_project_spark.index.build import (
            read_index,
            read_index_meta,
        )
        from information_retrieval_project_spark.queryexec.wand import (
            bm25_topk_compressed,
        )

        t0 = time.time()
        store = os.path.join(args.out, "index_store")
        idx, ds, _ = read_index(spark, store)
        meta = read_index_meta(spark, store)
        a = meta["analyzer"]
        tokens = normalize_tokenize(
            args.query, a.strategy, stem=a.stem, stopwords=a.stopwords
        )
        hits = bm25_topk_compressed(
            spark, idx, ds, meta["n_docs"], meta["avgdl"], tokens, k=args.k,
            term_buckets=meta["term_buckets"],
        ).collect()
        print(
            json.dumps(
                {
                    "query": tokens,
                    "k": args.k,
                    "seconds": round(time.time() - t0, 3),
                    "hits": [
                        {
                            "rank": r["rank"],
                            "doc_id": r["doc_id"],
                            "score": round(r["score"], 5),
                        }
                        for r in hits
                    ],
                }
            )
        )
        spark.stop()
        return
    t0 = time.time()
    corpus = generate_corpus(spark, args.docs)
    metrics = resumable_build(spark, corpus, args.out, n_units=args.units, cfg=BuildConfig())
    finalize_index(spark, args.out)
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "n_docs": args.docs,
                "units_built_this_run": len(metrics),
                "units_total": len(load_manifest(args.out)),
                "seconds": round(dt, 2),
                "files_per_sec": round(args.docs / dt, 2),
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
