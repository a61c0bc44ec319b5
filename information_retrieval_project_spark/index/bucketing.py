"""The ONE term-bucket partitioning scheme shared by every stored relation.

Both the main compressed index (index/build.write_index → queryexec/wand
pruning) and the positional index (index/positions) are written by
write_bucketed, partitioned by `pmod(xxhash64(term), m)`, and prune
query-time scans by applying the same expression to the query terms. The
hash, the modulus handling, the write and the prune condition live HERE
so the write and read sides can never drift apart — a mismatched modulus
silently drops valid postings (ADVICE r1)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def term_bucket_expr(term_buckets: int, term: Column | str = "term") -> Column:
    """Stable bucket of `term` (a column or column name; the writer's `term`
    column by default) under modulus term_buckets."""
    return F.pmod(F.xxhash64(term), F.lit(int(term_buckets)))


def write_bucketed(df: DataFrame, path: str, term_buckets: int) -> None:
    """Write df as parquet at path, partitioned by its term bucket. Readers
    get df's columns plus a `term_bucket int` partition column."""
    (
        df.withColumn("term_bucket", term_bucket_expr(term_buckets))
        .repartition("term_bucket")
        .write.partitionBy("term_bucket")
        .parquet(path)
    )


def bucket_values_for_terms(spark, terms: list[str], term_buckets: int) -> list[int]:
    """Bucket values the given query terms hash to — computed with the SAME
    expression the writer used (never reimplement the hash driver-side)."""
    from ..queryexec.bm25 import query_terms_df

    rows = (
        query_terms_df(spark, terms)
        .select(term_bucket_expr(term_buckets).alias("tb"))
        .distinct()
        .collect()
    )
    return [r["tb"] for r in rows]


def prune_terms(
    df: DataFrame, terms: list[str], term_buckets: int | None = None
) -> DataFrame:
    """Rows for `terms` only; when df carries a term_bucket partition column
    and the stored modulus is supplied, the filter includes the bucket of
    each term as the writer's expression over a literal. The optimizer
    folds those to constants, so the scan prunes whole partitions
    (`PartitionFilters: [term_bucket IN (...)]`) without running a job."""
    uniq = sorted(set(terms))
    cond = F.col("term").isin(uniq)
    if "term_bucket" in df.columns and term_buckets:
        cond = cond & F.col("term_bucket").isin(
            [term_bucket_expr(term_buckets, F.lit(t)) for t in uniq]
        )
    return df.filter(cond)
