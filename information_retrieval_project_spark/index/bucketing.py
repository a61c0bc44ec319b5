"""The ONE term-bucket partitioning scheme shared by every stored relation.

Both the main compressed index (index/build.write_index → queryexec/wand
pruning) and the positional index (index/positions) are written by
write_bucketed, partitioned by the term's bucket, and prune query-time
scans by the same hash of the query terms. The hash is defined once, as
the SQL text TERM_BUCKET_SQL, so the write and read sides can never drift
apart — a mismatched modulus silently drops valid postings (ADVICE r1).
The prune is one SQL predicate, so building it is one py4j call however
many terms it has. Its terms are hex literals: a quoted '…' literal
depends on spark.sql.parser.escapedStringLiterals, under which `it's` or
`a\\b` silently match nothing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TERM_BUCKET_SQL = "pmod(xxhash64({}), {})"


def term_bucket_expr(term_buckets: int) -> Column:
    """Stable bucket of the `term` column under modulus term_buckets."""
    return F.expr(TERM_BUCKET_SQL.format("term", int(term_buckets)))


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
    """Rows for `terms` only, as one SQL predicate; when df carries a
    term_bucket partition column and the stored modulus is supplied, the
    predicate includes the bucket of each term as the writer's hash over a
    literal. The optimizer folds those to constants, so the scan prunes
    whole partitions (`PartitionFilters: [term_bucket IN (...)]`) without
    running a job. No terms select no rows."""
    lits = [f"CAST(X'{t.encode().hex()}' AS STRING)" for t in sorted(set(terms))]
    if not lits:
        return df.filter(F.lit(False))
    cond = f"term IN ({', '.join(lits)})"
    if "term_bucket" in df.columns and term_buckets:
        buckets = [TERM_BUCKET_SQL.format(x, int(term_buckets)) for x in lits]
        cond += f" AND term_bucket IN ({', '.join(buckets)})"
    return df.filter(F.expr(cond))
