"""Local replica of the driver's correctness gate.

Runs every __spark_entry__ query on Spark and its oracle SQL on DuckDB at the
given sf dir, compares row count, column names, and order-insensitive values
(floats rounded inside the queries themselves), and prints a per-query
verdict. Usage: python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ["documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def kind_mismatch(g: pd.DataFrame, w: pd.DataFrame) -> list[str]:
    """Columns whose dtype KIND differs (int vs float vs str vs bool).

    The driver's value hash distinguishes representations: DuckDB sum(BIGINT)
    → HUGEINT → pandas float64 hashes differently from Spark's int64 even when
    numerically equal (CORRECTNESS_r01 doc_stats/collection_stats). Width
    differences (int32 vs int64) are fine; kind differences are not."""
    bad = []
    for c in g.columns:
        gk, wk = g[c].dtype.kind, w[c].dtype.kind
        gk = "i" if gk == "u" else gk
        wk = "i" if wk == "u" else wk
        if gk != wk:
            bad.append(f"{c}: spark {g[c].dtype} vs oracle {w[c].dtype}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E

    if os.environ.get("CONTRACT_VANILLA") == "1":
        # driver-session independence check: plain builder, default configs
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("contract-vanilla").master(
            "local[8]"
        ).getOrCreate()
    else:
        from information_retrieval_project_spark.session import get_spark

        spark = get_spark("contract-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok(rows-only) {name}: {len(got)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(sql)
            # Representation trap (VERDICT r2 #10, same class as the r1
            # HUGEINT rows): DECIMAL/HUGEINT results reach pandas as
            # object(Decimal)/float64, which the driver's value hash
            # distinguishes from Spark's double/long even when numerically
            # equal. Force explicit casts in the oracle SQL instead.
            wide = [
                f"{c}: {t}"
                for c, t in zip(rel.columns, rel.types)
                if "DECIMAL" in str(t).upper() or "HUGEINT" in str(t).upper()
            ]
            if wide:
                print(
                    f"FAIL {name}: oracle returns driver-unsafe type(s) "
                    f"{wide} — CAST to DOUBLE/BIGINT in the SQL"
                )
                failures.append(name)
                continue
            want = rel.df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures.append(name)
            continue
        km = kind_mismatch(g, w)
        if km:
            print(f"FAIL {name}: dtype-kind mismatch {km}")
            failures.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            print(f"OK   {name}: {len(g)} rows [{time.time()-t0:.1f}s]")
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch: {str(e)[:400]}")
            failures.append(name)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} OK; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
