"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry at sf0.01 and compare against its
oracle_sql() DuckDB twin (row count + column names + order-insensitive
value comparison). Usage: python tools/check_oracles.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(v):
    """Stringify WITHOUT collapsing float->int: the driver's value hash
    distinguishes int64 3 from float64 3.0 (a DuckDB HUGEINT sum comes
    back as float64), so the local gate must too -- a dtype mismatch
    that the old int-collapse masked caused the only round-1 hash fail
    (events_sessionize_lag). Oracles must CAST to the Spark-side dtype."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    return str(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame({c: [_canon(v) for v in df[c].tolist()] for c in df.columns})
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entry

    from structured_data_entity_extraction_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    # SINGLE SOURCE for the query-count facts docs reference (README /
    # COVERAGE.md / verify skill quote this line instead of hard-coding
    # counts that go stale -- VERDICT r3 #9). A "golden" oracle reads a
    # pre-materialized EXPECTED-OUTPUT parquet from data/golden/; an
    # oracle that merely reads a shared INPUT fixture parquet (and
    # recomputes the answer in SQL) counts as ANSI-SQL.
    n_golden = sum(
        1 for name in qs if name in oracles and "/data/golden/" in oracles[name]
    )
    n_sql = sum(
        1 for name in qs if name in oracles and "/data/golden/" not in oracles[name]
    )
    print(
        f"registry: {len(qs)} queries -- {n_sql} ANSI-SQL DuckDB oracles, "
        f"{n_golden} golden-parquet oracles, {len(qs) - n_sql - n_golden} rows-only"
    )
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name} [spark {time.perf_counter() - t0:.1f}s]: spark error {str(e)[:200]}")
            continue
        # Spark seconds (plan build + execution), so a query that
        # overruns the oracle window shows in the log
        secs = f"[spark {time.perf_counter() - t0:.1f}s]"
        if name not in oracles:
            print(f"rows  {name} {secs}: {len(sdf)} rows (rows-only check)")
            if len(sdf) == 0 and name != "exact_dup_groups":
                failures.append((name, "0 rows"))
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name} {secs}: duckdb error {str(e)[:200]}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns {list(a.columns)} vs {list(b.columns)}"))
            print(f"FAIL  {name} {secs}: column mismatch {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            print(f"FAIL  {name} {secs}: row count {len(a)} vs {len(b)}")
            continue
        if not a.equals(b):
            diff = (a != b)
            ndiff = int(diff.any(axis=1).sum())
            failures.append((name, f"{ndiff} differing rows"))
            idx = diff.any(axis=1)
            print(f"FAIL  {name} {secs}: {ndiff}/{len(a)} differing rows")
            print("  spark:", a[idx].head(3).to_dict("records"))
            print("  duck :", b[idx].head(3).to_dict("records"))
            continue
        print(f"OK    {name} {secs}: {len(a)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
