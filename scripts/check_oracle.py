"""Local replica of the driver's correctness gate: run each
__spark_entry__ query at a given SF and compare against its DuckDB oracle
(row count + schema + order-insensitive values).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Prints one PASS / OK? (rows-only) / FAIL line per query, then ALL PASS or
the failure count; exits non-zero on any failure or unknown query name.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

# the engine and registry of the checkout this script lives in
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod


def vanilla_session():
    """A session like the correctness driver's: NO engine defaults, in
    particular no nanosAsLong — read paths must be self-sufficient."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("oracle-check-vanilla")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime as dt
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # an arg that names no registry query would silently filter EVERYTHING
    # out and print a vacuous ALL PASS (it happened: '--only a,b' checked
    # nothing) — fail loudly instead
    unknown = only - set(entrymod.queries())
    if unknown:
        raise SystemExit(
            f"check_oracle: unknown query name(s) {sorted(unknown)}; "
            "pass space-separated names from __spark_entry__.queries()"
        )
    spark = vanilla_session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    from seafan_spark.session import cleanup as session_cleanup

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # free escaped localCheckpoint blocks from the previous query —
        # 145 queries in one session otherwise accumulate dead executor
        # memory (the r05 x3 late-query drift)
        session_cleanup(spark, all=True)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:200]}")
            failures += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: schema {sorted(scols)} vs {sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            failures += 1
            continue
        _, skey = frame_key(scols, srows)
        _, dkey = frame_key(dcols, drows)
        if skey != dkey:
            bad = next(i for i, (a, b) in enumerate(zip(skey, dkey)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"  spark : {skey[bad]}")
            print(f"  duckdb: {dkey[bad]}")
            failures += 1
            continue
        print(f"PASS {name} ({len(srows)} rows)")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
