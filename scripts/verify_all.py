"""Check gate queries against their DuckDB oracles, under two session time zones.

For each time zone (UTC, then America/New_York) a fresh Python process loads
`__spark_entry__.py`, builds its own default SparkSession, runs `entry()`,
then each requested `queries()[name]` at the fixture directory and compares
it with `oracle_sql()[name]` through `oracle.compare.assert_frames_match`.
The test suite checks every query at the sf0.001 fixture under UTC, and
only a few under a second time zone; this is the wider sweep.

Usage:
    python scripts/verify_all.py [--sf-dir DIR] [name ...]

With no names every query is checked. The fixture directory defaults to the
sf0.01 fixture the test suite uses (tests/conftest.py SF_MID). Prints one
line per query and time zone and exits non-zero if any query fails.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TIME_ZONES = ("UTC", "America/New_York")
CORES = min(os.cpu_count() or 4, 8)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def check(tz: str, sf_dir: str, names: list[str]) -> int:
    """Run the named queries (all when empty) in this process; return the
    number of failures."""
    import importlib.util

    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, str(REPO))
    from spatialflink_spark.oracle.compare import assert_frames_match

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", tz)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    print(f"[{tz}] entry rows: {len(entry.entry(spark).collect())}", flush=True)

    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entry.queries(), entry.oracle_sql()
    failed = 0
    for name in names or list(qs):
        t0 = time.time()
        try:
            got = qs[name](spark, sf_dir).toPandas()
            assert_frames_match(got, con.execute(oracles[name]).fetchdf(), name)
            status = f"OK   {len(got)} rows"
        except Exception as e:  # report every query, not just the first failure
            failed += 1
            status = f"FAIL {type(e).__name__}: {str(e)[:300]}"
        print(f"[{tz}] {name:32s} {status} ({time.time() - t0:.1f}s)", flush=True)
    spark.stop()
    return failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf-dir", default=None, help="fixture directory")
    ap.add_argument("--tz", default=None, help=argparse.SUPPRESS)  # child mode
    args = ap.parse_args()
    if args.sf_dir is None:
        sys.path.insert(0, str(REPO))
        from tests.conftest import SF_MID

        args.sf_dir = SF_MID
    if args.tz:
        sys.exit(1 if check(args.tz, args.sf_dir, args.names) else 0)
    bad = []
    for tz in TIME_ZONES:
        cmd = [sys.executable, __file__, "--tz", tz, "--sf-dir", args.sf_dir, *args.names]
        if subprocess.run(cmd).returncode != 0:
            bad.append(tz)
    print("verify_all:", "FAILED under " + ", ".join(bad) if bad else "all exact")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
