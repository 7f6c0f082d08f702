#!/usr/bin/env python
"""Replay a SUBSET of catalog entries against the DuckDB oracle — the
per-change correctness gate for optimization rounds (the full
tests/driver_replica.py run stays the round-close gate; this isolates
the entries a single optimization touched so the edit→check loop is
minutes, not the full catalog).

Usage:
    python tools/oracle_subset.py [--sf-dir /root/testdata/sf0.01] name...

Same mechanics as the replica: vanilla local[8] session, and each entry
checked by the replica's own ``tests.oracle_utils.check_entry`` (both
spark.sql.timestampType values, DuckDB compare for oracled entries,
the driver's pandas canonicalization for rows-only ones).
"""

from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-subset")
        # the console progress bar would share a line with ok/FAIL output
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from tests.oracle_utils import check_entry, duck_connection

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2
    con = duck_connection(args.sf_dir)

    bad = 0
    for name in args.names:
        entry = check_entry(spark, con, qs[name], args.sf_dir, oracles.get(name))
        detail = " ".join(
            f"{k}={v}" for k, v in entry.items() if k not in ("ok", "sec")
        )
        status = "ok" if entry["ok"] else "FAIL"
        bad += not entry["ok"]
        print(f"{status:4s} {entry['sec']:6.2f}s {name} {detail}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
