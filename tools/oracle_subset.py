#!/usr/bin/env python
"""Replay a SUBSET of catalog entries against the DuckDB oracle — the
per-change correctness gate for optimization rounds (the full
tests/driver_replica.py run stays the round-close gate; this isolates
the entries a single optimization touched so the edit→check loop is
minutes, not the full catalog).

Usage:
    python tools/oracle_subset.py [--sf-dir /root/testdata/sf0.01] name...

Same mechanics as the replica: vanilla local[8] session, each entry run
under BOTH spark.sql.timestampType=TIMESTAMP_NTZ and TIMESTAMP_LTZ,
oracled entries compared via tests.oracle_utils.compare, rows-only
entries canonicalized through the driver's pandas path.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

TS_TYPES = ("TIMESTAMP_NTZ", "TIMESTAMP_LTZ")
CANON_CAP = 10_000


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-subset")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from tests.oracle_utils import duck_connection, compare

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2
    con = duck_connection(args.sf_dir)

    bad = 0
    for name in args.names:
        fn = qs[name]
        t0 = time.time()
        ok, details = True, []
        for ts_type in TS_TYPES:
            spark.conf.set("spark.sql.timestampType", ts_type)
            try:
                df = fn(spark, args.sf_dir)
                if name in oracles:
                    oracle_pdf = con.execute(oracles[name]).df()
                    problems = compare(df, oracle_pdf)
                    if problems:
                        ok = False
                        details.append(f"{ts_type}: {problems[:3]}")
                        break
                else:
                    pdf = df.limit(CANON_CAP).toPandas()
                    details.append(f"{ts_type}: rows_only={len(pdf)}")
                    # the driver canonicalizes via pandas: a failure here
                    # is the entry's output dtype, not the query
                    try:
                        pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
                    except Exception as exc:  # noqa: BLE001
                        ok = False
                        details.append(
                            f"{ts_type} canon: {type(exc).__name__}: {exc}"
                        )
                        break
            except Exception as exc:  # noqa: BLE001
                ok = False
                details.append(f"{ts_type}: {type(exc).__name__}: {exc}")
                break
        detail = " ".join(details)
        status = "ok" if ok else "FAIL"
        bad += not ok
        print(f"{status:4s} {time.time() - t0:6.2f}s {name} {detail}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
