"""Replica of the DRIVER harness: vanilla SparkSession (no engine confs),
all catalog queries at sf0.01, DuckDB oracle compare. Run directly:

    python tests/driver_replica.py [sf_dir]

Every catalog entry runs under BOTH session shapes a harness might use:
the r02 range_join_clicks failure proved the real driver sets
spark.sql.timestampType=TIMESTAMP_NTZ (timestamp_micros returned NTZ
there), and the conf is runtime-settable — so each query is checked
under TIMESTAMP_NTZ and again under the default TIMESTAMP_LTZ, within
one session. This is the pre-flight for CORRECTNESS_r{N}.json — it must
be all-green from a session the engine did NOT build (VERDICT r1
item 1/3).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path


def engine_tree_stamp() -> str:
    """Git hash of the engine-source tree this replica runs against,
    '+dirty' when the working tree has uncommitted engine changes.
    PREFLIGHT_r{N}.txt embeds this so a preflight that predates later
    engine commits is *provably* stale (r5 shipped one 2 engine commits
    behind HEAD; tests/test_preflight_fresh.py closes that hole)."""
    import subprocess

    repo = Path(__file__).resolve().parents[1]
    try:
        tree = subprocess.run(
            ["git", "-C", str(repo), "rev-parse", "HEAD:airflow_kafka_spark_spark"],
            capture_output=True, text=True, check=True, timeout=30,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", str(repo), "status", "--porcelain",
             "airflow_kafka_spark_spark"],
            capture_output=True, text=True, check=True, timeout=30,
        ).stdout.strip()
        return tree + ("+dirty" if dirty else "")
    except Exception:
        return "unknown"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    print(f"engine-tree: {engine_tree_stamp()}", flush=True)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-replica")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from tests.oracle_utils import TS_TYPES, check_entry, duck_connection

    # the driver smoke-checks entry() on its own session too
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    n_entry = entrymod.entry(spark).count()
    print(f"entry() rows: {n_entry}", flush=True)
    assert n_entry > 0, "entry() returned no rows"

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_connection(sf_dir)

    # the driver measures exactly the FIRST 50 queries() entries — print
    # the window so each round's measurement slate is reviewable (and a
    # rotation-priority bug is visible BEFORE the round lands)
    window = list(qs)[:50]
    print("=== measurement window (first 50 queries() entries) ===")
    for i, name in enumerate(window, 1):
        print(f"{i:3d} {name}")
    print("=== end window ===", flush=True)

    results: dict[str, dict] = {}
    t_all = time.time()
    for name, fn in qs.items():
        entry = check_entry(spark, con, fn, sf_dir, oracles.get(name))
        results[name] = entry
        status = "ok" if entry["ok"] else "FAIL"
        print(f"{status:4s} {entry['sec']:6.2f}s {name}", flush=True)

    bad = {k: v for k, v in results.items() if not v["ok"]}
    print(
        f"\n{len(results) - len(bad)}/{len(results)} green "
        f"(each under {' + '.join(TS_TYPES)}) in {time.time() - t_all:.0f}s"
    )
    if bad:
        print(json.dumps(bad, indent=2, default=str))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
