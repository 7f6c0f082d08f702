#!/usr/bin/env python
"""Continuous aggregate (streaming rollup) with exactly-once folding.

    python examples/continuous_rollup.py           # uses /root/testdata/sf0.001
    SPARK_GRAFT_SF_DIR=... python examples/continuous_rollup.py

The pattern: every micro-batch aggregates ONLY its own rows and folds
the partial into a stored parquet rollup (decimal-monoid merge — see
``streaming/rollup.py``), so the all-time hourly aggregate is current
after every trigger with ZERO streaming state and O(batch + rollup)
work per trigger, never O(history).

What this demo shows beyond the happy path is the REPLAY story:

1. ``batch_id`` fence — a crash-restarted query redelivers its last
   batch (foreachBatch is at-least-once); the sidecar's
   per-incarnation high-water-mark map makes the merge idempotent.
2. ``offset_cols`` EVENT fence (r15) — an operator recreates the
   checkpoint and the new query re-reads the source from earliest.
   Batch ids restart at 0, so only the DATA-carried
   (partition, offset) coordinates can tell "already folded" from
   "new"; the stored per-partition offset high-water marks drop
   replayed rows before the fold, and a partially-new batch folds
   exactly its new tail.
3. The HLL distinct-count sibling needs no event fence at all — the
   sketch union is idempotent at the event level.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_demo(spark, sf_dir: str, workdir: str) -> dict:
    """The demo body, returned as checkable facts (the test asserts
    them; the CLI prints them)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.sources.files import load_table
    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_distinct_rollup,
        merge_batch_into_rollup,
    )

    rollup = os.path.join(workdir, "hourly_rollup")
    distinct = os.path.join(workdir, "hourly_users")
    oc = ("partition", "offset")

    # A Kafka-shaped event feed: the source assigns each event a
    # partition and a per-partition monotone offset (here derived
    # deterministically from the fixture so the demo replays bit-stable)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", "user_id", "event_id",
        (F.col("user_id") % 4).cast("int").alias("partition"),
    )
    w = Window.partitionBy("partition").orderBy("ts", "event_id")
    # offsets are PER-PARTITION (the Kafka contract), so micro-batch
    # boundaries must be per-partition contiguous PREFIX ranges too —
    # "tier" cuts each partition's offset sequence into thirds
    ev = (
        ev.withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .withColumn(
            "tier",
            F.least(
                F.floor(
                    F.col("offset")
                    * 3
                    / F.count("*").over(Window.partitionBy("partition"))
                ),
                F.lit(2),
            ).cast("int"),
        )
        .localCheckpoint(eager=False)
    )
    n_events = ev.count()

    # ---- run 1 (incarnation "run-1"): three micro-batches ----------
    batches = [ev.filter(F.col("tier") == i) for i in range(3)]
    for bid, b in enumerate(batches):
        assert merge_batch_into_rollup(
            rollup, b, bid, incarnation="run-1", offset_cols=oc
        )
        merge_batch_into_distinct_rollup(
            distinct, b, bid, incarnation="run-1"
        )

    def total() -> float:
        # sum the decimal column AS decimal (exact, order-insensitive)
        # and cast once — double accumulation over bucket rows would
        # drift from the one-shot decimal aggregate by float ulps
        return float(
            spark.read.parquet(rollup)
            .agg(F.sum("_sum_v").cast("double"))
            .collect()[0][0]
        )

    after_run1 = total()

    # crash replay WITHIN the incarnation: batch 2 redelivered → no-op
    replay_within = merge_batch_into_rollup(
        rollup, batches[2], 2, incarnation="run-1", offset_cols=oc
    )

    # ---- run 2: fresh checkpoint, re-reads the source from earliest.
    # Batch ids restart at 0 — the batch fence ALONE would re-merge
    # everything; the offset fence drops every already-folded event.
    replay_fresh = merge_batch_into_rollup(
        rollup, ev, 0, incarnation="run-2", offset_cols=oc
    )
    after_replay = total()

    # a partially-new batch (replayed tail + genuinely new events)
    # folds exactly its new rows: the new events carry offsets past
    # the stored per-partition high-water mark
    tail = batches[2]
    late = tail.withColumn(
        "offset", F.col("offset") + F.lit(n_events).cast("long")
    )
    folded_tail = merge_batch_into_rollup(
        rollup, tail.unionByName(late), 1, incarnation="run-2",
        offset_cols=oc,
    )
    after_tail = total()

    # ground truth: the exact all-events aggregate (plus the one
    # deliberately re-bumped tail) equals the stored rollup
    exact = float(
        ev.agg(F.sum(F.col("value").cast("decimal(22,6)")).cast("double"))
        .collect()[0][0]
    )
    tail_sum = float(
        tail.agg(F.sum(F.col("value").cast("decimal(22,6)")).cast("double"))
        .collect()[0][0]
    )
    users_est = (
        spark.read.parquet(distinct)
        .agg(F.sum("users_est"))
        .collect()[0][0]
    )
    return {
        "n_events": n_events,
        "after_run1": after_run1,
        "replay_within": replay_within,       # False: batch fence
        "replay_fresh": replay_fresh,         # False: offset fence
        "after_replay": after_replay,         # unchanged
        "folded_tail": folded_tail,           # True: only the new rows
        "after_tail": after_tail,
        "exact": exact,
        "tail_sum": tail_sum,
        "users_est_total": int(users_est),
    }


def main() -> None:
    import tempfile

    from airflow_kafka_spark_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = build_session(app_name="continuous_rollup")
    with tempfile.TemporaryDirectory() as workdir:
        facts = run_demo(spark, sf_dir, workdir)
    print("\n== Continuous rollup, exactly-once across replays ==")
    print(f"events folded (3 micro-batches):     {facts['n_events']}")
    print(f"stored total after run 1:            {facts['after_run1']:.6f}")
    print(f"crash replay of batch 2 merged?      {facts['replay_within']}  (batch-id fence)")
    print(f"fresh-checkpoint full replay merged? {facts['replay_fresh']}  (offset fence)")
    print(f"stored total after both replays:     {facts['after_replay']:.6f}")
    print(f"exact one-shot aggregate:            {facts['exact']:.6f}")
    assert facts["after_replay"] == facts["exact"]
    print("stored rollup == exact aggregate: exactly-once held.")


if __name__ == "__main__":
    main()
