"""Streaming-shell tests (SURVEY.md §5.2.4): file-source micro-batches
drive the same transform the Kafka path runs; no Kafka needed."""

from __future__ import annotations

import os
import tempfile

import pytest

from airflow_kafka_spark_spark.sources.fixtures import build_history_messages
from airflow_kafka_spark_spark.streaming.pipeline import (
    analyze_history_batch,
    start_pipeline,
)
from .conftest import SF_DIR


def test_stream_end_to_end(spark):
    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    msgs = build_history_messages(spark, SF_DIR)
    msgs.write.mode("overwrite").parquet(src)
    n_expected = analyze_history_batch(spark.read.parquet(src)).count()

    seen: list[tuple[int, int]] = []

    def sink(df, batch_id):
        seen.append((batch_id, df.count()))

    source = spark.readStream.schema("key string, value string").parquet(src)
    q = start_pipeline(
        source,
        sink=sink,
        trigger="1 seconds",
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        query_name="test_stream",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(n for _, n in seen) == n_expected > 0


def test_stream_schema_matches_batch(spark):
    """Processed micro-batch schema == batch path schema (17 columns)."""
    from airflow_kafka_spark_spark.schemas import PROCESSED_SCHEMA

    msgs = build_history_messages(spark, SF_DIR).limit(2)
    out = analyze_history_batch(msgs)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in PROCESSED_SCHEMA.fields
    ]


def test_kafka_wire_format(spark):
    """to_kafka_records emits (key, value) with the 16-field JSON value
    (no date_str — reference spark/stock_analysis.py:262-268)."""
    import json

    from airflow_kafka_spark_spark.operators.serialize import to_kafka_records
    from airflow_kafka_spark_spark.schemas import JSON_VALUE_FIELDS

    msgs = build_history_messages(spark, SF_DIR).limit(1)
    rec = to_kafka_records(analyze_history_batch(msgs)).first()
    assert set(rec.asDict()) == {"key", "value"}
    payload = json.loads(rec["value"])
    assert "date_str" not in payload
    assert [k for k in payload] == [
        f for f in JSON_VALUE_FIELDS if f in payload
    ]  # reference field order, minus null-omitted fields


def test_watermarked_tumbling_window(spark):
    """Event-time tumbling agg under a watermark on a stream: the same
    tumbling_agg operator the batch catalog query uses."""
    import tempfile

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.temporal import tumbling_agg

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    rows = [
        (f"2024-01-01 {h:02d}:{m:02d}:00", "click", 1.0)
        for h in range(3)
        for m in (5, 25, 45)
    ]
    batch = spark.createDataFrame(
        rows, "ts_s string, event_type string, value double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src)
    windowed = tumbling_agg(
        stream.withWatermark("ts", "1 hour"),
        "ts",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("n_events")],
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("tumble_test")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT window_start, n_events FROM tumble_test ORDER BY window_start"
    ).collect()
    assert len(got) == 3 and all(r["n_events"] == 3 for r in got)


def test_watermarked_sliding_window(spark):
    """Sliding event-time windows (2 h window / 1 h slide) on a stream
    under a watermark: tumbling_agg's sliding variant — every event must
    land in exactly two overlapping windows."""
    import tempfile

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.temporal import tumbling_agg

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    rows = [
        (f"2024-01-01 {h:02d}:{m:02d}:00", "click", 1.0)
        for h in range(3)
        for m in (5, 25, 45)
    ]
    batch = spark.createDataFrame(
        rows, "ts_s string, event_type string, value double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    windowed = tumbling_agg(
        stream.withWatermark("ts", "1 hour"),
        "ts",
        "2 hours",
        ["event_type"],
        [F.count("*").alias("n_events")],
        slide="1 hour",
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT window_start, n_events FROM slide_test ORDER BY window_start"
    ).collect()
    # events in hour h fall in windows starting h-1 and h (epoch-aligned)
    assert [r["n_events"] for r in got] == [3, 6, 6, 3]
    assert sum(r["n_events"] for r in got) == 2 * len(rows)


def test_watermark_drops_late_rows_append_mode(spark):
    """Append-mode windowed agg: a row arriving BEHIND the watermark is
    dropped and its already-finalized window is never re-emitted — the
    at-most-once-per-window contract replay/lag recovery relies on."""
    import tempfile

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.temporal import tumbling_agg

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    schema = "ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, "ts_s string, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(workdir, name))
        import glob
        import shutil

        for f in glob.glob(os.path.join(workdir, name, "part-*")):
            shutil.move(f, os.path.join(src, f"{name}.parquet"))

    write_batch("b1", [("2024-01-01 01:05:00", 1.0), ("2024-01-01 02:05:00", 1.0)])
    stream = spark.readStream.schema(schema).parquet(src)
    windowed = tumbling_agg(
        stream.withWatermark("ts", "0 seconds"),
        "ts",
        "1 hour",
        [],
        [F.count("*").alias("n")],
    ).select("window_start", "n")
    q = (
        windowed.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one late row (01:30 < watermark 02:05) + one fresh row
        # that pushes the watermark past the 02:00 window
        write_batch("b2", [("2024-01-01 01:30:00", 99.0), ("2024-01-01 03:05:00", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["window_start"].strftime("%H:%M"): r["n"]
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # the 01:00 window closed with n=1; the late 01:30 row neither
    # re-opened it nor appeared anywhere
    assert got == {"01:00": 1, "02:00": 1}, got


def test_windowed_agg_restart_no_double_count(spark):
    """T3/T12 for windowed aggregation: stop the query, add data,
    restart from the SAME checkpoint — counts must reflect every row
    exactly once (state restored, batch 1 not re-aggregated)."""
    import tempfile

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.temporal import tumbling_agg

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    ckpt = os.path.join(workdir, "ckpt")

    def write_batch(name, rows):
        import glob
        import shutil

        spark.createDataFrame(rows, "ts_s string, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(workdir, name))
        for f in glob.glob(os.path.join(workdir, name, "part-*")):
            shutil.move(f, os.path.join(src, f"{name}.parquet"))

    def run_until_drained(qname):
        stream = spark.readStream.schema("ts timestamp, value double").parquet(src)
        windowed = tumbling_agg(
            stream.withWatermark("ts", "1 hour"),
            "ts",
            "1 hour",
            [],
            [F.count("*").alias("n")],
        ).select("window_start", "n")
        q = (
            windowed.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch("b1", [("2024-01-01 01:05:00", 1.0), ("2024-01-01 01:25:00", 1.0)])
    run_until_drained("restart_a")
    got1 = {
        r["window_start"].strftime("%H:%M"): r["n"]
        for r in spark.sql("SELECT * FROM restart_a").collect()
    }
    assert got1 == {"01:00": 2}, got1

    # second lifetime, same checkpoint: one more row in the same window
    # plus a new window — the old window must show 3, NOT 5 (no replay)
    write_batch("b2", [("2024-01-01 01:45:00", 1.0), ("2024-01-01 02:10:00", 1.0)])
    run_until_drained("restart_b")
    got2 = {
        r["window_start"].strftime("%H:%M"): r["n"]
        for r in spark.sql("SELECT * FROM restart_b").collect()
    }
    assert got2 == {"01:00": 3, "02:00": 1}, got2


def test_streaming_dedup_within_watermark(spark):
    """Duplicate event ids across micro-batches are dropped while the
    watermark holds the dedup state."""
    import tempfile
    import time as _time

    from airflow_kafka_spark_spark.operators.dedup import streaming_dedup

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)

    def add_file(i, rows):
        tmp = os.path.join(workdir, f"tmp{i}")
        spark.createDataFrame(rows, "event_id long, ts_s string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dest = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(tmp, part), dest)
        t = _time.time() - 100 + i * 10
        os.utime(dest, (t, t))

    add_file(0, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")])
    add_file(1, [(2, "2024-01-01 10:01:00"), (3, "2024-01-01 10:02:00")])  # 2 = dup

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = streaming_dedup(stream, ["event_id"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dedup_stream_test").collect()
    )
    assert got == [1, 2, 3]  # the redelivered id 2 appears exactly once


def test_observed_metrics_no_extra_job(spark):
    from airflow_kafka_spark_spark.sources.fixtures import build_history_messages
    from airflow_kafka_spark_spark.streaming.pipeline import observed

    msgs = build_history_messages(spark, SF_DIR)
    processed = analyze_history_batch(msgs)
    df, obs = observed(processed)
    n = df.count()  # ONE job; metrics ride along
    assert obs.get["n_rows"] == n > 0
    assert obs.get["n_symbols"] > 0


def test_available_now_backfill(spark):
    """availableNow drains the whole source then terminates on its own —
    the post-downtime catch-up mode."""
    import tempfile

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    msgs = build_history_messages(spark, SF_DIR)
    msgs.write.mode("overwrite").parquet(src)
    n_expected = analyze_history_batch(spark.read.parquet(src)).count()

    seen = []
    source = spark.readStream.schema("key string, value string").parquet(src)
    q = start_pipeline(
        source,
        sink=lambda df, bid: seen.append(df.count()),
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        query_name="backfill_test",
        available_now=True,
    )
    assert q.awaitTermination(120)  # self-terminates after the drain
    assert sum(seen) == n_expected > 0


def test_stream_stream_join(spark):
    """Watermarked stream-stream join: clicks joined to purchases of the
    same user within ±10 minutes, across two file-source streams."""
    import tempfile

    from airflow_kafka_spark_spark.streaming.pipeline import stream_stream_join

    workdir = tempfile.mkdtemp()
    cdir, pdir = os.path.join(workdir, "clicks"), os.path.join(workdir, "purch")
    clicks = [(1, "2024-01-01 10:00:00", "c1"),
              (1, "2024-01-01 12:00:00", "c2"),   # no purchase within 10m
              (2, "2024-01-01 10:05:00", "c3")]
    purchases = [(1, "2024-01-01 10:07:00", "p1"),
                 (2, "2024-01-01 10:00:00", "p2"),
                 (2, "2024-01-01 10:20:00", "p3")]  # outside ±10m of c3? 15m -> no
    spark.createDataFrame(clicks, "user_id long, cts_s string, click_id string").selectExpr(
        "user_id", "CAST(cts_s AS TIMESTAMP) AS cts", "click_id"
    ).write.parquet(cdir)
    spark.createDataFrame(purchases, "user_id long, pts_s string, purchase_id string").selectExpr(
        "user_id", "CAST(pts_s AS TIMESTAMP) AS pts", "purchase_id"
    ).write.parquet(pdir)

    cs = spark.readStream.schema("user_id long, cts timestamp, click_id string").parquet(cdir)
    ps = spark.readStream.schema("user_id long, pts timestamp, purchase_id string").parquet(pdir)
    joined = stream_stream_join(
        cs, ps, ["user_id"], "cts", "pts", watermark="1 hour", join_window="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    )
    assert got == [("c1", "p1"), ("c3", "p2")]


def test_continuous_rollup_incremental_and_exact(spark):
    """Streaming continuous aggregate: two micro-batches fold into the
    stored rollup one at a time, and the final table equals the direct
    batch aggregate over all rows — the monoid merge, live."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.relational import decimal_sum
    from airflow_kafka_spark_spark.sources.files import load_table
    from airflow_kafka_spark_spark.streaming.rollup import start_rollup_pipeline

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    rollup = os.path.join(workdir, "rollup")
    ev = load_table(spark, SF_DIR, "events").select("ts", "event_type", "value")
    half1 = ev.filter(F.col("event_type") <= "error")
    half2 = ev.filter(F.col("event_type") > "error")
    os.makedirs(src)
    half1.write.mode("overwrite").parquet(os.path.join(src, "f1"))

    merges: list[tuple[int, bool]] = []
    source = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(os.path.join(src, "*"))
    q = start_rollup_pipeline(
        source,
        rollup,
        os.path.join(workdir, "ckpt"),
        grain="hour",
        keys=["event_type"],
        on_batch=lambda bid, merged: merges.append((bid, merged)),
    )
    try:
        q.processAllAvailable()
        half2.write.mode("overwrite").parquet(os.path.join(src, "f2"))
        q.processAllAvailable()
    finally:
        q.stop()

    assert [m for _, m in merges] == [True, True], merges

    from airflow_kafka_spark_spark.operators.relational import finalize_rollup

    stored = finalize_rollup(spark.read.parquet(rollup)).orderBy(
        "window_start", "event_type"
    )
    direct = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (decimal_sum("value") + F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )
    assert (
        stored.select("window_start", "event_type", "n_events", "sum_value").collect()
        == direct.collect()
    )


def test_continuous_rollup_replay_fence(spark):
    """A replayed batch id (at-least-once foreachBatch after a crash)
    must be a no-op: the meta fence travels atomically with the data."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.sources.files import load_table
    from airflow_kafka_spark_spark.streaming.rollup import merge_batch_into_rollup

    workdir = tempfile.mkdtemp()
    rollup = os.path.join(workdir, "rollup")
    ev = load_table(spark, SF_DIR, "events").select("ts", "event_type", "value")

    assert merge_batch_into_rollup(rollup, ev, 0, grain="hour") is True
    once = spark.read.parquet(rollup).agg(F.sum("n_events")).first()[0]
    # replay of batch 0 and an older id: both fenced
    assert merge_batch_into_rollup(rollup, ev, 0, grain="hour") is False
    assert spark.read.parquet(rollup).agg(F.sum("n_events")).first()[0] == once
    # a NEW batch id merges (doubles the counts — same rows again)
    assert merge_batch_into_rollup(rollup, ev, 1, grain="hour") is True
    assert spark.read.parquet(rollup).agg(F.sum("n_events")).first()[0] == 2 * once


def test_continuous_rollup_heals_crashed_swap(spark, tmp_path):
    """A fold that crashed mid-swap leaves the rollup only at its backup
    name, maybe beside a half-written staging dir. The next fold restores
    the table and its sidecar before consulting the replay fence, so a
    replayed batch stays a no-op instead of restarting from empty."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.rollup import merge_batch_into_rollup

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "view", 1.5), ("2024-01-01 11:00:00", "buy", 2.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = str(tmp_path / "rollup")

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(rollup).collect())

    assert merge_batch_into_rollup(rollup, ev, 0) is True
    assert merge_batch_into_rollup(rollup, ev, 1) is True
    before = rows()
    os.rename(rollup, rollup + "__backup")
    os.makedirs(rollup + "__staging")
    with open(os.path.join(rollup + "__staging", "part-stale.parquet"), "w") as f:
        f.write("half-written")

    assert merge_batch_into_rollup(rollup, ev, 1) is False
    assert rows() == before
    assert not os.path.exists(rollup + "__backup")
    assert not os.path.exists(rollup + "__staging")
    assert merge_batch_into_rollup(rollup, ev, 2) is True
    n_events = spark.read.parquet(rollup).agg(F.sum("n_events")).first()[0]
    assert n_events == 3 * ev.count()


def test_quotefeed_stream_full_topology(spark):
    """The reference's full topology (poll feed → parse/explode →
    indicators/signals → incremental sink), end-to-end without Kafka:
    the native quotefeed readStream plays the Airflow poll loop, the
    micro-batches run through start_pipeline's analyze stage, and the
    sink folds each processed batch into the stored parquet rollup with
    the batch-id replay fence (reference
    spark/stock_analysis.py:46-300's source→transform→sink chain)."""
    import tempfile
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airflow_kafka_spark_spark.sources.quotefeed import register_quotefeed
    from airflow_kafka_spark_spark.streaming.rollup import merge_batch_into_rollup

    register_quotefeed(spark)
    workdir = tempfile.mkdtemp()
    rollup = os.path.join(workdir, "rollup")
    merged_counts: list[int] = []

    def rollup_sink(processed, batch_id):
        batch = processed.withColumn(
            "ts", F.to_timestamp("date_str", "yyyy-MM-dd").cast(T.TimestampType())
        )
        if merge_batch_into_rollup(
            rollup, batch, batch_id, ts_col="ts", grain="day",
            keys=["symbol"], value_col="close",
        ):
            merged_counts.append(batch.count())

    source = (
        spark.readStream.format("quotefeed")
        .option("symbols", "AAA,BBB")
        .option("numBars", "4")
        .load()
        .select(F.col("symbol").alias("key"), F.col("message").alias("value"))
    )
    q = start_pipeline(
        source,
        sink=rollup_sink,
        trigger="0 seconds",
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        query_name="quotefeed_topology",
    )
    try:
        deadline = time.time() + 60
        while len(merged_counts) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    assert len(merged_counts) >= 2
    # cycle c emits (4 + c) bars per symbol → 2·(4+c) processed rows
    assert merged_counts[0] == 2 * 4
    stored = spark.read.parquet(rollup)
    assert {r["symbol"] for r in stored.select("symbol").distinct().collect()} == {
        "AAA",
        "BBB",
    }
    # the fence made the merge exactly-once: stored event count equals
    # exactly the rows of the batches that reported a successful merge
    total = stored.agg(F.sum("n_events")).first()[0]
    assert total == sum(merged_counts)


def test_quotefeed_stream_polls_cycles(spark):
    """The streaming quotefeed emits one message per symbol per cycle
    with history growing a bar each cycle — the reference's poll loop as
    a native readStream source, replayable from offsets alone."""
    import json as _json
    import tempfile

    from airflow_kafka_spark_spark.sources.quotefeed import register_quotefeed

    register_quotefeed(spark)
    stream = (
        spark.readStream.format("quotefeed")
        .option("symbols", "AAA,BBB")
        .option("numBars", "3")
        .load()
    )
    batches = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while len(batches) < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(batches) >= 3
    non_empty = [b for b in batches if b]
    assert len(non_empty) >= 2
    first, second = non_empty[0], non_empty[1]
    assert sorted(r["symbol"] for r in first) == ["AAA", "BBB"]
    n0 = len(_json.loads(first[0]["message"])["historical_data"])
    n1 = len(_json.loads(second[0]["message"])["historical_data"])
    assert n1 == n0 + 1  # one more bar per cycle


def test_distinct_rollup_sketch_merge_counts_cross_batch_once(spark):
    """The HLL distinct rollup's reason to exist: a user active in BOTH
    batches must count once per bucket after the sketch union — a sum
    of per-batch distinct counts would double them. Two folds, then
    per-bucket estimates within ±5% of the exact distinct over all rows
    (and the within-batch estimate path already covered by the catalog
    entry's bound test)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.sources.files import load_table
    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_distinct_rollup,
    )

    workdir = tempfile.mkdtemp()
    rollup = os.path.join(workdir, "droll")
    ev = load_table(spark, SF_DIR, "events").select("ts", "event_type", "user_id")
    # overlapping samples: most users appear in both batches
    b1 = ev.sample(0.6, seed=1)
    b2 = ev.sample(0.6, seed=2)

    assert merge_batch_into_distinct_rollup(rollup, b1, 0, grain="day") is True
    assert merge_batch_into_distinct_rollup(rollup, b2, 1, grain="day") is True
    # replay fence shared with the sum rollup
    assert merge_batch_into_distinct_rollup(rollup, b2, 1, grain="day") is False

    stored = {
        (str(r["bucket_ts"]), r["event_type"]): r["users_est"]
        for r in spark.read.parquet(rollup).collect()
    }
    exact = {
        (str(r["bucket_ts"]), r["event_type"]): r["n"]
        for r in b1.unionByName(b2)
        .groupBy(F.date_trunc("day", "ts").alias("bucket_ts"), "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(stored) == set(exact)
    for k, est in stored.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_streaming_drift_monitor_flags_seeded_shift(spark):
    """The foreachBatch drift monitor (streaming/drift_monitor.py): a
    micro-batch drawn from the reference distribution reports no drift
    (tvd=0, ks=0, auc=0.5 — the fixture is exactly proportional), and a
    seeded shift (category mix flipped 80/20→20/80, values moved +100)
    is flagged with the exact statistics: tvd=0.6, ks=1.0 (disjoint
    supports) and auc=0.0 (every reference value below every batch
    value — direction included). Deterministic arithmetic fixtures, no
    RNG (repo rule)."""
    from airflow_kafka_spark_spark.streaming.drift_monitor import (
        make_drift_monitor,
    )

    def rows(shift: bool):
        out = []
        for i in range(200):
            if shift:
                cat = "b" if i % 10 < 8 else "a"
                val = 100.0 + (i % 50)
            else:
                cat = "a" if i % 10 < 8 else "b"
                val = float(i % 50)
            out.append((i % 2, cat, val))
        return out

    schema = "cohort int, category string, value double"
    ref = spark.createDataFrame(rows(shift=False), schema)

    reports: dict[int, list] = {}
    monitor = make_drift_monitor(
        ref,
        cohort="cohort",
        category="category",
        value="value",
        on_report=lambda bid, rs: reports.setdefault(bid, rs),
    )

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    source = spark.readStream.schema(schema).parquet(src)
    q = (
        source.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # batch 0: same distribution; batch 1: seeded shift
        spark.createDataFrame(rows(shift=False), schema).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(rows(shift=True), schema).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    assert set(reports) == {0, 1}
    # one row per (cohort, metric): 2 cohorts x 3 metrics
    for bid in (0, 1):
        assert len(reports[bid]) == 6, reports[bid]
        for r in reports[bid]:
            assert r["n_ref"] == 100 and r["n_batch"] == 100

    by = {
        (r["cohort"], r["metric"]): r["stat"] for r in reports[0]
    }
    for c in (0, 1):
        assert by[(c, "tvd")] == 0.0, by
        assert by[(c, "ks")] == 0.0, by
        assert abs(by[(c, "auc")] - 0.5) < 1e-12, by

    by = {
        (r["cohort"], r["metric"]): r["stat"] for r in reports[1]
    }
    for c in (0, 1):
        assert abs(by[(c, "tvd")] - 0.6) < 1e-12, by
        assert by[(c, "ks")] == 1.0, by
        assert by[(c, "auc")] == 0.0, by


def test_drift_monitor_requires_a_metric_column(spark):
    """make_drift_monitor with neither category= nor value= has nothing
    to monitor and must refuse loudly at construction, not at the first
    micro-batch."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.streaming.drift_monitor import (
        make_drift_monitor,
    )

    ref = spark.createDataFrame([(0, 1.0)], "cohort int, value double")
    with _pytest.raises(ValueError, match="nothing to monitor"):
        make_drift_monitor(ref, cohort="cohort")


def test_drift_monitor_marks_one_sided_cohorts(spark):
    """A cohort present in only one of reference/micro-batch has no
    comparison: its rows carry stat=None (the drift family's
    NULL-on-0/0 contract) and one_sided=True, so a thresholding
    on_report can guard before comparing numerically (ADVICE r9).
    Two-sided cohorts in the same batch stay one_sided=False with
    numeric stats."""
    from airflow_kafka_spark_spark.streaming.drift_monitor import (
        make_drift_monitor,
    )

    schema = "cohort int, category string, value double"
    # reference: cohorts 0 and 1; the stream will carry cohorts 1 and 2
    ref = spark.createDataFrame(
        [(c, "a" if i % 2 == 0 else "b", float(i))
         for c in (0, 1) for i in range(20)],
        schema,
    )
    reports: dict[int, list] = {}
    monitor = make_drift_monitor(
        ref,
        cohort="cohort",
        category="category",
        value="value",
        on_report=lambda bid, rs: reports.setdefault(bid, rs),
    )
    batch = spark.createDataFrame(
        [(c, "a" if i % 2 == 0 else "b", float(i))
         for c in (1, 2) for i in range(20)],
        schema,
    )
    monitor(batch, 0)  # foreachBatch callables run fine on a batch frame

    rows = reports[0]
    by = {(r["cohort"], r["metric"]): r for r in rows}
    assert {c for c, _ in by} == {0, 1, 2}
    for metric in ("tvd", "ks", "auc"):
        assert by[(0, metric)]["one_sided"] is True      # ref-only
        assert by[(0, metric)]["stat"] is None
        assert by[(0, metric)]["n_batch"] == 0
        assert by[(2, metric)]["one_sided"] is True      # batch-only
        assert by[(2, metric)]["stat"] is None
        assert by[(2, metric)]["n_ref"] == 0
        assert by[(1, metric)]["one_sided"] is False     # both sides
        assert by[(1, metric)]["stat"] is not None
    # identical distributions on the shared cohort: exact no-drift stats
    assert by[(1, "tvd")]["stat"] == 0.0
    assert by[(1, "ks")]["stat"] == 0.0
    assert abs(by[(1, "auc")]["stat"] - 0.5) < 1e-12


def test_rollup_fence_scoped_to_query_incarnation(spark, tmp_path):
    """A rollup restarted under a NEW checkpoint restarts its batch_ids
    at 0; the replay fence must recognize the new incarnation instead
    of silently dropping every batch until ids exceed the old run's
    high-water mark (r13 review). Same-incarnation replays stay fenced;
    None-incarnation callers keep the unscoped pre-r13 behavior."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_rollup,
    )

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "view", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = str(tmp_path / "rollup")

    # incarnation A runs to batch 5
    assert merge_batch_into_rollup(rollup, ev, 5, incarnation="qA") is True
    # same incarnation: replay of 5 and older are fenced
    assert merge_batch_into_rollup(rollup, ev, 5, incarnation="qA") is False
    assert merge_batch_into_rollup(rollup, ev, 3, incarnation="qA") is False
    # NEW incarnation (fresh checkpoint): batch 0 must merge
    assert merge_batch_into_rollup(rollup, ev, 0, incarnation="qB") is True
    # and its own replays are now fenced
    assert merge_batch_into_rollup(rollup, ev, 0, incarnation="qB") is False
    # None-incarnation caller against a stored incarnation: batch-id-only
    assert merge_batch_into_rollup(rollup, ev, 0, incarnation=None) is False
    assert merge_batch_into_rollup(rollup, ev, 7, incarnation=None) is True
    # ROLLBACK to a previously-seen incarnation (r14, the r13 fence's
    # flip side): qA's own high-water mark (5) still fences its replays
    # even though qB and a None writer merged in between — the
    # latest-only fence saw a foreign incarnation and re-merged
    # (double counting). Genuinely new qA batches still merge.
    assert merge_batch_into_rollup(rollup, ev, 3, incarnation="qA") is False
    assert merge_batch_into_rollup(rollup, ev, 5, incarnation="qA") is False
    assert merge_batch_into_rollup(rollup, ev, 6, incarnation="qA") is True
    # ...and qB's mark survived the interleaving too
    assert merge_batch_into_rollup(rollup, ev, 0, incarnation="qB") is False


def test_rollup_fence_migrates_legacy_sidecar(spark, tmp_path):
    """Pre-r14 sidecars stored the incarnation only in the top-level
    field — no per-incarnation 'marks' map. _load_meta must seed that
    incarnation's high-water mark, or a query rolled back to a
    legacy-era checkpoint after a NEWER incarnation merged looks like a
    never-seen sequence and re-merges every replayed batch (r14 review:
    legacy {last_batch_id:9, incarnation:qA}; qB merges; qA replays 3
    → double count)."""
    import json
    import os

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_rollup,
    )

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "view", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = str(tmp_path / "rollup")

    # build a real table, then rewrite its sidecar in the legacy format
    assert merge_batch_into_rollup(rollup, ev, 9, incarnation="qA") is True
    with open(os.path.join(rollup, "_rollup_meta.json"), "w") as f:
        json.dump({"last_batch_id": 9, "incarnation": "qA"}, f)

    # a newer incarnation merges on top of the legacy-format sidecar
    assert merge_batch_into_rollup(rollup, ev, 0, incarnation="qB") is True
    # rollback to the legacy-era incarnation: its replays MUST stay
    # fenced by the seeded mark...
    assert merge_batch_into_rollup(rollup, ev, 3, incarnation="qA") is False
    assert merge_batch_into_rollup(rollup, ev, 9, incarnation="qA") is False
    # ...while genuinely new qA batches still merge
    assert merge_batch_into_rollup(rollup, ev, 10, incarnation="qA") is True
    # and the legacy mark also fences when qA is read back FIRST (the
    # seed must happen at load, not only when another incarnation writes)
    with open(os.path.join(rollup, "_rollup_meta.json"), "w") as f:
        json.dump({"last_batch_id": 4, "incarnation": "qC"}, f)
    assert merge_batch_into_rollup(rollup, ev, 4, incarnation="qC") is False
    assert merge_batch_into_rollup(rollup, ev, 5, incarnation="qC") is True


def test_rollup_offset_fence_dedups_events_across_incarnations(
    spark, tmp_path
):
    """The offset-keyed event fence (r15, closing the documented r14
    gap): a fresh checkpoint that re-reads the source from its starting
    offsets must NOT re-fold events the old incarnation already merged —
    batch ids restart at 0 under a new checkpoint, so only the
    data-carried (partition, offset) coordinates can fence the replay.
    Covers: full replay (no-op, table untouched), partial overlap (only
    the new tail folds), a brand-new partition passing in full, sidecar
    bootstrap (no stored offsets → everything merges), and the eager
    missing-column error."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.rollup import (
        merge_batch_into_rollup,
    )

    def ev(rows):
        return spark.createDataFrame(
            [("2024-01-01 10:00:00", "view", v, p, o) for v, p, o in rows],
            "ts string, event_type string, value double,"
            " partition int, offset long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def total():
        return float(
            spark.read.parquet(rollup)
            .agg(F.sum("_sum_v").cast("double"))
            .collect()[0][0]
        )

    rollup = str(tmp_path / "rollup")
    oc = ("partition", "offset")

    # bootstrap: no stored offsets → whole batch merges
    b0 = ev([(1.0, 0, 0), (2.0, 0, 1), (4.0, 0, 2)])
    assert (
        merge_batch_into_rollup(rollup, b0, 0, incarnation="qA", offset_cols=oc)
        is True
    )
    assert total() == 7.0
    with open(os.path.join(rollup, "_rollup_meta.json")) as f:
        assert json.load(f)["offsets"] == {"0": 2}

    # fresh checkpoint (new incarnation, batch ids restart at 0) replays
    # the SAME events: batch-id fence passes, offset fence drops all
    assert (
        merge_batch_into_rollup(rollup, b0, 0, incarnation="qB", offset_cols=oc)
        is False
    )
    assert total() == 7.0

    # partial overlap: offsets 1-2 replayed, 3-4 new → only 8+16 fold
    b1 = ev([(2.0, 0, 1), (4.0, 0, 2), (8.0, 0, 3), (16.0, 0, 4)])
    assert (
        merge_batch_into_rollup(rollup, b1, 1, incarnation="qB", offset_cols=oc)
        is True
    )
    assert total() == 31.0

    # a never-seen partition passes in full alongside a replayed one
    b2 = ev([(8.0, 0, 3), (32.0, 1, 0)])
    assert (
        merge_batch_into_rollup(rollup, b2, 2, incarnation="qB", offset_cols=oc)
        is True
    )
    assert total() == 63.0
    with open(os.path.join(rollup, "_rollup_meta.json")) as f:
        assert json.load(f)["offsets"] == {"0": 4, "1": 0}

    # mode mixing is rejected: once the fence exists, a fold WITHOUT
    # offset_cols raises — merging while leaving the marks stale would
    # let a later replay of those events double-fold (r16, ADVICE)
    with pytest.raises(ValueError, match="offset fence"):
        merge_batch_into_rollup(rollup, ev([(64.0, 0, 5)]), 3,
                                incarnation="qB")
    with open(os.path.join(rollup, "_rollup_meta.json")) as f:
        assert json.load(f)["offsets"] == {"0": 4, "1": 0}
    # the fence still covers the old range (offset 4 replay drops)
    assert (
        merge_batch_into_rollup(rollup, ev([(16.0, 0, 4)]), 0,
                                incarnation="qC", offset_cols=oc)
        is False
    )
    # folding WITH offset_cols still works after the rejected call
    assert (
        merge_batch_into_rollup(rollup, ev([(64.0, 0, 5)]), 1,
                                incarnation="qC", offset_cols=oc)
        is True
    )
    assert total() == 127.0

    # eager contract check: missing fence columns raise before any work
    with pytest.raises(ValueError, match="offset_cols"):
        merge_batch_into_rollup(
            rollup,
            ev([(1.0, 0, 9)]).drop("offset"),
            9,
            incarnation="qC",
            offset_cols=oc,
        )

    # NULL fence values raise instead of silently dropping the row
    # (NULL > x is NULL → the replay filter would eat it)
    nullish = spark.createDataFrame(
        [("2024-01-01 10:00:00", "view", 1.0, 0, None)],
        "ts string, event_type string, value double,"
        " partition int, offset long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="NULL"):
        merge_batch_into_rollup(
            rollup, nullish, 9, incarnation="qC", offset_cols=oc
        )

    # the census checks the CAST expression the filter compares, not
    # just the raw column (r16, ADVICE): a non-numeric string offset
    # casts to NULL (would be silently dropped), a fractional value
    # truncates (would mis-fence), a negative collides with the -1
    # never-seen sentinel — all raise eagerly.
    def ev_str(offset_val):
        return spark.createDataFrame(
            [("2024-01-01 10:00:00", "view", 1.0, 0, offset_val)],
            "ts string, event_type string, value double,"
            " partition int, offset string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    with pytest.raises(ValueError, match="NULL"):
        merge_batch_into_rollup(
            rollup, ev_str("not-a-number"), 9,
            incarnation="qC", offset_cols=oc,
        )
    with pytest.raises(ValueError, match="non-integral"):
        merge_batch_into_rollup(
            rollup, ev_str("6.5"), 9, incarnation="qC", offset_cols=oc
        )
    with pytest.raises(ValueError, match="negative"):
        merge_batch_into_rollup(
            rollup, ev([(1.0, 0, -3)]), 9,
            incarnation="qC", offset_cols=oc,
        )
    assert total() == 127.0  # table untouched by every rejected batch

    # fence helper names must not collide with batch columns: a batch
    # carrying its own `_fence_max` column still fences correctly
    collide = (
        ev([(16.0, 0, 4), (128.0, 0, 6)])
        .withColumn("_fence_max", F.lit(999))
        .withColumn("_fence_part", F.lit("zz"))
    )
    assert (
        merge_batch_into_rollup(
            rollup, collide, 2, incarnation="qC", offset_cols=oc
        )
        is True
    )
    assert total() == 255.0  # only offset 6 folded; replayed 4 dropped


def test_continuous_rollup_example_exactly_once(spark, tmp_path):
    """examples/continuous_rollup.py end-to-end: three per-partition
    contiguous micro-batches fold into the stored rollup; a
    within-incarnation crash replay and a fresh-checkpoint
    full-source replay both no-op (batch fence, offset fence); a
    partially-new batch folds exactly its new tail; and the stored
    decimal total equals the exact one-shot aggregate throughout."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "continuous_rollup.py",
    )
    spec = importlib.util.spec_from_file_location("continuous_rollup_ex", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    facts = mod.run_demo(spark, "/root/testdata/sf0.001", str(tmp_path))
    assert facts["n_events"] > 0
    assert facts["replay_within"] is False   # batch-id fence
    assert facts["replay_fresh"] is False    # offset fence
    assert facts["after_run1"] == facts["exact"]
    assert facts["after_replay"] == facts["exact"]
    assert facts["folded_tail"] is True      # only the new rows fold
    assert facts["after_tail"] == round(
        facts["exact"] + facts["tail_sum"], 6
    )
    # HLL estimate of hourly distinct users: positive and sane
    assert 0 < facts["users_est_total"]


def test_upsert_partitioned_bootstraps_new_table(spark, tmp_path):
    """The first-ever upsert initializes the table instead of raising
    on the missing path (r13 review) — including latest-per-key dedup
    WITHIN the bootstrap batch, identical to the steady-state path."""
    from airflow_kafka_spark_spark.sources.sinks import upsert_partitioned

    path = str(tmp_path / "tbl")
    updates = spark.createDataFrame(
        [(1, "2024-01-01", 10.0, "a"), (1, "2024-01-02", 11.0, "a"),
         (2, "2024-01-01", 20.0, "b")],
        "id long, day string, v double, part string",
    )
    upsert_partitioned(
        spark, path, updates, ["id"], ["day"], ["part"]
    )
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 11.0, 2: 20.0}
    # steady state still works on top of the bootstrap
    upd2 = spark.createDataFrame(
        [(2, "2024-01-03", 25.0, "b")],
        "id long, day string, v double, part string",
    )
    upsert_partitioned(spark, path, upd2, ["id"], ["day"], ["part"])
    got2 = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got2 == {1: 11.0, 2: 25.0}


def test_stream_stream_join_rejects_empty_keys(spark, tmp_path):
    """Empty key_cols must raise eagerly: Spark rejects stream-stream
    joins without an equality predicate (probed — STREAM_FAILED at
    query start), and the old None-seeded condition builder was worse
    — None & Column made a NULL condition, a join that ran green and
    emitted zero rows forever (r13 review)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.pipeline import stream_stream_join

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [("2024-01-01 10:00:00",)], "lts string"
    ).withColumn("lts", F.col("lts").cast("timestamp")).write.parquet(ldir)
    spark.createDataFrame(
        [("2024-01-01 10:03:00",)], "rts string"
    ).withColumn("rts", F.col("rts").cast("timestamp")).write.parquet(rdir)
    ls = spark.readStream.schema("lts timestamp").parquet(ldir)
    rs = spark.readStream.schema("rts timestamp").parquet(rdir)
    with pytest.raises(ValueError, match="key_cols must be non-empty"):
        stream_stream_join(ls, rs, [], "lts", "rts", "1 hour", "5 minutes")


def test_quotefeed_stream_rejects_path_option(spark):
    """The quotefeed STREAM reader has no fixture-replay mode; a path
    option must fail at construction, not degrade to an empty-but-green
    stream (r13 review)."""
    from airflow_kafka_spark_spark.sources.quotefeed import (
        QuoteFeedStreamReader,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not support the 'path'"):
        QuoteFeedStreamReader({"path": "/tmp/x.jsonl"})
    # the supported form still constructs
    r = QuoteFeedStreamReader({"symbols": "AAA,BBB"})
    assert r.symbols == ["AAA", "BBB"]
