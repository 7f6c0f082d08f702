"""Stateful delta-feed MACD (streaming/stateful.py): the recursion state
carried across micro-batches must reproduce the uninterrupted batch
series bit-for-bit."""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pandas as pd
import pytest

from airflow_kafka_spark_spark.functions.ema import (
    ema_recurrence_state,
    macd_columns,
    macd_recurrence_state,
)
from airflow_kafka_spark_spark.streaming.stateful import (
    _macd_batch,
    _update_macd,
    running_macd,
)


@pytest.mark.parametrize("split", [0, 1, 48, 50, 122, 199])
def test_macd_batch_continuation_bit_exact(split):
    """Two micro-batches through _macd_batch, the second resumed from the
    first's stored state row, equal the one-shot recurrence of all three
    EMAs bit for bit. The first batch is empty (0), one leading NaN (1),
    ends inside a NaN run (48), ends with a NaN run (50, 122) or leaves
    one row (199): the stored row carries each EMA's pending gap decay
    across the boundary."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=200)
    x[[0, 20, 21, 22, 47, 48, 49, 120, 121]] = np.nan
    pdf = pd.DataFrame(
        {"date_str": [f"d{i:03d}" for i in range(200)], "close": x}
    )
    head, stored = _macd_batch(("K",), [pdf.iloc[:split]], None)
    tail, stored = _macd_batch(("K",), [pdf.iloc[split:]], stored)
    got = pd.concat([head, tail])
    (e12, e26, line, sig), st = macd_recurrence_state(x)
    for col, want in (
        ("ema12", e12), ("ema26", e26), ("macd_line", line),
        ("macd_signal", sig), ("macd_histogram", line - sig),
    ):
        assert np.array_equal(got[col].to_numpy(), want, equal_nan=True), col
    assert stored == (200, *st[0], *st[1], *st[2])
    assert got["n_rows"].iloc[-1] == 200


def test_running_macd_across_microbatches(spark):
    """Two file-source micro-batches == one batch kernel run, exactly."""
    rng = np.random.default_rng(11)
    closes = {s: rng.uniform(10, 100, size=40) for s in ("AAA", "BBB")}

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    # batch 1 = bars 0..19 (older mtime), batch 2 = bars 20..39; the file
    # source lists *files directly under src*, so move each part file there
    for i, lo, hi in ((0, 0, 20), (1, 20, 40)):
        rows = [
            (s, f"2024-01-{d + 1:02d}", float(closes[s][d]))
            for s in closes
            for d in range(lo, hi)
        ]
        tmp = os.path.join(workdir, f"tmp{i}")
        spark.createDataFrame(
            rows, "symbol string, date_str string, close double"
        ).coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = os.path.join(src, f"batch{i}.parquet")
        os.rename(os.path.join(tmp, part), dest)
        t = time.time() - 100 + i * 10
        os.utime(dest, (t, t))

    stream = (
        spark.readStream.schema("symbol string, date_str string, close double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_macd(stream)
        .writeStream.format("memory")
        .queryName("macd_state_test")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["symbol"], r["date_str"]): r
        for r in spark.sql("SELECT * FROM macd_state_test").collect()
    }
    assert len(got) == 80  # 2 symbols x 40 bars, each emitted exactly once
    for s, series in closes.items():
        line, sig, hist = macd_columns(series)
        for d in range(40):
            row = got[(s, f"2024-01-{d + 1:02d}")]
            assert row["macd_line"] == pytest.approx(line[d], abs=0.0)
            assert row["macd_signal"] == pytest.approx(sig[d], abs=0.0)
            assert row["macd_histogram"] == pytest.approx(hist[d], abs=0.0)
        assert got[(s, "2024-01-40")]["n_rows"] == 40


def test_state_recovers_across_query_restart(spark):
    """T12: stop the query, add data, restart from the same checkpoint —
    the state store must restore the EMA recursion so the continuation
    still matches the uninterrupted batch kernel exactly."""
    rng = np.random.default_rng(23)
    series = rng.uniform(10, 100, size=30)

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src)

    def add_file(i, lo, hi):
        rows = [("KEY", f"2024-01-{d + 1:02d}", float(series[d])) for d in range(lo, hi)]
        tmp = os.path.join(workdir, f"tmp_r{i}")
        spark.createDataFrame(
            rows, "symbol string, date_str string, close double"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(src, f"b{i}.parquet"))

    captured: list = []

    def run_query():
        stream = spark.readStream.schema(
            "symbol string, date_str string, close double"
        ).parquet(src)
        q = (
            running_macd(stream)
            .writeStream.foreachBatch(
                lambda df, bid: captured.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(0, 0, 15)
    run_query()                      # first run: rows 0..14
    add_file(1, 15, 30)
    run_query()                      # restart: only rows 15..29, state restored

    assert len(captured) == 30
    line, sig, hist = macd_columns(series)
    by_date = {r["date_str"]: r for r in captured}
    for d in range(30):
        row = by_date[f"2024-01-{d + 1:02d}"]
        assert row["macd_line"] == pytest.approx(line[d], abs=0.0)
        assert row["macd_signal"] == pytest.approx(sig[d], abs=0.0)
    assert by_date["2024-01-30"]["n_rows"] == 30


class FakeGroupState:
    """applyInPandasWithState's GroupState (properties, not methods):
    one in-memory state cell."""

    def __init__(self):
        self._v = None

    exists = property(lambda self: self._v is not None)
    get = property(lambda self: self._v)

    def update(self, v):
        self._v = v


def _pandas_with_state():
    """The state surface driven without Spark: state load, continuation,
    guard, state save and output frame."""
    state = FakeGroupState()
    return lambda key, pdf: list(_update_macd(key, iter([pdf]), state))


def test_state_surface_rejects_numbars_gt_1():
    """The delta-feed contract guard: when snapshot_n rides along and the
    cumulative bar count diverges from it (the numBars>1 failure mode —
    earlier bars never entered state), the kernel raises instead of
    silently continuing the MACD from the wrong seed."""
    # numBars=30 shape: first message's snapshot already carries 30 bars
    # but only the tail bar enters the kernel -> 1 != 30 -> error
    bad = pd.DataFrame(
        {"symbol": ["AAA"], "date_str": ["2024-01-30"],
         "close": [42.0], "snapshot_n": [30]}
    )
    with pytest.raises(ValueError, match="numBars=1"):
        _pandas_with_state()(("AAA",), bad)

    # numBars=1 shape: snapshot length == cumulative count -> clean
    out = _pandas_with_state()(("AAA",), bad.assign(snapshot_n=[1]))
    assert out[0]["n_rows"].iloc[-1] == 1

    # no snapshot_n column (direct delta feeds) -> guard is inert
    out = _pandas_with_state()(("AAA",), bad.drop(columns=["snapshot_n"]))
    assert out[0]["close"].iloc[0] == 42.0


def test_state_surface_semantics_without_protocol():
    """Two chunks through the state surface == one batch kernel run, bit
    for bit, with the state carried by the fake store — the first chunk
    ends inside a NaN run, so its pending gap decay crosses the store."""
    rng = np.random.default_rng(5)
    series = rng.uniform(10, 100, size=40)
    series[23:27] = np.nan
    step = _pandas_with_state()
    outs = []
    for lo, hi in ((0, 25), (25, 40)):
        pdf = pd.DataFrame(
            {
                "date_str": [f"2024-01-{d + 1:02d}" for d in range(lo, hi)],
                "close": series[lo:hi],
            }
        )
        outs.extend(step(("AAA",), pdf))
    got = pd.concat(outs).sort_values("date_str")
    line, sig, hist = macd_columns(series)
    assert np.array_equal(
        got["ema12"].to_numpy(), ema_recurrence_state(series, 12)[0]
    )
    assert np.array_equal(got["macd_line"].to_numpy(), line)
    assert np.array_equal(got["macd_signal"].to_numpy(), sig)
    assert np.array_equal(got["macd_histogram"].to_numpy(), hist)
    assert got["n_rows"].iloc[-1] == 40


def test_quotefeed_delta_feed_macd_end_to_end(spark):
    """VERDICT r5 item 8: the engine-native quotefeed poll stream at
    numBars=1 -> quotefeed_deltas (stateless last-bar projection) ->
    running_macd must reproduce the batch kernel over the full history
    bit-for-bit (examples/delta_feed_macd.py is the narrated version)."""
    import tempfile

    from airflow_kafka_spark_spark.operators.parse import (
        explode_history,
        parse_history_messages,
    )
    from airflow_kafka_spark_spark.sources.quotefeed import register_quotefeed
    from airflow_kafka_spark_spark.streaming.stateful import quotefeed_deltas

    register_quotefeed(spark)
    raw = (
        spark.readStream.format("quotefeed")
        .option("symbols", "AAA,BBB")
        .option("numBars", "1")
        .load()
    )
    q = (
        running_macd(quotefeed_deltas(raw))
        .writeStream.format("memory")
        .queryName("delta_macd_test")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dfm_"))
        .start()
    )
    target = 2 * 8  # 2 symbols x >= 8 poll cycles
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM delta_macd_test").first()[0] >= target:
                break
            time.sleep(0.3)
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM delta_macd_test").collect()
    assert len(rows) >= target
    by_symbol: dict[str, dict[int, object]] = {"AAA": {}, "BBB": {}}
    for r in rows:
        by_symbol[r["symbol"]][r["n_rows"] - 1] = r
    for s, bars_seen in by_symbol.items():
        n = max(bars_seen) + 1
        assert sorted(bars_seen) == list(range(n))  # every bar exactly once
        batch = (
            spark.read.format("quotefeed")
            .option("symbols", s)
            .option("numBars", str(n))
            .load()
        )
        closes = np.array(
            [
                b["close"]
                for b in explode_history(
                    parse_history_messages(batch, value_col="message")
                ).orderBy("time").collect()
            ],
            dtype=np.float64,
        )
        line, sig, hist = macd_columns(closes)
        for i in range(n):
            row = bars_seen[i]
            assert row["close"] == closes[i]
            assert row["macd_line"] == line[i]
            assert row["macd_signal"] == sig[i]
            assert row["macd_histogram"] == hist[i]


def test_replay_macd_in_batches_equals_one_shot_kernel(spark):
    """The certification surface behind the `running_macd_cert` catalog
    entry: folding each key's series through the production state
    carry (_macd_batch) in k contiguous chunks must reproduce the
    one-shot with_macd kernel bit for bit — including NULL closes (a
    leading one, and runs that end a chunk, whose pending gap decay
    crosses the stored state row) and keys with fewer rows than chunks
    (empty chunks carry state through unchanged, like a micro-batch
    with no rows for that key)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.indicators import with_macd
    from airflow_kafka_spark_spark.streaming.stateful import (
        replay_macd_in_batches,
    )

    rng = np.random.default_rng(23)
    rows = []
    # key "a": 57 bars, NULL runs ending the first k=3 chunk (rows 17-18)
    # and the third k=5 chunk (rows 32-33); key "b": 2 bars (fewer than
    # n_batches=5), the first NULL
    nulls = {("a", 17), ("a", 18), ("a", 32), ("a", 33), ("b", 0)}
    for sym, n in (("a", 57), ("b", 2)):
        for i, v in enumerate(rng.normal(100.0, 5.0, size=n)):
            close = None if (sym, i) in nulls else float(v)
            rows.append((sym, f"d{i:03d}", close))
    df = spark.createDataFrame(rows, "symbol string, date_str string, close double")

    one_shot = with_macd(df, ["symbol"], ["date_str"], "close")
    for k in (1, 3, 5):
        replay = replay_macd_in_batches(
            df, ["symbol"], ["date_str"], "close", n_batches=k
        )
        j = one_shot.select(
            "symbol", "date_str", "macd_line", "macd_signal", "macd_histogram"
        ).join(
            replay.select(
                "symbol",
                "date_str",
                F.col("macd_line").alias("r_line"),
                F.col("macd_signal").alias("r_signal"),
                F.col("macd_histogram").alias("r_hist"),
            ),
            ["symbol", "date_str"],
        )
        got = j.agg(
            F.count("*").alias("n"),
            F.sum((~F.col("macd_line").eqNullSafe(F.col("r_line"))).cast("long")).alias("l"),
            F.sum((~F.col("macd_signal").eqNullSafe(F.col("r_signal"))).cast("long")).alias("s"),
            F.sum((~F.col("macd_histogram").eqNullSafe(F.col("r_hist"))).cast("long")).alias("h"),
        ).collect()[0]
        assert (got["n"], got["l"], got["s"], got["h"]) == (59, 0, 0, 0), k

    with pytest.raises(ValueError, match="n_batches"):
        replay_macd_in_batches(df, ["symbol"], ["date_str"], "close", n_batches=0)
