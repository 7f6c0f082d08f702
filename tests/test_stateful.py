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
    _fold_macd,
    _update_macd,
    running_macd,
)

DELTA_DDL = "symbol string, date_str string, close double"


@pytest.mark.parametrize("split", [0, 1, 48, 50, 122, 199])
def test_macd_batch_continuation_bit_exact(split):
    """Two micro-batches through _fold_macd, the second resumed from the
    first's stored state row, equal the one-shot recurrence of all three
    EMAs bit for bit. The first batch is empty (0), one leading NaN (1),
    ends inside a NaN run (48), ends with a NaN run (50, 122) or leaves
    one row (199): the stored row carries each EMA's pending gap decay
    across the boundary."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=200)
    x[[0, 20, 21, 22, 47, 48, 49, 120, 121]] = np.nan
    pdf = pd.DataFrame(
        {"symbol": "K", "date_str": [f"d{i:03d}" for i in range(200)], "close": x}
    )
    head, stored = _fold_macd(pdf.iloc[:split], None)
    tail, stored = _fold_macd(pdf.iloc[split:], stored)
    got = pd.concat([head, tail])
    (e12, e26, line, sig), st = macd_recurrence_state(x)
    for col, want in (
        ("ema12", e12), ("ema26", e26), ("macd_line", line),
        ("macd_signal", sig), ("macd_histogram", line - sig),
    ):
        assert np.array_equal(got[col].to_numpy(), want, equal_nan=True), col
    assert stored == (["K"], [200], *([f] for f in (*st[0], *st[1], *st[2])))
    assert got["n_rows"].iloc[-1] == 200


def _add_parquet_file(spark, workdir, src, name, rows, schema, mtime=None):
    """Write ``rows`` as ONE parquet file ``src/name.parquet`` (the file
    source lists files directly under ``src``, so the part file is moved
    there); ``mtime`` orders files for ``maxFilesPerTrigger``."""
    tmp = os.path.join(workdir, f"tmp_{name}")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    dest = os.path.join(src, f"{name}.parquet")
    os.rename(os.path.join(tmp, part), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def _run_to_memory(stream_df, name, ckpt):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _three_batch_source(spark, workdir, closes):
    """Write ``closes`` (symbol -> 12 closes, None for NULL) as three
    files of bars 0-3, 4-7 and 8-11, oldest first, and return the source
    directory."""
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    for i, (lo, hi) in enumerate(((0, 4), (4, 8), (8, 12))):
        rows = [
            (s, f"2024-01-{d + 1:02d}", c[d])
            for s, c in closes.items()
            for d in range(lo, hi)
        ]
        _add_parquet_file(spark, workdir, src, f"b{i}", rows, DELTA_DDL,
                          time.time() - 100 + i * 10)
    return src


def _stored_carries(spark, ckpt):
    """The checkpoint's state store read back as a batch: one row per
    symbol (its ``_state_bucket``, then the ``STATE_SCHEMA`` fields),
    sorted by symbol."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.stateful import STATE_SCHEMA

    fields = [f.split()[0] for f in STATE_SCHEMA.split(", ")]
    return (
        spark.read.format("statestore").load(ckpt)
        .select("key._state_bucket", "value.groupState.*")
        .select("_state_bucket", F.inline(F.arrays_zip(*fields)))
        .toPandas().sort_values("symbol").reset_index(drop=True)
    )


def test_running_macd_across_microbatches(spark):
    """Two file-source micro-batches == one batch kernel run, exactly."""
    rng = np.random.default_rng(11)
    closes = {s: rng.uniform(10, 100, size=40) for s in ("AAA", "BBB")}

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    # batch 1 = bars 0..19 (older mtime), batch 2 = bars 20..39
    for i, lo, hi in ((0, 0, 20), (1, 20, 40)):
        rows = [
            (s, f"2024-01-{d + 1:02d}", float(closes[s][d]))
            for s in closes
            for d in range(lo, hi)
        ]
        _add_parquet_file(spark, workdir, src, f"batch{i}", rows, DELTA_DDL,
                          time.time() - 100 + i * 10)

    stream = (
        spark.readStream.schema(DELTA_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_to_memory(running_macd(stream), "macd_state_test",
                   os.path.join(workdir, "ckpt"))

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


def test_running_macd_independent_of_shuffle_partitions(spark):
    """A key's state bucket is a hash of the key, not of the partition
    layout: two fresh queries over the same three files, one at 1
    shuffle partition and one at 4, emit identical rows, bit-equal to
    the batch kernel (a NULL-close run crossing a batch included), keep
    one state row per bucket, not per symbol, and store the same carry
    for every symbol."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.stateful import STATE_BUCKETS

    rng = np.random.default_rng(31)
    closes = {f"S{i:02d}": rng.uniform(10, 100, size=12) for i in range(60)}
    closes["S07"][3:6] = np.nan  # crosses batch 0 -> 1

    workdir = tempfile.mkdtemp()
    src = _three_batch_source(spark, workdir, {
        s: [None if np.isnan(v) else float(v) for v in c]
        for s, c in closes.items()
    })

    buckets = (
        spark.createDataFrame([(s,) for s in closes], "symbol string")
        .select(F.pmod(F.xxhash64("symbol"), F.lit(STATE_BUCKETS)))
        .distinct()
        .count()
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs, states = {}, {}
    for n in (1, 4):
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            stream = (
                spark.readStream.schema(DELTA_DDL)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = _run_to_memory(running_macd(stream), f"macd_parts_{n}",
                               os.path.join(workdir, f"ckpt{n}"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        (op,) = q.lastProgress["stateOperators"]
        assert op["numRowsTotal"] == buckets < len(closes), n
        outs[n] = (
            spark.sql(f"SELECT * FROM macd_parts_{n}").toPandas()
            .sort_values(["symbol", "date_str"]).reset_index(drop=True)
        )
        states[n] = _stored_carries(spark, os.path.join(workdir, f"ckpt{n}"))
    assert len(outs[1]) == 60 * 12
    pd.testing.assert_frame_equal(outs[1], outs[4], check_exact=True)
    assert len(states[1]) == 60
    pd.testing.assert_frame_equal(states[1], states[4], check_exact=True)
    for s, part in outs[1].groupby("symbol"):
        line, sig, hist = macd_columns(closes[s])
        assert np.array_equal(part["macd_line"].to_numpy(), line, equal_nan=True), s
        assert np.array_equal(part["macd_signal"].to_numpy(), sig, equal_nan=True), s
        assert np.array_equal(part["macd_histogram"].to_numpy(), hist, equal_nan=True), s


def test_running_macd_checkpoint_state_equals_history(spark):
    """What the state store holds, read back from the checkpoint with
    ``format("statestore")``: after three micro-batches, the second
    ending inside a NaN run and inside a NULL run, every symbol's bar
    count and nine carry fields are the terminal macd_recurrence_state
    of its whole history, bit for bit, in the row of bucket
    ``pmod(xxhash64(symbol), STATE_BUCKETS)``."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.streaming.stateful import STATE_BUCKETS

    rng = np.random.default_rng(41)
    closes = {f"S{i:02d}": rng.uniform(10, 100, size=12) for i in range(40)}
    closes["S03"][6:10] = np.nan  # float NaN, crosses batch 1 -> 2
    closes["S05"][5:9] = np.nan   # written as NULL, crosses batch 1 -> 2
    closes["S09"][7:] = np.nan    # NaN to the end
    workdir = tempfile.mkdtemp()
    src = _three_batch_source(spark, workdir, {
        s: [None if s == "S05" and np.isnan(v) else float(v) for v in c]
        for s, c in closes.items()
    })
    ckpt = os.path.join(workdir, "ckpt")
    stream = (
        spark.readStream.schema(DELTA_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = _run_to_memory(running_macd(stream), "macd_ckpt_state", ckpt)
    assert q.lastProgress["batchId"] == 2

    got = _stored_carries(spark, ckpt)
    assert got["symbol"].tolist() == sorted(closes)
    for row in got.itertuples(index=False):
        _, st = macd_recurrence_state(closes[row.symbol])
        want = [12, *(f for t in st for f in t)]
        have = [getattr(row, c) for c in got.columns[2:]]
        assert (
            np.array(have, dtype=np.float64).tobytes()
            == np.array(want, dtype=np.float64).tobytes()
        ), (row.symbol, have, want)
    buckets = {
        r["symbol"]: r["b"]
        for r in spark.createDataFrame([(s,) for s in closes], "symbol string")
        .select("symbol", F.pmod(F.xxhash64("symbol"), F.lit(STATE_BUCKETS)).alias("b"))
        .collect()
    }
    assert dict(zip(got["symbol"], got["_state_bucket"])) == buckets


def test_quotefeed_deltas_drops_malformed_and_empty_messages(spark):
    """A message that fails to parse and one with an empty history carry
    no new bar: quotefeed_deltas drops both (as explode_history does on
    the snapshot path) instead of sending a NULL-symbol row with
    snapshot_n=-1, or an out-of-bounds last bar, into the state guard —
    the good symbols' MACD goes on bit-exact."""
    import json

    from airflow_kafka_spark_spark.streaming.stateful import quotefeed_deltas

    closes = {"AAA": [10.0, 11.5, 12.25], "BBB": [50.0, 49.0, 47.5]}

    def message(sym, bars):
        hist = [
            {"time": f"2024-01-{d + 1:02d}", "open": c, "high": c, "low": c,
             "close": c, "volume": 1.0}
            for d, c in enumerate(bars)
        ]
        return json.dumps(
            {"symbol": sym, "current_price": bars[-1] if bars else None,
             "historical_data": hist}
        )

    workdir = tempfile.mkdtemp()
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    for c in range(3):
        rows = [(s, v[c], message(s, v[: c + 1])) for s, v in closes.items()]
        rows += [("BAD", None, '{"symbol": "BAD", "historical_'),
                 ("CCC", None, message("CCC", []))]
        _add_parquet_file(
            spark, workdir, src, f"c{c}", rows,
            "symbol string, current_price double, message string",
            time.time() - 100 + c * 10,
        )
    raw = (
        spark.readStream.schema(
            "symbol string, current_price double, message string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_to_memory(running_macd(quotefeed_deltas(raw)), "delta_malformed",
                   os.path.join(workdir, "ckpt"))

    got = spark.sql("SELECT * FROM delta_malformed").toPandas()
    assert sorted(got["symbol"].unique()) == ["AAA", "BBB"]
    for s, part in got.groupby("symbol"):
        part = part.sort_values("date_str")
        line, sig, hist = macd_columns(np.array(closes[s]))
        assert part["n_rows"].tolist() == [1, 2, 3]
        assert np.array_equal(part["macd_line"].to_numpy(), line)
        assert np.array_equal(part["macd_signal"].to_numpy(), sig)
        assert np.array_equal(part["macd_histogram"].to_numpy(), hist)


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
        _add_parquet_file(spark, workdir, src, f"b{i}", rows, DELTA_DDL)

    captured: list = []

    def run_query():
        stream = spark.readStream.schema(DELTA_DDL).parquet(src)
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
    """The state surface of one bucket driven without Spark: state load,
    continuation, guard, state save and output frame."""
    state = FakeGroupState()
    return lambda pdf: list(_update_macd((0,), iter([pdf]), state))


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
        _pandas_with_state()(bad)

    # numBars=1 shape: snapshot length == cumulative count -> clean
    out = _pandas_with_state()(bad.assign(snapshot_n=[1]))
    assert out[0]["n_rows"].iloc[-1] == 1

    # no snapshot_n column (direct delta feeds) -> guard is inert
    out = _pandas_with_state()(bad.drop(columns=["snapshot_n"]))
    assert out[0]["close"].iloc[0] == 42.0

    # the guard is per key: a bucket whose other key is clean still
    # raises for the diverging one
    two = pd.concat([bad.assign(snapshot_n=[1], symbol=["BBB"]), bad])
    with pytest.raises(ValueError, match=r"running_macd\[AAA\]"):
        _pandas_with_state()(two)


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
                "symbol": "AAA",
                "date_str": [f"2024-01-{d + 1:02d}" for d in range(lo, hi)],
                "close": series[lo:hi],
            }
        )
        outs.extend(step(pdf))
    got = pd.concat(outs).sort_values("date_str")
    line, sig, hist = macd_columns(series)
    assert np.array_equal(
        got["ema12"].to_numpy(), ema_recurrence_state(series, 12)[0]
    )
    assert np.array_equal(got["macd_line"].to_numpy(), line)
    assert np.array_equal(got["macd_signal"].to_numpy(), sig)
    assert np.array_equal(got["macd_histogram"].to_numpy(), hist)
    assert got["n_rows"].iloc[-1] == 40


def _bucket_batches(series, batches):
    """Feed ``series`` (key -> close array) through one bucket's state
    cell, ``batches`` giving per batch each present key's row range; the
    rows of a batch are shuffled so the fold must sort them. Returns the
    output rows per key in date order, and the state cell."""
    rng = np.random.default_rng(3)
    state = FakeGroupState()
    outs = []
    for batch in batches:
        pdf = pd.DataFrame(
            [
                (k, f"d{i:03d}", series[k][i])
                for k, (lo, hi) in batch.items()
                for i in range(lo, hi)
            ],
            columns=["symbol", "date_str", "close"],
        )
        pdf = pdf.iloc[rng.permutation(len(pdf))]
        outs.extend(_update_macd((0,), iter([pdf]), state))
    got = pd.concat(outs)
    by_key = {
        k: got[got.symbol.isna() if k is None else got.symbol == k]
        .sort_values("date_str")
        for k in series
    }
    return by_key, state


def _assert_series_bit_exact(got, close):
    (e12, e26, line, sig), _ = macd_recurrence_state(close)
    for col, want in (
        ("close", close), ("ema12", e12), ("ema26", e26),
        ("macd_line", line), ("macd_signal", sig),
        ("macd_histogram", line - sig),
    ):
        assert np.array_equal(got[col].to_numpy(), want, equal_nan=True), col


def test_bucket_keys_share_one_state_row():
    """Many keys in one bucket: one state row holds every key's carry in
    parallel arrays, and each key is its own series, bit for bit — a key
    absent from a batch resumes exactly where it stopped (its pending
    gap decay included), a key first seen mid-stream starts fresh, and
    NULL closes crossing a batch keep their pending gap decay."""
    rng = np.random.default_rng(17)
    series = {k: rng.uniform(10, 100, size=30) for k in ("A", "B", "C", "D")}
    series["A"][9:12] = np.nan  # a NULL run crossing batch 1 -> 2
    series["B"][8:10] = np.nan  # B ends batch 1 in a NULL run, then skips 2
    batches = [
        {"A": (0, 10), "B": (0, 10), "C": (0, 10)},
        {"A": (10, 20), "C": (10, 20)},            # B absent
        {"A": (20, 30), "B": (10, 30), "C": (20, 30), "D": (0, 30)},  # D new
    ]
    by_key, state = _bucket_batches(series, batches)
    for k, close in series.items():
        _assert_series_bit_exact(by_key[k], close)
        assert by_key[k]["n_rows"].iloc[-1] == 30
    keys, n_rows, *carry = state.get
    assert keys == ["A", "B", "C"] + ["D"] and n_rows == [30] * 4
    for j, k in enumerate(keys):
        _, st = macd_recurrence_state(series[k])
        assert [c[j] for c in carry] == [f for t in st for f in t], k


def test_bucket_null_symbol_is_its_own_series():
    """A NULL symbol keeps one series of its own across batches, apart
    from the named keys of its bucket."""
    rng = np.random.default_rng(29)
    series = {None: rng.uniform(10, 100, size=12), "A": rng.uniform(10, 100, size=12)}
    by_key, state = _bucket_batches(
        series, [{None: (0, 5), "A": (0, 6)}, {None: (5, 12), "A": (6, 12)}]
    )
    for k, close in series.items():
        _assert_series_bit_exact(by_key[k], close)
        assert by_key[k]["n_rows"].iloc[-1] == 12
    assert sorted(state.get[0], key=str) == ["A", None]

    # a NULL numeric key reaches pandas as NaN (replay_macd_in_batches
    # over a NULL user_id): still one series across chunks
    pdf = pd.DataFrame(
        {"k": np.nan, "date_str": [f"d{i:03d}" for i in range(12)],
         "close": series["A"]}
    )
    head, stored = _fold_macd(pdf.iloc[:5], None, "k")
    tail, stored = _fold_macd(pdf.iloc[5:], stored, "k")
    _assert_series_bit_exact(pd.concat([head, tail]), series["A"])
    assert stored[0] == [None] and stored[1] == [12]


def test_bucket_null_date_order_unchanged():
    """Rows with a NULL date_str sort before the key's dated rows, as
    Spark's ascending sort puts them in the batch kernel, in the order
    they arrived — the same within-key order as a one-key stable
    NULL-first sort on date_str — whatever other keys share the batch."""
    pdf = pd.DataFrame(
        {
            "symbol": ["A", "B", "A", "A", "B", "A", "A"],
            "date_str": ["d2", "d0", None, "d0", None, None, "d1"],
            "close": [3.0, 7.0, 10.0, 1.0, 8.0, 11.0, 2.0],
        }
    )
    state = FakeGroupState()
    got = pd.concat(list(_update_macd((0,), iter([pdf]), state)))
    for k in ("A", "B"):
        want = pdf[pdf.symbol == k].sort_values(
            "date_str", kind="mergesort", na_position="first"
        )
        mine = got[got.symbol == k]
        assert mine["close"].tolist() == want["close"].tolist(), k
        _assert_series_bit_exact(mine, want["close"].to_numpy())


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
    carry (_fold_macd) in k contiguous chunks must reproduce the
    one-shot with_macd kernel bit for bit — including NULL closes (a
    leading one, and runs that end a chunk, whose pending gap decay
    crosses the stored state row) and keys with fewer rows than chunks
    (empty chunks carry state through unchanged, like a micro-batch
    with no rows for that key). Each key has one NULL-dated bar, which
    Spark's ascending sort puts first: the replay must fold it first
    too."""
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
    rows += [("a", None, 50.0), ("b", None, 120.0)]
    df = spark.createDataFrame(rows, "symbol string, date_str string, close double")

    one_shot = with_macd(df, ["symbol"], ["date_str"], "close")
    for k in (1, 3, 5):
        replay = replay_macd_in_batches(
            df, ["symbol"], ["date_str"], "close", n_batches=k
        )
        r = replay.select(
            F.col("symbol").alias("r_symbol"),
            F.col("date_str").alias("r_date"),
            F.col("macd_line").alias("r_line"),
            F.col("macd_signal").alias("r_signal"),
            F.col("macd_histogram").alias("r_hist"),
        )
        j = one_shot.join(
            r,
            (F.col("symbol") == F.col("r_symbol"))
            & F.col("date_str").eqNullSafe(F.col("r_date")),
        )
        got = j.agg(
            F.count("*").alias("n"),
            F.sum((~F.col("macd_line").eqNullSafe(F.col("r_line"))).cast("long")).alias("l"),
            F.sum((~F.col("macd_signal").eqNullSafe(F.col("r_signal"))).cast("long")).alias("s"),
            F.sum((~F.col("macd_histogram").eqNullSafe(F.col("r_hist"))).cast("long")).alias("h"),
        ).collect()[0]
        assert (got["n"], got["l"], got["s"], got["h"]) == (61, 0, 0, 0), k

    with pytest.raises(ValueError, match="n_batches"):
        replay_macd_in_batches(df, ["symbol"], ["date_str"], "close", n_batches=0)
