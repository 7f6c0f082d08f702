"""Seeded input generator for the streaming workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical cycle files. Messages are built with the engine's own
producer helpers (``ingest.history_message`` / ``ingest.encode_message``),
so the benchmark feeds the wire format the Airflow side would publish.

Each symbol gets strictly increasing, unique trading dates. The engine's
``sources.quotefeed._synthetic_history`` wraps its dates every 28 bars,
which would give duplicate ``(symbol, date)`` rows and a
nondeterministic window order past that length, so it is not used here.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from airflow_kafka_spark_spark.ingest import encode_message, history_message

# Kafka-shaped rows of the history topic; a parquet file source stands in
# for Kafka because the connector jar is not bundled (sources/kafka.py).
KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
KAFKA_DDL = "key binary, value binary, partition int, offset long, timestamp timestamp"
# rows of the engine-native quote feed (sources/quotefeed.SCHEMA), the
# input shape ``streaming.stateful.quotefeed_deltas`` reads
QUOTEFEED_SCHEMA = pa.schema(
    [("symbol", pa.string()), ("current_price", pa.float64()), ("message", pa.string())]
)
QUOTEFEED_DDL = "symbol string, current_price double, message string"

KAFKA_PARTITIONS = 8
CYCLE_MINUTES = 30  # the reference DAG's publish interval
RETRY_SHARE = 0.05  # symbols re-sent in the same cycle with an older timestamp
MALFORMED_SHARE = 0.005  # values that are not valid JSON
ROW_GROUPS = 16  # so a cycle file splits into several scan tasks
VERSION = 1  # part of every cached file name: bump when the bytes change


@dataclass(frozen=True)
class Series:
    """One symbol's full generated daily history."""

    symbol: str
    dates: list[str]
    open: np.ndarray
    high: np.ndarray
    low: np.ndarray
    close: np.ndarray
    volume: np.ndarray

    def bars(self, n: int) -> list[dict]:
        return [
            {
                "time": self.dates[i],
                "open": float(self.open[i]),
                "high": float(self.high[i]),
                "low": float(self.low[i]),
                "close": float(self.close[i]),
                "volume": int(self.volume[i]),
            }
            for i in range(n)
        ]

    def message(self, n: int) -> bytes:
        """The history-topic message carrying the first ``n`` bars."""
        return encode_message(
            history_message(self.symbol, float(self.close[n - 1]), self.bars(n))
        )


def trading_days(n: int, start: dt.date = dt.date(2019, 1, 1)) -> list[str]:
    """``n`` consecutive weekdays as ``yyyy-MM-dd`` strings."""
    out, day = [], start
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day.isoformat())
        day += dt.timedelta(days=1)
    return out


def symbol_names(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct ticker-like names (three letters, then a digit
    suffix once the 17,576 three-letter codes would run out)."""
    codes = rng.choice(26**3 * 10, size=n, replace=False)
    names = []
    for c in codes:
        letters = "".join(chr(65 + (int(c) // 26**k) % 26) for k in range(3))
        suffix = int(c) // 26**3
        names.append(letters if suffix == 0 else f"{letters}{suffix}")
    return names


def make_series(
    rng: np.random.Generator, symbols: list[str], lengths: np.ndarray
) -> list[Series]:
    """Random-walk OHLCV histories; ``lengths[i]`` bars for symbol i, all
    ending on the same trading day."""
    days = trading_days(int(lengths.max()))
    out = []
    for sym, n in zip(symbols, lengths):
        n = int(n)
        p0 = rng.uniform(5.0, 150.0)
        rets = rng.normal(0.0, 0.02, size=n)
        close = np.round(p0 * np.exp(np.cumsum(rets)), 2)
        open_ = np.round(np.concatenate([[p0], close[:-1]]), 2)
        wick = np.round(np.abs(rng.normal(0.0, 0.01, size=(2, n))) * close, 2)
        high = np.maximum(open_, close) + wick[0]
        low = np.maximum(np.minimum(open_, close) - wick[1], 0.01)
        volume = rng.integers(1_000, 2_000_000, size=n)
        out.append(
            Series(sym, days[len(days) - n :], open_, np.round(high, 2),
                   np.round(low, 2), close, volume)
        )
    return out


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".part"
    pq.write_table(
        table, tmp, row_group_size=max(1, -(-table.num_rows // ROW_GROUPS))
    )
    os.replace(tmp, path)


@dataclass(frozen=True)
class SnapshotInput:
    """The cycle file, the number of bars the engine must emit for it,
    and a few-symbol file that starts a stream."""

    file: str
    expected_rows: int
    probe_file: str


def snapshot_input(
    seed: int,
    cache_dir: str,
    n_symbols: int,
    min_bars: int = 20,
    max_bars: int = 480,
    probe_symbols: int = 20,
) -> SnapshotInput:
    """A full-history snapshot cycle for ``snapshot_stream``: every
    symbol's ``L_s`` bars, ``L_s`` uniform in ``[min_bars, max_bars]``.
    About 5% of symbols are re-sent in the same cycle with one bar less
    and an older timestamp (a producer retry the dedup must discard), and
    about 0.5% of extra rows carry truncated, malformed JSON (parsed to
    NULL and dropped).
    """
    rng = np.random.default_rng([seed, 1])
    symbols = symbol_names(rng, n_symbols)
    lengths = rng.integers(min_bars, max_bars + 1, size=n_symbols)
    series = make_series(rng, symbols, lengths + 1)
    retry = rng.random(n_symbols) < RETRY_SHARE
    bad = rng.choice(n_symbols, size=max(1, round(MALFORMED_SHARE * n_symbols)))
    os.makedirs(cache_dir, exist_ok=True)
    ts = dt.datetime(2024, 6, 3, 2, 30, tzinfo=dt.timezone.utc)
    older = ts - dt.timedelta(minutes=CYCLE_MINUTES)

    def table(idx) -> pa.Table:
        offsets = [0] * KAFKA_PARTITIONS
        rows = []

        def add(sym: str, value: bytes, when: dt.datetime) -> None:
            part = zlib.crc32(sym.encode()) % KAFKA_PARTITIONS
            rows.append((sym.encode(), value, part, offsets[part], when))
            offsets[part] += 1

        for i in idx:
            add(series[i].symbol, series[i].message(int(lengths[i]) + 1), ts)
        for i in idx:
            if retry[i]:
                add(series[i].symbol, series[i].message(int(lengths[i])), older)
        for i in bad:
            if i in idx:
                # cut before the first key, so the parser cannot return a
                # partial record (Spark keeps partial JSON results)
                msg = series[i].message(int(lengths[i]) + 1)
                add(series[i].symbol, msg[1 : len(msg) // 2], ts)
        return pa.Table.from_pylist(
            [dict(zip(KAFKA_SCHEMA.names, r)) for r in rows], schema=KAFKA_SCHEMA
        )

    name = f"snapshot-v{VERSION}-{seed}-{n_symbols}"
    path = os.path.join(cache_dir, f"{name}.parquet")
    if not os.path.exists(path):
        _write(table(range(n_symbols)), path)
    probe = os.path.join(cache_dir, f"{name}-probe.parquet")
    if not os.path.exists(probe):
        _write(table(range(min(probe_symbols, n_symbols))), probe)
    return SnapshotInput(path, int((lengths + 1).sum()), probe)


class DeltaInput:
    """Per-cycle quote-feed files for ``delta_stream``: cycle ``c``
    carries one message per symbol with bars ``0..c``, so exactly the
    last bar is new each cycle (the ``quotefeed_deltas`` contract, which
    requires the stream to start from one bar). Files are written on
    first use, outside any timed region, and cached."""

    def __init__(self, seed: int, cache_dir: str, n_symbols: int, max_cycles: int = 400):
        rng = np.random.default_rng([seed, 2])
        self.seed, self.cache_dir = seed, cache_dir
        self.symbols = symbol_names(rng, n_symbols)
        self.series = make_series(
            rng, self.symbols, np.full(n_symbols, max_cycles)
        )
        self.max_cycles = max_cycles
        os.makedirs(cache_dir, exist_ok=True)

    def file(self, cycle: int, n_symbols: int | None = None) -> str:
        if cycle >= self.max_cycles:
            raise ValueError(f"delta input has {self.max_cycles} cycles, asked {cycle}")
        series = self.series[:n_symbols]
        path = os.path.join(
            self.cache_dir,
            f"delta-v{VERSION}-{self.seed}-{len(self.series)}-{len(series)}-{cycle}.parquet",
        )
        if not os.path.exists(path):
            rows = [
                {
                    "symbol": s.symbol,
                    "current_price": float(s.close[cycle]),
                    "message": s.message(cycle + 1).decode("utf-8"),
                }
                for s in series
            ]
            _write(pa.Table.from_pylist(rows, schema=QUOTEFEED_SCHEMA), path)
        return path
