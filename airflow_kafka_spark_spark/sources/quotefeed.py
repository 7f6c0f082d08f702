"""Engine-native quote-feed source via the Spark 4 Python DataSource API.

The reference ingests market data with an external Airflow task that
polls a REST client and produces Kafka JSON
(airflow/dags/fetch_to_kafka_dag.py:25-29,68-73 — SURVEY §2.1 S4/S5).
This module brings that boundary INSIDE the engine as a registrable
``spark.read.format("quotefeed")`` source, so the same history-message
rows the Kafka path parses can be produced by Spark itself — no broker,
no scheduler — from either a JSONL fixture replay or a deterministic
synthetic generator.

Scale/partitioning design: the reader plans ONE partition per symbol
shard (``numPartitions`` option), so a large symbol universe fans out
across executors like any other source; each partition re-derives its
symbols deterministically from (shard index, num shards) without driver
state. Python DataSources run the reader in Python workers (Arrow-batched
back to the JVM) — right for an ingest boundary whose upstream is a
Python SDK, while everything downstream stays JVM-side.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..ingest import history_message

SCHEMA = "symbol string, current_price double, message string"
_FIRST_DAY = datetime.date(2024, 1, 1)


def _synthetic_history(symbol: str, n_bars: int) -> dict:
    """Deterministic OHLCV history for a symbol — RNG-free (hash-seeded
    arithmetic), so every executor, rerun, and test sees identical
    bars."""
    if n_bars < 1:
        raise ValueError(f"quotefeed: numBars must be >= 1, got {n_bars}")
    seed = sum(ord(c) for c in symbol)
    bars = []
    price = 100.0 + (seed % 50)
    for i in range(n_bars):
        drift = ((seed * 31 + i * 17) % 11 - 5) / 10.0
        o = round(price, 2)
        c = round(price + drift, 2)
        bars.append(
            {
                # one calendar day per bar: unique, ordered dates
                "time": (_FIRST_DAY + datetime.timedelta(days=i)).isoformat(),
                "open": o,
                "high": round(max(o, c) + 0.5, 2),
                "low": round(min(o, c) - 0.5, 2),
                "close": c,
                "volume": 1000 + (seed + i * 13) % 5000,
            }
        )
        price = c
    return history_message(symbol, bars[-1]["close"], bars)


def _row(msg: dict) -> tuple:
    """One SCHEMA row for a history message: the message rides along
    as canonical (key-sorted) JSON."""
    return msg["symbol"], float(msg["current_price"]), json.dumps(msg, sort_keys=True)


class _QuoteFeedPartition(InputPartition):
    def __init__(self, index: int, count: int):
        self.index = index
        self.count = count


class QuoteFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        self.symbols = [
            s for s in options.get("symbols", "").split(",") if s
        ]
        self.n_bars = int(options.get("numBars", "30"))
        self.num_partitions = int(options.get("numPartitions", "4"))

    def partitions(self):
        if self.path:
            # replay mode shards by line index — any fan-out is valid
            n = max(1, self.num_partitions)
        else:
            # synthetic mode shards the symbol list — no point planning
            # more partitions than symbols
            n = max(1, min(self.num_partitions, max(len(self.symbols), 1)))
        return [_QuoteFeedPartition(i, n) for i in range(n)]

    def read(self, partition: _QuoteFeedPartition):
        if self.path:
            # fixture replay: JSONL of history messages; shard by line
            # index so partitions split the file without coordination
            with open(self.path) as f:
                for i, line in enumerate(f):
                    if i % partition.count == partition.index and line.strip():
                        yield _row(json.loads(line))
        else:
            for symbol in self.symbols[partition.index :: partition.count]:
                yield _row(_synthetic_history(symbol, self.n_bars))


class QuoteFeedStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch quote feed: offset = poll-cycle counter; each batch
    emits one fresh history message per symbol, ``numBars`` growing by
    one bar per cycle (prices continue deterministically). This is the
    reference's Airflow poll loop (fetch_to_kafka_dag.py:50-121)
    re-expressed as a native ``readStream`` source — exactly-once
    because cycle → rows is a pure function, so offset replay after a
    crash regenerates identical data (Kafka-grade replayability with no
    broker). ``readBetweenOffsets`` is the replay hook Spark calls on
    recovery."""

    def __init__(self, options: dict):
        if options.get("path"):
            # the stream reader has no fixture-replay mode; silently
            # ignoring the option would run an empty-but-green stream
            # forever (r13 review) — fail at construction instead
            raise ValueError(
                "quotefeed streaming does not support the 'path' option "
                "(batch-only fixture replay) — use spark.read, or pass "
                "symbols= for the synthetic poll loop"
            )
        self.symbols = [s for s in options.get("symbols", "").split(",") if s]
        self.base_bars = int(options.get("numBars", "30"))

    def initialOffset(self) -> dict:
        return {"cycle": 0}

    def _rows(self, cycle: int):
        for symbol in self.symbols:
            yield _row(_synthetic_history(symbol, self.base_bars + cycle))

    def read(self, start: dict):
        cycle = start["cycle"]
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator when planning partitions, and
        # generators are not copyable (a cycle's rows are small — one
        # message per symbol)
        return list(self._rows(cycle)), {"cycle": cycle + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        for cycle in range(start["cycle"], end["cycle"]):
            yield from self._rows(cycle)


class QuoteFeedDataSource(DataSource):
    """``spark.read.format("quotefeed")`` (batch) or
    ``spark.readStream.format("quotefeed")`` (micro-batch poll loop)
    after :func:`register_quotefeed`. Options:

    - ``symbols``: comma-separated symbol list (synthetic mode)
    - ``numBars``: bars per symbol (default 30; streaming grows it by
      one per cycle)
    - ``path``: JSONL file of history messages (batch replay mode;
      overrides synthetic)
    - ``numPartitions``: batch reader fan-out (default 4)
    """

    @classmethod
    def name(cls) -> str:
        return "quotefeed"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> QuoteFeedReader:
        return QuoteFeedReader(self.options)

    def simpleStreamReader(self, schema) -> QuoteFeedStreamReader:
        return QuoteFeedStreamReader(self.options)


def register_quotefeed(spark) -> None:
    spark.dataSource.register(QuoteFeedDataSource)
