"""The two streaming workloads: a closed loop that makes one cycle file
visible at a time and waits for the sink call of the micro-batch that
carries it.

- ``snapshot_stream``: full-history snapshots through
  ``streaming.pipeline.start_pipeline`` (parse → dedup → explode →
  indicators → signals → serialize → parquet sink).
- ``delta_stream``: one new bar per symbol per cycle through
  ``streaming.stateful.running_macd(quotefeed_deltas(...))``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen
from .harness import Tracer, WorkDir, median

DEADLINE_S = 60.0  # a cycle that takes longer counts as failed


class ClosedLoop:
    """Feeds cycle files into a watched directory, one in flight.

    Each file is copied to a staging directory and renamed into the
    watched one; the rename is the moment the cycle becomes visible. The
    sink wrapper records when the sink call for each micro-batch returns.
    """

    def __init__(self, work: WorkDir, name: str) -> None:
        self.watch = work.fresh(f"{name}-watch")
        self.stage = work.fresh(f"{name}-stage")
        self.n = 0
        self._cv = threading.Condition()
        self._done: list[tuple[int, float, float]] = []

    def wrap(self, write):
        def sink(df, batch_id: int) -> None:
            write(df, batch_id)
            t, wall = time.perf_counter(), time.time()
            with self._cv:
                self._done.append((batch_id, t, wall))
                self._cv.notify_all()

        return sink

    def cycle(self, src: str, query) -> dict | None:
        """Make ``src`` visible and wait for its sink call. Returns the
        cycle record, or None when the deadline passed or the query died."""
        n, self.n = self.n, self.n + 1
        name = f"cycle-{n:05d}.parquet"
        staged = os.path.join(self.stage, name)
        shutil.copyfile(src, staged)
        with self._cv:
            seen = len(self._done)
        wall, t0 = time.time(), time.perf_counter()
        os.rename(staged, os.path.join(self.watch, name))
        deadline = t0 + DEADLINE_S
        with self._cv:
            while len(self._done) <= seen:
                left = deadline - time.perf_counter()
                if left <= 0 or not query.isActive:
                    return None
                self._cv.wait(min(left, 0.5))
            batch_id, t1, end_wall = self._done[seen]
        return {"cycle": n, "src": src, "batch_id": batch_id, "t_visible": t0,
                "t_end": t1, "latency_s": t1 - t0, "visible_wall": wall,
                "end_wall": end_wall}


def _stop(query) -> None:
    query.stop()
    query.awaitTermination(30)


# ---------------------------------------------------------------- queries


def _snapshot_query(spark, loop: ClosedLoop, work: WorkDir, out: str, tracer: Tracer):
    from airflow_kafka_spark_spark.operators.serialize import to_kafka_records
    from airflow_kafka_spark_spark.streaming.pipeline import start_pipeline

    def write(processed, batch_id: int) -> None:
        t0 = time.perf_counter()
        to_kafka_records(processed).write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}")
        )
        tracer.add("sink.write", t0, time.perf_counter(), item=batch_id)

    source = spark.readStream.schema(gen.KAFKA_DDL).parquet(loop.watch)
    return start_pipeline(
        source,
        sink=loop.wrap(write),
        trigger="0 seconds",
        checkpoint_dir=work.fresh("checkpoint"),
        dedup_order_cols=["timestamp", "offset"],
        query_name=f"snapshot_{time.time_ns()}",
    )


def _delta_query(spark, loop: ClosedLoop, work: WorkDir, out: str, tracer: Tracer):
    from airflow_kafka_spark_spark.streaming.stateful import (
        quotefeed_deltas,
        running_macd,
    )

    def write(df, batch_id: int) -> None:
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))
        tracer.add("sink.write", t0, time.perf_counter(), item=batch_id)

    source = spark.readStream.schema(gen.QUOTEFEED_DDL).parquet(loop.watch)
    return (
        running_macd(quotefeed_deltas(source))
        .writeStream.foreachBatch(loop.wrap(write))
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", work.fresh("checkpoint"))
        .queryName(f"delta_{time.time_ns()}")
        .start()
    )


# ------------------------------------------------------------ the streams


@dataclass
class Stream:
    """One started streaming query with its closed loop and sink output."""

    query: object
    loop: ClosedLoop
    out: str
    cycles: list[dict] = field(default_factory=list)
    failed: int = 0

    def run(self, src: str) -> dict | None:
        rec = self.loop.cycle(src, self.query)
        if rec is None:
            self.failed += 1
            return None
        self.cycles.append(rec)
        return rec

    def stop(self) -> None:
        """Stop the query (once) and attach each cycle's progress report."""
        if not self.query.isActive:
            return
        # a batch reports its progress after its commit, which follows the
        # sink call; wait for the last cycle's report before stopping
        last = self.cycles[-1]["batch_id"] if self.cycles else -1
        deadline = time.perf_counter() + 10
        progress: dict[int, dict] = {}
        while last not in progress and time.perf_counter() < deadline:
            for p in self.query.recentProgress:
                d = json.loads(p.json)
                progress[d["batchId"]] = d
            time.sleep(0.02)
        _stop(self.query)
        for rec in self.cycles:
            rec["progress"] = progress.get(rec["batch_id"])


def start_stream(kind: str, spark, work: WorkDir, tracer: Tracer, first: str) -> tuple[Stream, float]:
    """Start a stream and run its first file through it. Returns the
    stream and its start-up time: from ``start()`` to the return of the
    first micro-batch's sink call (the first ready trigger)."""
    loop = ClosedLoop(work, kind)
    out = work.fresh(f"{kind}-out")
    t0 = time.perf_counter()
    make = _snapshot_query if kind == "snapshot" else _delta_query
    stream = Stream(make(spark, loop, work, out, tracer), loop, out)
    rec = stream.run(first)
    if rec is None:
        raise RuntimeError(f"{kind} stream did not finish its first batch")
    return stream, time.perf_counter() - t0


# ------------------------------------------------------------ the checks


def _hash_agg():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64("key", "value").cast("decimal(38,0)")).alias("hash"),
    ]


def expected_snapshot(spark, srcs) -> dict[str, tuple[int, int]]:
    """Row count and order-insensitive hash of ``(key, value)`` of
    ``analyze_history_batch`` on each cycle file read as a batch."""
    from airflow_kafka_spark_spark.operators.serialize import to_kafka_records
    from airflow_kafka_spark_spark.streaming.pipeline import analyze_history_batch

    want = {}
    for src in srcs:
        batch = analyze_history_batch(
            spark.read.parquet(src), dedup_order_cols=["timestamp", "offset"]
        )
        r = to_kafka_records(batch).agg(*_hash_agg()).first()
        want[src] = (r["rows"], r["hash"])
    return want


def check_snapshot(spark, stream: Stream, inp: gen.SnapshotInput,
                   want: dict[str, tuple[int, int]]) -> set[int]:
    """Cycles whose sink rows differ from ``want`` (see
    ``expected_snapshot``) for their cycle file, or from the generator's
    bar count."""
    got = {
        r["batch"]: (r["rows"], r["hash"])
        for r in spark.read.parquet(stream.out).groupBy("batch").agg(*_hash_agg()).collect()
    }
    bad = set()
    for c in stream.cycles:
        ok = got.get(c["batch_id"]) == want[c["src"]]
        if c["src"] == inp.file:
            ok = ok and want[inp.file][0] == inp.expected_rows
        if not ok:
            bad.add(c["cycle"])
    return bad


def check_delta(spark, stream: Stream, inp: gen.DeltaInput, n_symbols: int) -> set[int]:
    """Cycles whose streamed MACD rows are not bit-equal to
    ``functions.ema.macd_columns`` over each symbol's full series, or
    that do not carry exactly one new bar per symbol."""
    from airflow_kafka_spark_spark.functions.ema import macd_columns

    pdf = spark.read.parquet(stream.out).toPandas()
    cycle_of = {c["batch_id"]: c["cycle"] for c in stream.cycles}
    pdf["cycle"] = pdf["batch"].map(cycle_of)
    n_cycles = len(stream.cycles)
    want = {}
    for s in inp.series[:n_symbols]:
        line, sig, hist = macd_columns(s.close[:n_cycles].astype(np.float64))
        want[s.symbol] = (s.dates, s.close, line, sig, hist)
    bad = set()
    for cyc, part in pdf.groupby("cycle"):
        ok = len(part) == n_symbols and part["symbol"].nunique() == n_symbols
        if ok:
            for r in part.itertuples(index=False):
                dates, close, line, sig, hist = want[r.symbol]
                i = r.n_rows - 1
                if not (i == cyc and r.date_str == dates[i] and r.close == close[i]
                        and r.macd_line == line[i] and r.macd_signal == sig[i]
                        and r.macd_histogram == hist[i]):
                    ok = False
                    break
        if not ok:
            bad.add(int(cyc))
    bad |= {c["cycle"] for c in stream.cycles} - set(pdf["cycle"].dropna().astype(int))
    return bad


# ------------------------------------------------------ progress → layers


def pipeline_layers(cycles: list[dict]) -> dict[str, float]:
    """Per-batch streaming costs from ``StreamingQueryProgress``, as
    medians over the cycles given."""
    from datetime import datetime

    pick, plan, add, commit, upd, scommit, rows, nbytes = ([] for _ in range(8))
    for c in cycles:
        p = c.get("progress")
        if not p:
            continue
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        pick.append(start - c["visible_wall"])
        plan.append(d.get("queryPlanning", 0) / 1e3)
        add.append(d.get("addBatch", 0) / 1e3)
        commit.append((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        for op in p.get("stateOperators", []):
            upd.append(op["allUpdatesTimeMs"] / 1e3)
            scommit.append(op["commitTimeMs"] / 1e3)
            rows.append(op["numRowsTotal"])
            nbytes.append(op["memoryUsedBytes"])
    out = {}
    if pick:
        out.update({
            "streaming.pipeline.pickup_s": median(pick),
            "streaming.pipeline.planning_s": median(plan),
            "streaming.pipeline.add_batch_s": median(add),
            "streaming.pipeline.commit_s": median(commit),
        })
    if upd:
        out.update({
            "streaming.stateful.update_s": median(upd),
            "streaming.stateful.commit_s": median(scommit),
            "streaming.stateful.state_rows": median(rows),
            "streaming.stateful.state_bytes": median(nbytes),
        })
    return out


def job_counts(spark, query, before: set[int]) -> tuple[set[int], int, int]:
    """Jobs (and their tasks) the query ran since ``before``, from the
    public StatusTracker; a streaming query runs every batch's jobs in a
    job group named after its run id."""
    st = spark.sparkContext.statusTracker()
    ids = set(st.getJobIdsForGroup(str(query.runId)))
    new = ids - before
    tasks = 0
    for jid in new:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return ids, len(new), tasks
