"""One function per workload. Each returns ``(metrics, attempted,
failed, artifact)``: end-to-end metrics on an untraced run, per-layer
metrics on a traced one."""

from __future__ import annotations

import contextlib
import time

from . import gen
from .harness import (
    CACHE_DIR,
    RssSampler,
    Tracer,
    WorkDir,
    facts,
    median,
    start_session,
    stop_processes,
    tree_cpu_s,
    warm_up,
)
from .streams import (
    Stream,
    check_delta,
    check_snapshot,
    expected_snapshot,
    job_counts,
    pipeline_layers,
    start_stream,
)

SNAPSHOT_SYMBOLS = 800
DELTA_SYMBOLS = 2000
PROBE_SYMBOLS = 300  # side legs of a traced run
STARTS = 3  # stream start-ups per run; setup_s takes their median
WARM_CYCLES = 1  # checked but untimed: the JIT is still compiling
ORDER = ["timestamp", "offset"]


class Inputs:
    """A workload's cycle files: ``first`` starts a stream, ``cycle(i)``
    is the file of cycle ``i`` (0 is the start-up file) and ``bars`` the
    input bars one cycle carries."""

    def __init__(self, kind: str, seed: int, n_symbols: int) -> None:
        self.kind, self.n_symbols = kind, n_symbols
        if kind == "snapshot":
            self.snap = gen.snapshot_input(seed, CACHE_DIR, n_symbols)
            self.first = self.snap.probe_file
        else:
            self.delta = gen.DeltaInput(seed, CACHE_DIR, DELTA_SYMBOLS)
            self.first = self.delta.file(0, n_symbols)

    def cycle(self, i: int) -> str:
        if self.kind == "snapshot":
            return self.snap.file
        return self.delta.file(i, self.n_symbols)

    @property
    def bars(self) -> int:
        return self.snap.expected_rows if self.kind == "snapshot" else self.n_symbols

    def prepare(self, spark) -> None:
        """What the output check compares against, computed before the
        timed cycles: for snapshots, a batch run of each cycle file."""
        if self.kind == "snapshot":
            self.want = expected_snapshot(spark, [self.first, self.snap.file])

    def check(self, spark, stream: Stream) -> set[int]:
        if self.kind == "snapshot":
            return check_snapshot(spark, stream, self.snap, self.want)
        return check_delta(spark, stream, self.delta, self.n_symbols)


def _loop(stream: Stream, inp: Inputs, seconds: float, max_cycles: int | None,
          on_cycle=None) -> list[dict]:
    """Timed cycles until ``seconds`` have passed (at least one)."""
    done, end = [], time.perf_counter() + seconds
    while not done or time.perf_counter() < end:
        if max_cycles is not None and len(done) >= max_cycles:
            break
        rec = stream.run(inp.cycle(stream.loop.n))
        if rec is None:
            break
        done.append(rec)
        if on_cycle is not None:
            on_cycle(rec)
    return done


def _leg_latency(kind: str, spark, work: WorkDir, inp: Inputs, cycles: int = 1) -> tuple[float, int, int]:
    """Median cycle latency of a short stream started in a JVM the main
    stream already warmed: ``cycles`` timed cycles after its start-up.
    Returns (median, attempted, failed)."""
    stream, _ = start_stream(kind, spark, work, Tracer(False), inp.first)
    recs = _loop(stream, inp, 0.0, cycles)
    stream.stop()
    bad = inp.check(spark, stream)
    lat = median([r["latency_s"] for r in recs])
    return lat, len(stream.cycles) + stream.failed, len(bad) + stream.failed


def operator_chain(spark, src: str, tracer: Tracer) -> dict[str, float]:
    """Materialise one snapshot cycle through growing prefixes of the
    transform chain ``analyze_history_batch`` runs (parse → dedup →
    explode → windows → MACD → signals → serialize), each to a noop
    sink. A step's exec time is its prefix's write time minus the
    previous prefix's; its build time is the Python call. Each prefix is
    a plan of its own, so the chain runs twice (the first pass compiles
    its generated code) and every time is the faster of the two."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.dedup import latest_message_per_key
    from airflow_kafka_spark_spark.operators.indicators import (
        with_macd,
        with_moving_averages,
        with_rsi,
    )
    from airflow_kafka_spark_spark.operators.parse import (
        explode_history,
        parse_history_messages,
    )
    from airflow_kafka_spark_spark.operators.serialize import (
        to_kafka_records,
        to_processed,
    )
    from airflow_kafka_spark_spark.operators.signals import with_suggestion

    raw = spark.read.parquet(src)
    key, order = ["symbol"], ["date"]
    steps = [
        ("operators.parse", "exec_s", lambda _: parse_history_messages(raw, carry_cols=ORDER)),
        ("operators.dedup", "exec_s",
         lambda m: latest_message_per_key(m, key, ORDER).drop(*ORDER)),
        ("operators.parse", "explode_exec_s", explode_history),
        ("operators.indicators", "window_exec_s",
         lambda q: with_rsi(with_moving_averages(q, key, order), key, order)),
        ("operators.indicators", "macd_exec_s", lambda q: with_macd(q, key, order)),
        ("operators.signals", "exec_s", with_suggestion),
        ("operators.serialize", "exec_s", lambda d: to_kafka_records(to_processed(d))),
    ]
    build = [float("inf")] * len(steps)
    write = [float("inf")] * len(steps)
    for _ in range(2):
        df, frames = None, []
        for i, (module, _, step) in enumerate(steps):
            with tracer.span(f"{module}.build", item=i):
                t0 = time.perf_counter()
                df = step(df)
                t1 = time.perf_counter()
            with tracer.span(f"prefix.{i}", item=i):
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            build[i] = min(build[i], t1 - t0)
            write[i] = min(write[i], t2 - t1)
            frames.append(df)
    out: dict[str, float] = {}
    for i, (module, metric, _) in enumerate(steps):
        out[f"{module}.build_s"] = out.get(f"{module}.build_s", 0.0) + build[i]
        out[f"{module}.{metric}"] = write[i] - (write[i - 1] if i else 0.0)
    parsed, deduped = frames[0], frames[1]
    n_parsed, n_null = parsed.agg(
        F.count(F.lit(1)), F.count_if(F.col("symbol").isNull())
    ).first()
    out["operators.parse.null_rows"] = n_null
    out["operators.dedup.kept_ratio"] = deduped.count() / n_parsed
    return out


def run_stream(kind: str, seed: int, seconds: float, trace: bool, t_start: float,
               n_symbols: int | None = None, max_cycles: int | None = None):
    work = WorkDir()
    try:
        return _run_stream(kind, seed, seconds, trace, t_start, work, n_symbols, max_cycles)
    finally:
        stop_processes()
        work.close()


def _run_stream(kind, seed, seconds, trace, t_start, work, n_symbols, max_cycles):
    n_symbols = n_symbols or (SNAPSHOT_SYMBOLS if kind == "snapshot" else DELTA_SYMBOLS)
    t0 = time.perf_counter()
    inp = Inputs(kind, seed, n_symbols)
    gen_s = time.perf_counter() - t0

    # the memory sampler walks /proc on a thread, so it runs only when traced
    rss = RssSampler() if trace else contextlib.nullcontext()
    with rss:
        spark = start_session(work)
        warm_up(spark)
        session_s = time.perf_counter() - t_start - gen_s
        starts = []
        # setup_s is an end-to-end metric: a traced run starts the stream once
        for _ in range(0 if trace else STARTS - 1):
            probe, dt = start_stream(kind, spark, work, Tracer(False), inp.first)
            probe.stop()
            starts.append(dt)
        tracer = Tracer(False)
        stream, dt = start_stream(kind, spark, work, tracer, inp.first)
        starts.append(dt)
        setup_s = session_s + median(starts)
        inp.prepare(spark)
        for _ in range(WARM_CYCLES):
            stream.run(inp.cycle(stream.loop.n))

        # a traced run times its first half untraced; the difference of the
        # two halves' medians is the tracing overhead
        cpu0 = tree_cpu_s()
        timed = _loop(stream, inp, seconds / 2 if trace else seconds,
                      max(1, max_cycles // 2) if trace and max_cycles else max_cycles)
        cpu_s = tree_cpu_s() - cpu0
        if trace:
            traced, jobs, tasks = _traced_loop(spark, stream, inp, tracer, seconds / 2, max_cycles)
        stream.stop()
        bad = inp.check(spark, stream)
        attempted = len(stream.cycles) + stream.failed
        failed = len(bad) + stream.failed

    lat = [r["latency_s"] for r in timed]
    if not lat:
        raise RuntimeError(f"{kind} stream: no timed cycle finished")
    artifact = facts(spark, seed, f"{kind}_stream", symbols=n_symbols, seconds=seconds,
                     timed_cycles=len(lat), starts_per_run=len(starts),
                     warm_cycles=WARM_CYCLES, generation_s=gen_s, session_s=session_s,
                     stream_starts_s=starts, cycle_latency_s=lat,
                     all_cycles_latency_s=[r["latency_s"] for r in stream.cycles])
    if not trace:
        spark.stop()
        rates = [inp.bars / r["latency_s"] for r in timed]
        return {
            "setup_s": (setup_s, "s"),
            "cycle_latency_p50_s": (median(lat), "s"),
            "bars_per_s": (median(rates), "bars/s"),
        }, attempted, failed, artifact

    layers = pipeline_layers(traced)
    layers["streaming.pipeline.jobs_per_batch"] = median(jobs)
    layers["streaming.pipeline.tasks_per_batch"] = median(tasks)
    sink = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "sink.write"]
    layers["sink.write_s"] = median(sink)
    layers["process.cycle_cpu_s"] = cpu_s / len(lat)
    layers["process.peak_rss_mb"] = rss.peak_mb
    layers["trace.overhead_s"] = median([r["latency_s"] for r in traced]) - median(lat)

    # the snapshot transform chain, layer by layer; delta_stream does not
    # run it, so its traced run times the chain on a probe-sized snapshot
    chain_src = (inp.snap.file if kind == "snapshot"
                 else gen.snapshot_input(seed, CACHE_DIR, PROBE_SYMBOLS).file)
    layers.update(operator_chain(spark, chain_src, tracer))

    # the state store, from delta_stream's own progress; snapshot_stream
    # keeps no state, so its traced run adds a probe-sized delta stream
    if kind == "snapshot":
        side = Inputs("delta", seed, PROBE_SYMBOLS)
        s2, _ = start_stream("delta", spark, work, Tracer(False), side.first)
        recs = _loop(s2, side, 0.0, 2)
        s2.stop()
        bad2 = side.check(spark, s2)
        attempted += len(s2.cycles) + s2.failed
        failed += len(bad2) + s2.failed
        layers.update({k: v for k, v in pipeline_layers(recs).items()
                       if k.startswith("streaming.stateful.")})

    # the single-threaded baseline: the same stream on local[1]
    spark.stop()
    spark = start_session(work, master="local[1]")
    serial, a2, f2 = _leg_latency(kind, spark, work, inp)
    spark.stop()
    attempted += a2
    failed += f2
    layers["streaming.pipeline.parallel_speedup"] = serial / median(lat)
    artifact.update(serial_leg_latency_s=serial, spans=tracer.spans,
                    self_time_s=tracer.self_times())
    metrics = {}
    for name, value in layers.items():
        unit = next(u for suffix, u in UNITS.items() if name.endswith(suffix))
        metrics[name] = (float(value), unit)
    return metrics, attempted, failed, artifact


UNITS = {"_mb": "MB", "_s": "s", "_rows": "count", "_batch": "count",
         "_ratio": "ratio", "_bytes": "bytes", "_speedup": "ratio"}


def _traced_loop(spark, stream: Stream, inp: Inputs, tracer: Tracer, seconds: float,
                 max_cycles: int | None):
    """Timed cycles with spans and per-batch StatusTracker job counts,
    both taken after the sink returned, outside the cycle's latency."""
    tracer.enabled = True
    jobs: list[int] = []
    tasks: list[int] = []
    seen, _, _ = job_counts(spark, stream.query, set())

    def on_cycle(rec: dict) -> None:
        nonlocal seen
        seen, n_jobs, n_tasks = job_counts(spark, stream.query, seen)
        jobs.append(n_jobs)
        tasks.append(n_tasks)

    recs = _loop(stream, inp, seconds, max(1, max_cycles // 2) if max_cycles else None,
                 on_cycle)
    stream.stop()
    # cycle → pickup, addBatch (from the query's progress) → the sink call,
    # which ran on Spark's callback thread
    sinks = {s["item"]: s for s in tracer.spans if s["name"] == "sink.write"}
    for rec in recs:
        tracer.add("cycle", rec["t_visible"], rec["t_end"], item=rec["cycle"])
        cycle_id = tracer.spans[-1]["id"]
        p = rec.get("progress")
        if p:
            one = pipeline_layers([rec])
            pick = one["streaming.pipeline.pickup_s"]
            tracer.add("streaming.pipeline.pickup", rec["t_visible"],
                       rec["t_visible"] + pick, item=rec["cycle"], parent=cycle_id)
            add = one["streaming.pipeline.add_batch_s"]
            tracer.add("streaming.pipeline.add_batch", rec["t_end"] - add, rec["t_end"],
                       item=rec["cycle"], parent=cycle_id)
            cycle_id = tracer.spans[-1]["id"]
        if rec["batch_id"] in sinks:
            sinks[rec["batch_id"]]["parent"] = cycle_id
    return recs, jobs, tasks
