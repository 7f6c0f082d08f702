"""Measurement plumbing shared by the workloads: the run's scratch
directory, the Spark session, a process-tree memory sampler, in-memory
spans, and the facts each artifact carries."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, "_cache")  # generated inputs, by seed
OUT_DIR = os.path.join(BENCH_DIR, "_out")  # artifacts: facts + spans


class WorkDir:
    """A fresh scratch root for one run (checkpoints, sink output, Spark
    and JVM temp files), removed when the run ends. It lives inside the
    benchmark directory so a run writes nothing outside its checkout."""

    def __init__(self) -> None:
        base = os.path.join(BENCH_DIR, "_work")
        os.makedirs(base, exist_ok=True)
        self.root = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = self.path("tmp")
        os.environ["TMPDIR"] = self.tmp  # Python temp files, incl. pyspark's

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new, empty directory under the run root."""
        return self.path(f"{name}-{time.time_ns()}")

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_session(work: WorkDir, master: str | None = None):
    """The engine's own session builder, with every Spark and JVM temp
    location pointed into ``work``. Spark's Python workers import the
    engine package, so the repository root goes on their PYTHONPATH."""
    from airflow_kafka_spark_spark.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = build_session(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.local.dir": work.path("spark-local"),
            "spark.sql.warehouse.dir": work.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work.tmp} -Dderby.system.home={work.tmp} "
                "-XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Start the Python/Arrow worker pool, as bench.py does, so the first
    stream start does not pay for it alone."""
    spark.range(1_000).selectExpr("id % 8 AS g", "id").groupBy("g").applyInArrow(
        lambda t: t, "g bigint, id bigint"
    ).write.format("noop").mode("overwrite").save()


def _tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this
    process and all its descendants: the driver Python process, the JVM
    and Spark's Python workers."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def _state(pid: int, start: str) -> str | None:
    """The state letter of process ``pid`` (``Z`` for a zombie), or None
    once it is gone or its pid belongs to a later process: ``start`` is
    the start time it had, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rfind(")") + 2 :].split()
    return fields[0] if fields[19] == start else None


def stop_processes(timeout: float = 20.0) -> None:
    """Stop every process this one started (the Spark JVM and Spark's
    Python workers) and wait until each has ended. Left to itself the
    JVM shuts down only after this process has exited, and outlives it.
    Each process gets SIGTERM, and SIGKILL if it still runs ``timeout``
    seconds later; then the run waits a little longer for the ended ones
    that are not its own children to be reaped."""
    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    # field 19 after the command name is the start time, which tells a
    # process from a later one that reuses its pid
    procs = {pid: f[19] for pid, f in _tree().items() if pid != os.getpid()}
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()

    def wait(done, seconds: float) -> None:
        end = time.monotonic() + seconds
        while time.monotonic() < end:
            if jvm is not None:
                jvm.poll()  # the JVM is this process's child: reap it
            if all(done(_state(p, s)) for p, s in procs.items()):
                return
            time.sleep(0.05)

    for sig in (signal.SIGTERM, signal.SIGKILL):
        running = [p for p, s in procs.items() if _state(p, s) not in (None, "Z", "X")]
        for pid in running:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        wait(lambda st: st in (None, "Z", "X"), timeout)
    wait(lambda st: st is None, 5.0)
    SparkContext._gateway = SparkContext._jvm = None


def tree_cpu_s() -> float:
    """User plus system CPU seconds the process tree has used so far,
    including children it has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    # fields 11..14 after the command name: utime stime cutime cstime
    return sum(sum(int(x) for x in f[11:15]) for f in _tree().values()) / tick


def _tree_rss_bytes(page: int) -> int:
    return sum(int(f[21]) for f in _tree().values()) * page


class RssSampler:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread; ``peak_mb`` is the highest sample."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(self._page))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Tracer:
    """In-memory spans: name, start, end, parent span and the cycle or
    query they belong to. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, item=None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "item": item,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, item=None, parent=None) -> None:
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "item": item,
                               "parent": parent, "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: a span's duration minus the
        part of it its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def median(xs) -> float:
    return float(statistics.median(xs))


def git_commit() -> str | None:
    """The commit of the checkout, when it is a git repository."""
    if not os.path.exists(os.path.join(REPO_ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO_ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def facts(spark, seed: int, workload: str, **extra) -> dict:
    """What a reader needs to refute the run's numbers."""
    import pandas
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        **extra,
    }


def write_artifact(name: str, payload: dict) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path
