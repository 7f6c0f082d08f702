#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>, "cpus": N,
     "default_parallelism": N, ...}

Each query is timed end-to-end (plan + execute) with a ``noop`` sink so
results are computed on executors but never shipped to the driver —
measuring the engine, not the collect path. The full payload, with each
query's probe-normalized times and its ``plan_signature``, goes to
bench_detail.json next to this script.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import sys
import time

# location-independent: the engine package and the BENCH_r*.json
# artifacts both live next to this script, not in the caller's cwd.
# PYTHONPATH too — Spark's forked Python workers unpickle package
# UDFs with their own interpreter, which does not inherit the
# driver-process sys.path insert.
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)
os.environ["PYTHONPATH"] = (
    _HERE + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def load_bench_artifact(path: str, with_path: bool = False):
    """Parse a bench artifact in any of its shapes: the driver's
    pretty-printed wrapper ({"parsed": {...}}), a raw bench.py stdout
    line (last line of the file), or a slim tail-captured line whose
    full normalized columns live in the committed round-stamped
    BENCH_DETAIL archive next to it. THE one loader — shared with
    bench_compare.py (r13 review: the two private copies had already
    diverged in both directions: cwd- vs artifact-relative detail
    resolution, and 'parsed' unwrap applied on one fallback but not
    the other). ``with_path=True`` also returns the file actually
    used (the detail archive when the slim-line fallback fires)."""
    text = open(path).read().strip()
    try:
        data = json.loads(text)
    except json.JSONDecodeError:
        data = json.loads(text.splitlines()[-1])
    data = (data.get("parsed") or data) if isinstance(data, dict) else {}
    if not data.get("queries_normalized"):
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path))
        if m:
            det = os.path.join(
                os.path.dirname(os.path.abspath(path)),
                f"BENCH_DETAIL_r{m.group(1)}.json",
            )
            if os.path.exists(det):
                return load_bench_artifact(det, with_path=with_path)
    return (data, path) if with_path else data


def _spliced_sequence(named_fns: list, probes: dict | None) -> list:
    """One pass's execution order: the queries with each probe spliced
    in at an evenly-spaced position (probe i of p lands ~i/(p+1) of
    the way through), so probe samples spread across the pass's load
    window instead of clustering at one end. Probe entries are
    ``(None, (probe_name, thunk))``; query entries pass through
    unchanged."""
    seq = list(named_fns)
    if probes:
        step = max(1, len(seq) // (len(probes) + 1))
        for i, (pname, pfn) in enumerate(probes.items(), start=1):
            seq.insert(min(i * step + i - 1, len(seq)), (None, (pname, pfn)))
    return seq


def _per_pass_normalized(
    runs: dict[str, list[float]], probe_samples: list[float]
) -> dict[str, float]:
    """Probe-normalized query times, computed per PASS: the median over
    passes of ``query_time[p] / probe_time[p]`` where both numbers were
    measured in the same interleaved pass (r16, VERDICT item 3). The
    old definition divided a query's best-of-N by a probe measured ONCE
    up front — a bursty host could sample the probe in a quiet window
    and every normalized ratio inverted (r15 driver run: probes 11%
    faster, every query slower). Pairing numerator and denominator
    inside the same load window makes a uniform slow pass cancel out,
    and the cross-pass median drops a single bursty pass entirely."""
    out: dict[str, float] = {}
    for name, rs in runs.items():
        ratios = [r / p for r, p in zip(rs, probe_samples) if p]
        if ratios:
            out[name] = round(sorted(ratios)[len(ratios) // 2], 2)
    return out


# join and Python-boundary operators counted by plan_signature
_PLAN_NODES = (
    "BroadcastHashJoin ShuffledHashJoin SortMergeJoin BroadcastNestedLoopJoin "
    "MapInArrow FlatMapGroupsInArrow ArrowEvalPython BatchEvalPython "
    "FlatMapGroupsInPandasWithState"
).split()
# a plan line's operator name, after the tree drawing and codegen stage id
_NODE_NAME = re.compile(r"^[\s:|+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def plan_signature(df) -> dict[str, int]:
    """The shape of ``df``'s simple-mode physical plan (the string
    ``df.explain()`` prints; before adaptive re-planning under AQE):
    its real and reused Exchange counts, and how many of each join kind
    and Python/Arrow node in ``_PLAN_NODES`` it has (absent = 0)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    names = _NODE_NAME.findall(buf.getvalue())
    sig = {
        "exchange": sum(
            n.endswith("Exchange") and n != "ReusedExchange" for n in names
        ),
        "reused_exchange": names.count("ReusedExchange"),
    }
    sig.update((n, names.count(n)) for n in _PLAN_NODES if n in names)
    return sig


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from airflow_kafka_spark_spark.plans.catalog import headline_queries
    from airflow_kafka_spark_spark.session import build_session

    spark = build_session(app_name="aks-bench")
    # warm the JVM/codegen paths and the Python/Arrow worker pool outside
    # the timed region — bench measures steady-state engine throughput,
    # not one-time process spin-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1_000).selectExpr("id % 8 AS g", "id").groupBy("g").applyInArrow(
        lambda t: t, "g bigint, id bigint"
    ).write.format("noop").mode("overwrite").save()

    # Calibration probes (VERDICT r5 item 2): fixed, catalog-independent
    # work timed every round and emitted as "calibration" in the JSON.
    # Cross-round query deltas divide by the matching probe's ratio
    # before being called regressions — r5's +50-90% "regression" was a
    # uniform host-performance shift that could only be asserted, not
    # measured. Probes cover the cost regimes: pure JVM codegen CPU,
    # parquet scan+decode, a keyed shuffle, and a 12-action stage chain
    # (iterative queries are bound by PER-STAGE-BARRIER latency, which
    # throughput probes under-correct — the r10 A/B bisection).
    #
    # The shuffle and chain probes are NOT timed up front: they are
    # spliced into every interleaved query pass (r16, VERDICT item 3)
    # so their samples see the same load window as that pass's queries.
    # r15's driver run showed the failure mode of once-up-front probes:
    # a bursty host sampled them in a quiet moment (probes 11% faster,
    # every query slower) and every normalized ratio inverted.
    def _best_of(fn, n=3) -> float:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    from airflow_kafka_spark_spark.sources.files import load_table as _lt

    calibration = {
        "cpu_range_sum_sec": _best_of(
            lambda: spark.range(50_000_000)
            .selectExpr("sum(id % 7) AS s")
            .collect()
        ),
        "parquet_scan_sec": _best_of(
            lambda: _lt(spark, sf_dir, "lineitem")
            .selectExpr("sum(l_quantity) AS s", "count(*) AS n")
            .collect()
        ),
    }

    def _probe_shuffle() -> None:
        spark.range(20_000_000).selectExpr("id % 100000 AS g").groupBy(
            "g"
        ).count().write.format("noop").mode("overwrite").save()

    def _probe_chain() -> None:
        for _ in range(12):
            spark.range(200_000).selectExpr("id % 1000 AS g").groupBy(
                "g"
            ).count().write.format("noop").mode("overwrite").save()

    # $SPARK_GRAFT_BENCH_RUNS (default 3): min-of-N with per-run cache
    # clearing, repetitions INTERLEAVED across the query set (VERDICT r9
    # item 2: r9's three full runs spread 33.8-43.7 s on identical code —
    # back-to-back repeats of one query all land inside the same ambient
    # load spike, so even min() couldn't separate host noise from
    # regressions). Pass p runs EVERY query once before pass p+1 starts:
    # a load spike now inflates one pass of many queries instead of all
    # N runs of a few, and the per-query min is drawn from time-separated
    # samples. The first-pass timing is recorded too
    # ("queries_single_run") so round-over-round regressions aren't
    # masked by min(). clearCache before EVERY run: a query that persists
    # an intermediate must not get a warm-cache repeat, and cached state
    # must not occupy memory while later queries are timed.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    plans: dict[str, dict[str, int]] = {}

    def run_once(name, fn) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        if name not in plans:  # the first pass, outside the timer
            plans[name] = plan_signature(df)
        return sec

    # one timing sample per (query, pass); the probes are spliced into
    # each pass at evenly-spaced positions and timed like queries — each
    # probe sample shares its pass's load window, which is what makes
    # per-pass normalization meaningful
    queries = list(headline_queries().items())
    probes = {"shuffle_groupby": _probe_shuffle, "stage_chain": _probe_chain}
    all_runs: dict[str, list[float]] = {name: [] for name, _ in queries}
    probe_runs: dict[str, list[float]] = {name: [] for name in probes}
    for _ in range(n_runs):
        for name, fn in _spliced_sequence(queries, probes):
            if name is None:
                pname, pfn = fn
                t0 = time.perf_counter()
                pfn()
                probe_runs[pname].append(time.perf_counter() - t0)
            else:
                all_runs[name].append(run_once(name, fn))
    shuffle_samples = probe_runs["shuffle_groupby"]
    chain_samples = probe_runs["stage_chain"]
    # calibration keys keep their historical meaning (best observed
    # probe time) but are now drawn from time-separated in-pass samples;
    # the raw per-pass series is recorded alongside so the artifact
    # shows the load spread the normalization had to absorb.
    calibration["shuffle_groupby_sec"] = round(min(shuffle_samples), 3)
    calibration["stage_chain_sec"] = round(min(chain_samples), 3)
    calibration["shuffle_groupby_per_pass"] = [
        round(x, 3) for x in shuffle_samples
    ]
    calibration["stage_chain_per_pass"] = [round(x, 3) for x in chain_samples]

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    first_run: dict[str, float] = {}
    # calibration-normalized columns (VERDICT r9 item 2): query_sec over
    # a probe's sec — host-independent numbers comparable across rounds.
    # Two denominators because queries live in two cost regimes: the
    # shuffle probe tracks throughput-bound queries; the stage-chain
    # probe tracks iterative/barrier-bound queries (pagerank, cc — the
    # r10 A/B bisection showed the throughput probes under-correct
    # them). Quote queries_normalized_chain for iterative rows. Since
    # r16 the ratio is taken per PASS (query over the probe sample from
    # the SAME pass, median across passes — see _per_pass_normalized).
    normalized = _per_pass_normalized(all_runs, shuffle_samples)
    normalized_chain = _per_pass_normalized(all_runs, chain_samples)
    for name, runs in all_runs.items():
        first_run[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)
        medians[name] = round(sorted(runs)[len(runs) // 2], 3)

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_query_set_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_single_run": first_run,
        "queries_normalized": normalized,
        "queries_normalized_chain": normalized_chain,
        "runs_per_query": n_runs,
        "interleaved": True,
        "calibration": calibration,
        "plans": plans,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the core count build_session sized the session with, and what
        # Spark made of it: a scaling leg whose per-query times do not
        # move with $SPARK_GRAFT_CPUS can be told from an ignored setting
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if n_runs >= 3:
        detail["queries_median"] = medians
    detail["vs_prev_normalized"] = _vs_prev_normalized(
        normalized, normalized_chain, detail["sf"]
    )

    # the full payload; the printed line is its length-guarded summary
    try:
        with open(os.path.join(_HERE, "bench_detail.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass

    print(bench_line(detail))
    spark.stop()


def bench_line(detail: dict) -> str:
    """The printed JSON line for a ``detail`` payload: the driver-contract
    keys, the run shape (``cpus``, ``default_parallelism``), the probes
    and the compact verdict, in at most 1950 chars. The driver parses
    only the LAST 2000 chars of stdout (r10's longer line was recorded
    as parsed=null), so an oversized line drops the verdict, then the
    calibration, then (ADVICE r11) its longest-named queries;
    bench_detail.json always carries the full payload."""
    out = {k: detail[k] for k in (
        "metric", "value", "unit", "queries", "sf", "runs_per_query",
        "interleaved", "cpus", "default_parallelism", "calibration")}
    out["queries"] = dict(out["queries"])  # the trim must not touch detail
    vs_prev = detail.get("vs_prev_normalized") or {}
    out["vs_prev_normalized"] = {
        k: vs_prev.get(k)
        for k in ("prev", "median_normalized_ratio",
                  "median_normalized_chain_ratio", "watch_over_1p5x_both")
    } if vs_prev else None
    out["detail"] = "bench_detail.json"
    line = json.dumps(out)
    if len(line) > 1950:  # the driver's 2000-char tail, with margin
        for drop in ("vs_prev_normalized", "calibration"):
            out.pop(drop, None)
            line = json.dumps(out)
            if len(line) <= 1950:
                break
    while len(line) > 1950 and out.get("queries"):
        out["queries"].pop(max(out["queries"], key=len))
        out["queries_truncated"] = True
        line = json.dumps(out)
    return line


def normalized_verdict(old: dict, new: dict) -> dict:
    """THE cross-round verdict between two bench artifacts (VERDICT r10
    item 4), at full precision: per query, ``new/old`` of
    ``queries_normalized`` (throughput probe) and of
    ``queries_normalized_chain`` (stage-chain probe), their medians, and
    the WATCH list: over 1.5x on BOTH, which neither cost regime
    explains — A/B-bisect those before believing 'regression' or
    'noise'. A 0.0 entry (faster than ~0.005x the probe at 2dp) has no
    ratio: a NaN would poison the median."""
    on = old.get("queries_normalized") or {}
    nn = new.get("queries_normalized") or {}
    oc = old.get("queries_normalized_chain") or {}
    nc = new.get("queries_normalized_chain") or {}
    common = sorted(set(on) & set(nn))
    ratios = {q: nn[q] / on[q] for q in common if on[q] and nn[q]}
    chain = {q: nc[q] / oc[q] for q in common if oc.get(q) and nc.get(q)}
    return {
        "normalized_ratio": ratios,
        "normalized_chain_ratio": chain,
        "median_normalized_ratio": (
            statistics.median(ratios.values()) if ratios else None
        ),
        "median_normalized_chain_ratio": (
            statistics.median(chain.values()) if chain else None
        ),
        "watch_over_1p5x_both": [
            q for q, r in ratios.items() if r > 1.5 and chain.get(q, 0) > 1.5
        ],
    }


def _round2(v):
    if isinstance(v, dict):
        return {k: _round2(x) for k, x in v.items()}
    return round(v, 2) if isinstance(v, float) else v


def _vs_prev_normalized(
    normalized: dict[str, float],
    normalized_chain: dict[str, float],
    sf,
    artifact_dir: str | None = None,
) -> dict | None:
    """The standing cross-round verdict, recorded in the artifact itself
    because raw seconds are non-comparable on this host (r10's probes
    measured 4.1x r8's identical probes): :func:`normalized_verdict`
    against the newest prior BENCH_r*.json at the same sf, rounded to
    2dp. Never fails the bench: any problem degrades to None."""
    import glob

    try:
        # artifacts live next to THIS script, not in the caller's cwd —
        # a cwd-relative glob silently loses the standing cross-round
        # verdict when bench.py runs from elsewhere (r13 review).
        # artifact_dir overrides for tests.
        here = artifact_dir or _HERE
        prevs = sorted(
            (
                f
                for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
                if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(f))
            ),
            # numeric round order: lexicographic puts BENCH_r100 before
            # BENCH_r11 (ADVICE r11)
            key=lambda f: int(re.search(r"r(\d+)", os.path.basename(f)).group(1)),
        )
        if not prevs:
            return None
        # the loader transparently falls back to the round-stamped
        # detail archive for slim tail-captured lines and reports
        # which file it actually used
        prev, prev_file = load_bench_artifact(prevs[-1], with_path=True)
        if prev.get("sf") != sf:
            return None  # cross-sf normalized ratios are nonsense
        v = normalized_verdict(prev, {"queries_normalized": normalized,
                                      "queries_normalized_chain": normalized_chain})
        if not v["normalized_ratio"]:
            return None
        return {"prev": os.path.basename(prev_file), **_round2(v)}
    except Exception:
        return None


if __name__ == "__main__":
    sys.exit(main())
