"""The benchmark's own tests: the generator is a pure function of the
seed, and a tiny run of each workload prints every metric that
BENCHMARK.json names, with its unit, and checks clean.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_snapshot_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.snapshot_input(7, str(tmp_path / "a"), n_symbols=30)
    b = gen.snapshot_input(7, str(tmp_path / "b"), n_symbols=30)
    c = gen.snapshot_input(8, str(tmp_path / "c"), n_symbols=30)
    assert _bytes([a.file, a.probe_file]) == _bytes([b.file, b.probe_file])
    assert a.expected_rows == b.expected_rows
    assert _bytes([a.file]) != _bytes([c.file])


def test_delta_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.DeltaInput(7, str(tmp_path / "a"), n_symbols=20, max_cycles=40)
    b = gen.DeltaInput(7, str(tmp_path / "b"), n_symbols=20, max_cycles=40)
    for cycle in (0, 1, 35):
        assert _bytes([a.file(cycle)]) == _bytes([b.file(cycle)])
    assert _bytes([a.file(3, 5)]) == _bytes([b.file(3, 5)])


def test_dates_strictly_increase_past_28_bars():
    import numpy as np

    rng = np.random.default_rng(0)
    series = gen.make_series(rng, ["AAA", "BBB"], np.array([500, 40]))
    for s in series:
        assert len(s.dates) == len(s.close)
        assert all(a < b for a, b in zip(s.dates, s.dates[1:]))


def test_messages_use_the_producer_wire_format():
    import numpy as np

    from airflow_kafka_spark_spark.ingest import BAR_FIELDS

    (s,) = gen.make_series(np.random.default_rng(1), ["AAA"], np.array([30]))
    msg = json.loads(s.message(30))
    assert msg["symbol"] == "AAA"
    assert msg["current_price"] == s.close[29]
    assert len(msg["historical_data"]) == 30
    assert tuple(msg["historical_data"][0]) == BAR_FIELDS


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--symbols", "5", "--max-cycles", "2"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert any(line.startswith("error_rate") for line in lines)
    return result


@pytest.mark.parametrize("workload", ["snapshot_stream", "delta_stream"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_and_checks_clean(workload, trace):
    result = _run(workload, trace)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
