"""bench_compare.py is round-close tooling — a parse regression there
would silently break the normalized-delta story the changelog quotes."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench_compare import _load  # noqa: E402


def _write(tmp_path, name, obj, oneline=False):
    p = tmp_path / name
    p.write_text(json.dumps(obj) if oneline else json.dumps(obj, indent=1))
    return str(p)


def test_load_handles_raw_and_driver_wrapped(tmp_path):
    raw = {"queries": {"q1": 1.0}, "calibration": {"cpu": 0.1}}
    wrapped = {"n": 1, "parsed": raw}
    assert _load(_write(tmp_path, "raw.json", raw, oneline=True)) == raw
    assert _load(_write(tmp_path, "wrapped.json", wrapped)) == raw


def test_load_takes_last_line_of_noisy_stdout(tmp_path):
    raw = {"queries": {"q1": 2.0}}
    p = tmp_path / "noisy.json"
    p.write_text("[Stage 1:>  (0 + 1) / 1]\n" + json.dumps(raw))
    assert _load(str(p)) == raw


def test_main_normalizes_by_calibration(tmp_path, capsys, monkeypatch):
    from bench_compare import main

    old = {"queries": {"q1": 1.0, "q2": 2.0},
           "calibration": {"cpu": 0.1, "scan": 0.2}}
    # host 2x slower, queries 2x slower -> normalized ratio 1.0
    new = {"queries": {"q1": 2.0, "q2": 4.0},
           "calibration": {"cpu": 0.2, "scan": 0.4}}
    monkeypatch.setattr(sys, "argv", [
        "bench_compare.py",
        _write(tmp_path, "old.json", old),
        _write(tmp_path, "new.json", new),
    ])
    assert main() == 0
    out = capsys.readouterr().out
    assert "host-shift factor (median calibration ratio): 2.000" in out
    assert "median NORMALIZED ratio: 1.000" in out


def test_load_resolves_slim_artifact_via_detail_archive(tmp_path):
    """r11+ bench lines are slim (the driver keeps only a 2000-char
    stdout tail — r10's full line overflowed it and recorded
    parsed=null): a BENCH_r{N}.json without queries_normalized must
    resolve through the committed BENCH_DETAIL_r{N}.json next to it."""
    slim = {"queries": {"q1": 1.0}, "detail": "bench_detail.json"}
    detail = {"queries": {"q1": 1.0}, "queries_normalized": {"q1": 2.5}}
    _write(tmp_path, "BENCH_DETAIL_r12.json", detail)
    got = _load(_write(tmp_path, "BENCH_r12.json", {"parsed": slim}))
    assert got == detail
    # no archive -> the slim dict itself comes back
    got2 = _load(_write(tmp_path, "BENCH_r13.json", {"parsed": slim}))
    assert got2 == slim


def test_main_normalized_verdict_and_watch_bar(tmp_path, capsys, monkeypatch):
    """The standing verdict section prints the normalized-column table
    and flags WATCH only when BOTH normalizations exceed 1.5x: q_slow
    (2x on both) is flagged; q_chainy (2x throughput-normalized but
    1.0x chain-normalized — an iterative query under barrier latency)
    is NOT."""
    from bench_compare import main

    old = {
        "queries": {"q_slow": 1.0, "q_chainy": 1.0, "q_ok": 1.0},
        "calibration": {"cpu": 0.1},
        "queries_normalized": {"q_slow": 1.0, "q_chainy": 1.0, "q_ok": 1.0},
        "queries_normalized_chain": {"q_slow": 0.5, "q_chainy": 0.5,
                                     "q_ok": 0.5},
    }
    new = {
        "queries": {"q_slow": 2.0, "q_chainy": 2.0, "q_ok": 1.0},
        "calibration": {"cpu": 0.1},
        "queries_normalized": {"q_slow": 2.0, "q_chainy": 2.0, "q_ok": 1.0},
        "queries_normalized_chain": {"q_slow": 1.0, "q_chainy": 0.5,
                                     "q_ok": 0.5},
    }
    monkeypatch.setattr(sys, "argv", [
        "bench_compare.py",
        _write(tmp_path, "old.json", old),
        _write(tmp_path, "new.json", new),
    ])
    assert main() == 0
    out = capsys.readouterr().out
    assert "normalized-column verdict" in out
    assert "WATCH (>1.5x on BOTH normalizations" in out
    watch_line = [l for l in out.splitlines() if l.startswith("WATCH")][0]
    assert "q_slow" in watch_line and "q_chainy" not in watch_line


def test_vs_prev_picks_numerically_newest_round(tmp_path, monkeypatch):
    """bench.py's vs-prev baseline must be the numerically newest
    BENCH_r*.json: lexicographic sorted() puts BENCH_r100 before
    BENCH_r11 (ADVICE r11), silently comparing against a stale round."""
    import bench

    for n, val in (("11", 1.0), ("100", 2.0)):
        (tmp_path / f"BENCH_r{n}.json").write_text(
            json.dumps(
                {
                    "sf": 0.1,
                    "queries_normalized": {"q1": val},
                    "queries_normalized_chain": {"q1": val},
                }
            )
        )
    # artifact_dir is explicit (r13: the lookup anchors to bench.py's
    # own directory, not the caller's cwd — a cwd-relative glob lost
    # the verdict whenever bench ran from elsewhere)
    got = bench._vs_prev_normalized(
        {"q1": 2.0}, {"q1": 2.0}, 0.1, artifact_dir=str(tmp_path)
    )
    assert got["prev"] == "BENCH_r100.json"
    assert got["median_normalized_ratio"] == 1.0


def test_per_pass_normalization_absorbs_bursty_host(tmp_path):
    """The r15 driver-bench failure mode (VERDICT r15): calibration
    probes timed once up front can land in a quiet load window while
    every query pass runs under bursts — the old min(query)/probe
    definition then inflated EVERY normalized ratio and produced a
    spurious dual-bar watch list on byte-identical code. Per-pass
    normalization pairs each query sample with a probe sample from the
    SAME pass, so a uniform slow pass cancels and the cross-pass
    median drops a single bursty pass."""
    import bench

    # steady host: ratios are just query/probe
    got = bench._per_pass_normalized(
        {"q1": [1.0, 1.0, 1.0]}, [0.5, 0.5, 0.5]
    )
    assert got == {"q1": 2.0}

    # one bursty pass (3x on query AND its in-pass probe): cancels
    got = bench._per_pass_normalized(
        {"q1": [1.0, 3.0, 1.0]}, [0.5, 1.5, 0.5]
    )
    assert got == {"q1": 2.0}

    # the r15 inversion: EVERY query pass bursty. An up-front quiet
    # probe (0.5) would report min(3.0)/0.5 = 6.0 — a fake 3x
    # "regression"; in-pass probes see the same load and stay at 2.0
    got = bench._per_pass_normalized(
        {"q1": [3.0, 3.0, 3.0]}, [1.5, 1.5, 1.5]
    )
    assert got == {"q1": 2.0}

    # a REAL regression is still visible: queries slow, probes quiet
    got = bench._per_pass_normalized(
        {"q1": [3.0, 3.0, 3.0]}, [0.5, 0.5, 0.5]
    )
    assert got == {"q1": 6.0}

    # zero probe samples are skipped, not divided by
    got = bench._per_pass_normalized({"q1": [1.0, 2.0]}, [0.0, 0.5])
    assert got == {"q1": 4.0}

    # no usable probe sample -> query omitted rather than fabricated
    assert bench._per_pass_normalized({"q1": [1.0]}, [0.0]) == {}


def test_probe_splice_positions_spread_through_pass():
    """The per-pass pairing only works if probe samples SPREAD through
    the pass — probes clustered at one end re-create the quiet-window
    failure mode inside a single pass. Probe i of p must land ~i/(p+1)
    of the way through, queries must all survive, and degenerate list
    sizes must not crash."""
    import bench

    queries = [(f"q{i}", i) for i in range(23)]
    probes = {"shuffle": "S", "chain": "C"}
    seq = bench._spliced_sequence(queries, probes)

    assert len(seq) == 25
    # queries preserved, in order
    assert [e for e in seq if e[0] is not None] == queries
    pos = {e[1][0]: i for i, e in enumerate(seq) if e[0] is None}
    # evenly spread: first probe in the first half, second in the
    # second half, neither at the very ends, not adjacent
    assert 3 <= pos["shuffle"] <= 11, pos
    assert 13 <= pos["chain"] <= 21, pos
    assert abs(pos["shuffle"] - pos["chain"]) > 4, pos

    # degenerate: fewer queries than probes still yields every entry
    seq1 = bench._spliced_sequence([("q0", 0)], probes)
    assert len(seq1) == 3
    assert sorted(e[1][0] for e in seq1 if e[0] is None) == ["chain", "shuffle"]

    # no probes: pass-through
    assert bench._spliced_sequence(queries, None) == queries


def test_bench_scale_probes_importable():
    """bench_scale.py only runs in full, by hand — importing it pins the
    engine names it calls, so a rename breaks here instead of silently.
    Starts no Spark session."""
    import bench_scale

    for fn in (
        bench_scale.main,
        bench_scale.cascade_scaling,
        bench_scale.ann_serving_batch,
        bench_scale.offset_fence_overhead,
    ):
        assert callable(fn)


def test_compare_and_vs_prev_share_one_verdict(tmp_path, capsys, monkeypatch):
    """bench_compare.main prints, and bench._vs_prev_normalized records,
    the same ratios, medians and watch list on the watch-bar fixture."""
    import bench
    from bench_compare import main

    qs = ("q_slow", "q_chainy", "q_ok")
    old = {"queries": dict.fromkeys(qs, 1.0),
           "queries_normalized": dict.fromkeys(qs, 1.0),
           "queries_normalized_chain": dict.fromkeys(qs, 0.5)}
    new = {"queries": dict(zip(qs, (2.0, 2.0, 1.0))),
           "queries_normalized": dict(zip(qs, (2.0, 2.0, 1.0))),
           "queries_normalized_chain": dict(zip(qs, (1.0, 0.5, 0.5)))}
    monkeypatch.setattr(sys, "argv", [
        "bench_compare.py",
        _write(tmp_path, "old.json", old),
        _write(tmp_path, "new.json", new),
    ])
    assert main() == 0
    out = capsys.readouterr().out.split("normalized-column verdict")[1]
    rows = [l.split() for l in out.splitlines()]
    printed = {r[0]: (float(r[3]), float(r[4])) for r in rows if r and r[0] in qs}
    med = [r for r in rows if r[:2] == ["median", "normalized"]][0]

    _write(tmp_path, "BENCH_r1.json", {"sf": 0.1, **old})
    got = bench._vs_prev_normalized(
        new["queries_normalized"], new["queries_normalized_chain"], 0.1,
        artifact_dir=str(tmp_path),
    )
    assert printed == {q: (got["normalized_ratio"][q],
                           got["normalized_chain_ratio"][q]) for q in qs}
    assert (float(med[3].rstrip(";")), float(med[5])) == (
        got["median_normalized_ratio"], got["median_normalized_chain_ratio"])
    assert got["watch_over_1p5x_both"] == ["q_slow"]
    assert "before believing): q_slow\n" in out


def test_bench_line_trim_keeps_run_shape_and_contract_keys():
    """An oversized payload trims to the driver's 1950-char budget;
    cpus and default_parallelism survive it, and the driver-contract
    keys come through unchanged."""
    import bench

    detail = {
        "metric": "headline_query_set_seconds", "value": 276.0, "unit": "sec",
        "queries": {f"headline_query_{i:02d}": 1.0 + i for i in range(23)},
        "sf": 0.1, "runs_per_query": 3, "interleaved": True,
        "cpus": 8, "default_parallelism": 8,
        "calibration": {f"probe_{i}_per_pass": [0.123] * 40 for i in range(8)},
        "vs_prev_normalized": {"watch_over_1p5x_both": ["q"] * 200},
    }
    for n_long in (0, 40):  # 40: past the floor, long query names go
        detail["queries"].update({f"q{i:03d}_" + "x" * 60: 1.0 for i in range(n_long)})
        line = bench.bench_line(detail)
        out = json.loads(line)
        assert len(line) <= 1950
        assert (out["cpus"], out["default_parallelism"]) == (8, 8)
        for key in ("metric", "value", "unit", "sf"):
            assert out[key] == detail[key], key
        assert "calibration" not in out and "vs_prev_normalized" not in out
        assert (out["queries"] == detail["queries"]) == (not n_long)
