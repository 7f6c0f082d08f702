#!/usr/bin/env python
"""Cross-round bench comparison, normalized by the calibration probes.

    python bench_compare.py BENCH_r05.json BENCH_r06.json

Accepts either a raw bench.py JSON line or the driver's wrapped artifact
({"parsed": {...}}). For every query present in both files it prints the
raw ratio new/old; when BOTH files carry a "calibration" block (bench.py
emits one from round 6 on), it also prints the host-shift factor (the
median calibration ratio) and the normalized ratio raw/host — the number
the changelog quotes, so "the machine ran loaded" is a measurement, not
an assertion (VERDICT r5 item 2).
"""

from __future__ import annotations

import os
import statistics
import sys

# ONE loader and ONE verdict, owned by bench.py (r13 review: the two
# private loader copies had diverged in both directions) — resolved
# next to this script so bench_compare stays runnable from any cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench import load_bench_artifact, normalized_verdict  # noqa: E402


_load = load_bench_artifact


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    old, new = _load(sys.argv[1]), _load(sys.argv[2])
    host = None
    cal_o, cal_n = old.get("calibration"), new.get("calibration")
    if cal_o and cal_n:
        # scalar probe keys only: since r16 the calibration block also
        # carries *_per_pass LISTS (the in-pass probe series), which
        # must not enter the ratio arithmetic
        keys = sorted(
            k
            for k in set(cal_o) & set(cal_n)
            if isinstance(cal_o[k], (int, float))
            and isinstance(cal_n[k], (int, float))
        )
        ratios = [cal_n[k] / cal_o[k] for k in keys]
        host = statistics.median(ratios) if ratios else None
        if host is not None:
            print(f"host-shift factor (median calibration ratio): {host:.3f}")
        for k in keys:
            print(f"  {k}: {cal_o[k]:.3f}s -> {cal_n[k]:.3f}s")
    else:
        print("calibration absent from one side - raw ratios only")

    common = sorted(set(old["queries"]) & set(new["queries"]))
    rows = []
    for q in common:
        raw = new["queries"][q] / old["queries"][q]
        rows.append((q, old["queries"][q], new["queries"][q], raw,
                     raw / host if host else None))
    rows.sort(key=lambda r: -(r[4] if r[4] is not None else r[3]))
    hdr = f"{'query':28s} {'old_s':>7s} {'new_s':>7s} {'raw':>6s}"
    print(hdr + ("  norm" if host else ""))
    for q, o, n, raw, norm in rows:
        line = f"{q:28s} {o:7.3f} {n:7.3f} {raw:6.2f}"
        print(line + (f" {norm:6.2f}" if norm is not None else ""))
    raws = [r[3] for r in rows]
    print(f"\nmedian raw ratio over {len(common)} common queries: "
          f"{statistics.median(raws):.3f}")
    if host:
        norms = [r[4] for r in rows]
        print(f"median NORMALIZED ratio: {statistics.median(norms):.3f} "
              "(>1 = slower than host shift explains)")

    # THE standing cross-round verdict, computed by bench.py's
    # normalized_verdict: the probe-normalized columns compared directly
    on, nn = old.get("queries_normalized"), new.get("queries_normalized")
    if on and nn:
        v = normalized_verdict(old, new)
        ratios, chain = v["normalized_ratio"], v["normalized_chain_ratio"]
        watch = v["watch_over_1p5x_both"]
        print("\n== normalized-column verdict (the quotable numbers) ==")
        print(f"{'query':28s} {'old_n':>7s} {'new_n':>7s} {'ratio':>6s} "
              f"{'chain':>6s}")
        for q in sorted(set(on) & set(nn)):
            if q not in ratios:
                print(f"{q:28s} {on[q]:7.2f} {nn[q]:7.2f}      -      -")
                continue
            rc = chain.get(q)
            print(f"{q:28s} {on[q]:7.2f} {nn[q]:7.2f} {ratios[q]:6.2f} "
                  + (f"{rc:6.2f}" if rc is not None else "     -")
                  + ("  WATCH" if q in watch else ""))
        if ratios:
            print(f"median normalized ratio: {v['median_normalized_ratio']:.3f}"
                  + (f"; chain: {v['median_normalized_chain_ratio']:.3f}"
                     if chain else ""))
        if watch:
            print(f"WATCH (>1.5x on BOTH normalizations, A/B-bisect "
                  f"before believing): {', '.join(watch)}")
        else:
            print("no watch items (nothing >1.5x on both normalizations)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
