"""Measurement-rotation derivation (plans.catalog._correctness_history):
the driver measures only the FIRST 50 queries() entries per round, so the
ordering logic IS part of correctness coverage — a priority bug silently
starves entries of driver rows (it cost array_hof/pivot_events two
rounds). These tests pin the tier semantics against the committed
CORRECTNESS_r*.json artifacts."""

from __future__ import annotations

from airflow_kafka_spark_spark.plans.catalog import (
    CATALOG,
    _correctness_history,
    _measure_priority,
    _ordered_names,
)


def test_history_covers_catalog():
    """Every catalog entry that existed in a past round has a parsed
    (round, status) row; brand-new entries are absent (tier 1)."""
    hist = _correctness_history()
    assert set(hist) <= set(CATALOG)
    # every parsed round number is a real round artifact
    assert all(rnd >= 1 for rnd, _ in hist.values())
    assert all(status in ("clean", "err") for _, status in hist.values())


def test_err_rows_outrank_everything():
    """approx_aggs crashed in r3 and array_hof/pivot_events ERRed in r1
    with no row since — their latest rows are ERRs, so they must occupy
    the head of the measurement window until a clean row lands."""
    names = _ordered_names()
    hist = _correctness_history()
    err_names = {n for n, (_, s) in hist.items() if s == "err"}
    if not err_names:  # all clean — nothing to pin
        return
    head = set(names[: len(err_names)])
    assert head == err_names, (head, err_names)


def test_never_measured_before_stale_greens():
    """Entries with no driver row in any round (new operators) come
    before every green entry, and greens order oldest-round-first."""
    names = _ordered_names()
    hist = _correctness_history()
    tiers = [_measure_priority(n) for n in names]
    assert tiers == sorted(tiers)  # ordering really is by (tier, round)
    new = [n for n in names if n not in hist]
    greens = [n for n in names if hist.get(n, (0, ""))[1] == "clean"]
    if new and greens:
        assert names.index(new[-1]) < names.index(greens[0])


def test_window_has_no_fresh_green_while_stale_exists():
    """The 50-slot window never spends a slot re-measuring an UNCHANGED
    green from the freshest round while an older green is left outside
    it. (A changed-since-measured green — tier 2 — may legitimately sit
    inside ahead of older unchanged greens.)"""
    names = _ordered_names()
    hist = _correctness_history()
    green_rounds = [
        hist[n][0] for n in names if n in hist and hist[n][1] == "clean"
    ]
    if not green_rounds:
        return
    newest = max(green_rounds)
    inside = set(names[:50])
    stale_outside = [
        n
        for n in names[50:]
        if n in hist and hist[n][1] == "clean" and hist[n][0] < newest
        and _measure_priority(n)[0] >= 3  # not itself changed-since-measured
    ]
    fresh_unchanged_inside = [
        n
        for n in inside
        if n in hist
        and hist[n][1] == "clean"
        and hist[n][0] == newest
        and _measure_priority(n)[0] == 4
    ]
    assert not (stale_outside and fresh_unchanged_inside), (
        stale_outside,
        fresh_unchanged_inside,
    )


def test_queries_and_oracles_consistent():
    """queries()/oracle_sql() agree with CATALOG: same ordering source,
    oracles exactly for entries that declare one."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert list(qs) == _ordered_names()
    assert set(oracles) == {n for n in CATALOG if CATALOG[n].oracle is not None}


# --- changed-since-measured staleness tier (plans.staleness) ------------


def test_source_parts_are_address_free_and_stable():
    """The hash inputs must be byte-identical across processes: no
    memory-address reprs may leak in (a dict constant holding function
    objects did exactly that before _stable_const existed)."""
    import re

    from airflow_kafka_spark_spark.plans import staleness

    for name in ("mm_image_meta", "containment_pairs", "ema_macd"):
        parts = staleness.entry_source_parts(name)
        assert parts == staleness.entry_source_parts(name)
        for part in parts:
            assert not re.search(r" at 0x[0-9a-f]+", part), (name, part[:200])


def test_hash_closure_reaches_local_import_helpers():
    """Entries import helpers function-locally (`from ..ext.dedup import
    containment_pairs` inside the fn body) — the hash closure must still
    reach them AND their transitive callees, else a helper refactor is
    invisible (the exact r4 blind spot)."""
    from airflow_kafka_spark_spark.plans import staleness

    joined = "\n".join(staleness.entry_source_parts("containment_pairs"))
    assert "def containment_pairs(" in joined
    assert "def _common_shingle_counts(" in joined  # transitive helper

    joined = "\n".join(staleness.entry_source_parts("range_join_clicks"))
    assert "def bucketed_range_join(" in joined


def test_hash_ignores_unrelated_catalog_growth(tmp_path):
    """Appending an unrelated entry to catalog.py must not change an
    existing entry's hash (module-level hashing would): the closure is
    per-entry, so only the oracle + reachable sources feed it."""
    from airflow_kafka_spark_spark.plans import staleness
    from airflow_kafka_spark_spark.plans.catalog import CATALOG

    h1 = staleness.entry_source_hash("q6_revenue")
    staleness._HASH_CACHE.pop("q6_revenue", None)
    h2 = staleness.entry_source_hash("q6_revenue")
    assert h1 == h2
    # and two distinct entries do not collide
    assert staleness.entry_source_hash("q1_pricing_summary") != h1
    assert len(CATALOG) > 100  # guard: catalog is the real one


def test_measured_hashes_recording_round_trip(tmp_path):
    """record_measured_hashes stamps real hashes for the latest round's
    rows, carries forward prior records, and nulls pre-hash-era rows."""
    from airflow_kafka_spark_spark.plans import staleness

    out = staleness.record_measured_hashes(tmp_path / "mh.json")
    hist = _correctness_history()
    latest = max(rnd for rnd, _ in hist.values())
    for name, rec in out.items():
        assert rec["round"] == hist[name][0]
        if rec["round"] == latest:
            assert rec["hash"] == staleness.entry_source_hash(name)
    reloaded = staleness.measured_hashes(tmp_path / "mh.json")
    assert reloaded == out


def test_changed_entries_outrank_unchanged_greens():
    """Tier semantics: every clean entry whose recorded hash mismatches
    the current source sorts before every unchanged/unknown green; committed MEASURED_HASHES.json
    agrees with the committed CORRECTNESS artifacts."""
    from airflow_kafka_spark_spark.plans import staleness

    rec = staleness.measured_hashes()
    assert rec, "MEASURED_HASHES.json must be committed alongside artifacts"
    hist = _correctness_history()
    names = _ordered_names()
    for name, (rnd, status) in hist.items():
        if status != "clean":
            continue
        r = rec.get(name)
        if not isinstance(r, dict) or r.get("round") != rnd:
            continue
        if r.get("hash") is not None and r["hash"] != staleness.entry_source_hash(name):
            tier = _measure_priority(name)[0]
            assert tier == 2, (name, tier)
            # changed greens sit in the measurement window
            assert names.index(name) < 50, name


def test_rows_only_no_oracle_entries_are_clean_not_err():
    """VERDICT r9 nit: the rows-only-by-design entries surface as
    err='no_oracle' in every driver artifact they rotate through. They
    must classify as CLEAN (the check completed; there is simply no
    oracle), never as err-tier — an err classification would park them
    at the head of the window every round and starve genuine refresh
    rows behind four permanent occupants."""
    from airflow_kafka_spark_spark.plans.catalog import (
        CATALOG,
        _correctness_history,
    )

    hist = _correctness_history()
    rows_only = [n for n, q in CATALOG.items() if q.oracle is None and n in hist]
    assert rows_only, "expected at least one measured rows-only entry"
    for n in rows_only:
        rnd, status = hist[n]
        assert status == "clean", (n, rnd, status)
