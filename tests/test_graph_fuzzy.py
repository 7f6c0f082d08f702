"""Graph primitives (ext.graph), blocked fuzzy join (ext.fuzzy), and the
BPE merge-pair census (ext.textstats.merge_pair_counts) — semantics on
hand-built inputs with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_kafka_spark_spark.ext.fuzzy import blocked_fuzzy_join
from airflow_kafka_spark_spark.ext.graph import basket_pairs, triangle_stats
from airflow_kafka_spark_spark.ext.textstats import merge_pair_counts


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int")


def test_basket_pairs_expansion_and_dedup(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (1, 20), (2, 20), (2, 10), (3, 99)],
        "basket int, item int",
    )
    got = {
        (r["src"], r["dst"])
        for r in basket_pairs(df, "basket", "item").collect()
    }
    # basket 1 → {10,20,30} (duplicate 20 collapses), basket 2 → {10,20}
    # (pair deduped against basket 1's), basket 3 singleton → nothing
    assert got == {(10, 20), (10, 30), (20, 30)}


def test_basket_pairs_raw_expansion_matches_distinct_after_dedup(spark):
    """distinct=False (the triangle_count feed, r16): the raw expansion
    keeps one row per shared basket but the same src<dst orientation —
    deduping it must reproduce the distinct path exactly, and
    triangle_stats over the raw feed must equal the distinct feed
    (its internal canonicalize+distinct is the dedup)."""
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (1, 20), (2, 20), (2, 10), (3, 99)],
        "basket int, item int",
    )
    raw = basket_pairs(df, "basket", "item", distinct=False)
    # (10,20) shared by baskets 1 and 2 → appears twice in the raw feed
    rows = [(r["src"], r["dst"]) for r in raw.collect()]
    assert sorted(rows) == [(10, 20), (10, 20), (10, 30), (20, 30)]
    assert set(rows) == {
        (r["src"], r["dst"])
        for r in basket_pairs(df, "basket", "item").collect()
    }
    assert (
        triangle_stats(raw).collect()
        == triangle_stats(basket_pairs(df, "basket", "item")).collect()
    )


def test_fan_out_narrow_scan_adaptive_and_row_preserving(spark):
    """fan_out_narrow_scan (r16): repartitions a narrower-than-cores
    frame to defaultParallelism (keyed when key columns are given),
    no-ops on a frame already at/above half the parallelism, and never
    changes the rows."""
    from airflow_kafka_spark_spark.sources.files import fan_out_narrow_scan

    p = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "k int, v int"
    ).coalesce(1)
    out = fan_out_narrow_scan(narrow)
    assert out.rdd.getNumPartitions() == p
    assert sorted((r["k"], r["v"]) for r in out.collect()) == sorted(
        (r["k"], r["v"]) for r in narrow.collect()
    )
    keyed = fan_out_narrow_scan(narrow, "k")
    assert keyed.rdd.getNumPartitions() == p
    assert sorted((r["k"], r["v"]) for r in keyed.collect()) == sorted(
        (r["k"], r["v"]) for r in narrow.collect()
    )
    wide = spark.range(100).repartition(p)
    assert fan_out_narrow_scan(wide) is wide


def test_basket_pairs_size_cap(spark):
    df = spark.createDataFrame(
        [(1, i) for i in range(5)] + [(2, 1), (2, 2)], "basket int, item int"
    )
    capped = basket_pairs(df, "basket", "item", max_basket_size=3)
    assert {(r["src"], r["dst"]) for r in capped.collect()} == {(1, 2)}


def test_triangle_stats_k4(spark):
    # K4: 4 nodes, 6 edges, C(4,3)=4 triangles; every wedge closes →
    # clustering 1.0
    k4 = _edges(
        spark, [(a, b) for a in range(4) for b in range(4) if a < b]
    )
    row = triangle_stats(k4).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    assert row["clustering"] == 1.0


def test_triangle_stats_canonicalizes_arbitrary_orientation(spark):
    """Edges arriving in mixed orientation with duplicates (r12 review
    class: the old src<dst docstring precondition was silently trusted
    — both (a,b) and (b,a) doubled every degree and counted each
    triangle twice) must canonicalize to one undirected simple edge
    set: the 1-2-3 triangle here is ONE triangle over THREE edges."""
    mixed = _edges(
        spark, [(1, 2), (2, 1), (3, 2), (1, 3), (1, 3), (3, 1)]
    )
    row = triangle_stats(mixed).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (3, 3, 1)
    assert row["clustering"] == 1.0


def test_triangle_stats_path_graph_no_triangles(spark):
    row = triangle_stats(_edges(spark, [(1, 2), (2, 3), (3, 4)])).collect()[0]
    assert row["n_triangles"] == 0
    assert row["clustering"] == 0.0


def test_triangle_stats_wedge_free_matching_clustering_zero(spark):
    # perfect matching: every degree is 1, so zero wedges — clustering
    # must be a defined 0.0, not the NULL that non-ANSI 0/0 would give
    row = triangle_stats(_edges(spark, [(1, 2), (3, 4), (5, 6)])).collect()[0]
    assert row["n_triangles"] == 0
    assert row["clustering"] == 0.0 and row["clustering"] is not None


def test_triangle_stats_skewed_star_plus_triangle(spark):
    """A star (celebrity hub 0) contributes wedges but no triangles; one
    off-star triangle must still be counted exactly once despite the
    degree orientation routing its wedge through the lowest-degree
    vertex. A second hub adjacent to EVERY node then closes exactly one
    triangle per existing edge, however the orientation routes it."""
    star = [(0, i) for i in range(1, 8)]
    tri = [(10, 11), (11, 12), (10, 12)]
    row = triangle_stats(_edges(spark, star + tri)).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_nodes"] == 11 and row["n_edges"] == 10
    nodes = {n for e in star + tri for n in e}
    hub = [(n, 99) for n in sorted(nodes)]
    row = triangle_stats(_edges(spark, star + tri + hub)).collect()[0]
    assert row["n_triangles"] == 1 + 10


def test_triangle_stats_ignores_self_loops_and_dup_edges(spark):
    row = triangle_stats(
        _edges(spark, [(1, 2), (1, 2), (2, 2), (2, 3), (1, 3)])
    ).collect()[0]
    assert (row["n_edges"], row["n_triangles"]) == (3, 1)


def test_blocked_fuzzy_join_within_block(spark):
    clean = spark.createDataFrame([("red widget",), ("blue bolt",)], "name string")
    dirty = spark.createDataFrame(
        [(1, "red widgt"), (2, "blue boltt"), (3, "red xxxxxx")],
        "did int, qname string",
    )
    out = blocked_fuzzy_join(clean, dirty, "name", "qname", max_dist=1)
    got = {(r["name"], r["did"], r["dist"]) for r in out.collect()}
    # id 3 shares the "red" block but is past the distance band
    assert got == {("red widget", 1, 1), ("blue bolt", 2, 1)}


def test_blocked_fuzzy_join_blocking_is_a_recall_trade(spark):
    """A corruption INSIDE the block prefix escapes the join — the
    documented contract, pinned so it can't silently change."""
    clean = spark.createDataFrame([("red widget",)], "name string")
    dirty = spark.createDataFrame([(1, "Xed widget")], "did int, qname string")
    out = blocked_fuzzy_join(clean, dirty, "name", "qname", max_dist=1)
    assert out.count() == 0


def test_merge_pair_counts_known_census(spark):
    docs = spark.createDataFrame(
        [("a b c a b",), ("a b",), ("solo",)], "text string"
    )
    got = {
        (r["pair"], r["n"])
        for r in merge_pair_counts(docs, top_n=10).collect()
    }
    # pairs: doc1 → (a b)(b c)(c a)(a b), doc2 → (a b); "solo" has one
    # token → contributes nothing
    assert got == {("a b", 3), ("b c", 1), ("c a", 1)}


def test_merge_pair_counts_top_n_deterministic_cut(spark):
    docs = spark.createDataFrame([("z y x w",)], "text string")
    out = merge_pair_counts(docs, top_n=2).collect()
    # all pairs tie at n=1 → lexicographic pair order decides the cut
    assert [r["pair"] for r in out] == ["x w", "y x"]


def _pagerank_reference(
    edges, iterations=3, damping_pct=85, scale=12, dangling="leak"
):
    """Pure-Python replica of the integer fixed-point recurrence —
    pagerank's determinism contract is that any correct implementation
    of the same integer math agrees bit for bit."""
    unit = 10**scale
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    rank = {v: unit // n for v in nodes}
    for _ in range(iterations):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += rank[s] // out[s]
        dshare = (
            sum(rank[v] for v in nodes if v not in out) // n
            if dangling == "redistribute"
            else 0
        )
        rank = {
            v: ((100 - damping_pct) * unit) // (100 * n)
            + (damping_pct * (inflow[v] + dshare)) // 100
            for v in nodes
        }
    return rank


def test_pagerank_matches_integer_reference_bit_for_bit(spark):
    from airflow_kafka_spark_spark.ext.graph import pagerank

    # asymmetric digraph with a sink-ish node and a popular hub
    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (1, 3), (2, 1)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["n"]: r["rank_s"] for r in pagerank(df).collect()}
    assert got == _pagerank_reference(edges)


def test_pagerank_dangling_redistribute_bit_exact_and_conserving(spark):
    """dangling='redistribute' on a graph WITH sinks: bit-exact vs the
    integer reference, mass conserved up to floor leaks, and ranks
    strictly above the leak variant's (which drains the sinks' mass)."""
    from airflow_kafka_spark_spark.ext.graph import pagerank

    # 4 and 5 are dangling (appear only as dst); 3 is a sink fed by all
    edges = [(1, 2), (2, 3), (1, 3), (2, 4), (1, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["n"]: r["rank_s"]
        for r in pagerank(df, dangling="redistribute").collect()
    }
    assert got == _pagerank_reference(edges, dangling="redistribute")
    n = len(got)
    total = sum(got.values())
    # per-iteration floors: n teleports + n dangling shares + edge divs
    assert 10**12 - 3 * (2 * n + len(edges)) <= total <= 10**12
    leak_total = sum(
        r["rank_s"] for r in pagerank(df, dangling="leak").collect()
    )
    assert total > leak_total  # the leak variant drains the sinks' mass

    # no dangling nodes -> redistribute must equal leak exactly
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src int, dst int")
    assert (
        {r["n"]: r["rank_s"] for r in pagerank(cyc, dangling="redistribute").collect()}
        == {r["n"]: r["rank_s"] for r in pagerank(cyc, dangling="leak").collect()}
    )

    with pytest.raises(ValueError, match="dangling"):
        pagerank(df, dangling="bogus")


def test_pagerank_mass_conserved_up_to_floor_leak(spark):
    from airflow_kafka_spark_spark.ext.graph import pagerank

    edges = [(a, b) for a in range(6) for b in range(6) if a != b]
    rows = pagerank(spark.createDataFrame(edges, "src int, dst int")).collect()
    total = sum(r["rank_s"] for r in rows)
    assert total <= 10**12
    assert total >= 10**12 - 6 * 10 * 3  # n·(out_deg+teleport) floor leaks/iter
    # complete graph → perfect symmetry, all ranks identical
    assert len({r["rank_s"] for r in rows}) == 1


def test_grouped_ols_exact_line(spark):
    from airflow_kafka_spark_spark.operators.relational import grouped_ols

    rows = [("a", x, 2.0 * x + 1.0) for x in range(10)]
    rows += [("b", x, 5.0) for x in range(4)]       # constant y
    rows += [("c", 7, 3.0)]                          # single point
    rows += [("d", 1, 1.0), ("d", 1, 3.0)]           # constant x
    df = spark.createDataFrame(rows, "k string, x int, y double")
    got = {r["k"]: r for r in grouped_ols(df, ["k"], "x", "y").collect()}
    assert got["a"]["slope"] == 2.0 and got["a"]["intercept"] == 1.0
    assert got["a"]["r2"] == 1.0
    assert got["b"]["slope"] == 0.0 and got["b"]["intercept"] == 5.0
    assert got["b"]["r2"] is None                    # deny = 0
    assert got["c"]["slope"] is None                 # no line from 1 point
    assert got["d"]["slope"] is None                 # constant x


def test_grouped_ols_matches_numpy(spark):
    import numpy as np

    from airflow_kafka_spark_spark.operators.relational import grouped_ols

    rng = np.random.RandomState(7)
    xs = rng.randint(0, 1000, size=200)
    ys = 0.37 * xs + 11.0 + rng.randn(200) * 5.0
    ys = np.round(ys, 6)  # the operator quantizes y at 6 dp anyway
    df = spark.createDataFrame(
        [("g", int(x), float(y)) for x, y in zip(xs, ys)],
        "k string, x int, y double",
    )
    row = grouped_ols(df, ["k"], "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(row["slope"] - slope) < 1e-6
    assert abs(row["intercept"] - intercept) < 1e-4
    assert abs(row["r2"] - r * r) < 1e-6


def test_pareto_frontier_known_case(spark):
    from airflow_kafka_spark_spark.operators.relational import pareto_frontier_2d

    pts = [
        (1, 1.0, 10),   # frontier
        (2, 2.0, 10),   # dominated: same y, larger x
        (3, 2.0, 20),   # frontier
        (4, 1.5, 10),   # dominated by 1 (same y, larger x)
        (5, 2.0, 20),   # duplicate of 3 — both survive
        (6, 3.0, 19),   # dominated by 3/5 (larger x, smaller y)
        (7, 0.5, 1),    # frontier (cheapest)
    ]
    df = spark.createDataFrame(pts, "id int, x double, y long")
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == [1, 3, 5, 7]


def test_pareto_frontier_matches_bruteforce(spark):
    import numpy as np

    from airflow_kafka_spark_spark.operators.relational import pareto_frontier_2d

    rng = np.random.RandomState(11)
    pts = [
        (i, float(round(rng.uniform(0, 10), 2)), int(rng.randint(0, 20)))
        for i in range(200)
    ]
    df = spark.createDataFrame(pts, "id int, x double, y long")
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y").collect())
    expect = sorted(
        i
        for i, x, y in pts
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for _, x2, y2 in pts
        )
    )
    assert got == expect


def test_hll_rolling_distinct_error_bound(spark):
    """The sketch-merge rolling distinct must sit within ±5% of the
    exact 7-day rolling distinct (HLL lgK=12 published error is ~1.6%;
    5% leaves slack for small-cardinality bias) and the daily estimate
    within the same bound of the exact daily count."""
    from airflow_kafka_spark_spark.plans.catalog import CATALOG
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    rows = CATALOG["hll_rolling_distinct"].fn(spark, SF_DIR).collect()
    assert rows, "no output days"

    ev = load_table(spark, SF_DIR, "events")
    pairs = {
        (str(r["d"]), r["user_id"])
        for r in ev.select(
            F.col("ts").cast("date").alias("d"), "user_id"
        ).distinct().collect()
    }
    days = sorted({d for d, _ in pairs})
    import datetime

    def exact_7d(day_str):
        end = datetime.date.fromisoformat(day_str)
        lo = end - datetime.timedelta(days=6)
        return len(
            {u for d, u in pairs if lo <= datetime.date.fromisoformat(d) <= end}
        )

    assert [r["day"] for r in rows] == days  # one row per active day
    for r in rows:
        exact_day = len({u for d, u in pairs if d == r["day"]})
        assert r["users_exact_day"] == exact_day
        assert abs(r["users_est_day"] - exact_day) <= max(2, 0.05 * exact_day)
        e7 = exact_7d(r["day"])
        assert abs(r["users_est_7d"] - e7) <= max(2, 0.05 * e7), (r["day"], e7, r)


def test_table_diff_all_change_classes(spark):
    from airflow_kafka_spark_spark.operators.relational import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0), (5, None, None)],
        "k int, s string, v double",
    )
    got = {r["k"]: r for r in table_diff(old, new, ["k"]).collect()}
    assert set(got) == {2, 3, 4, 5}          # key 1 unchanged → dropped
    assert got[2]["change"] == "changed"
    assert (got[2]["old_s"], got[2]["new_s"]) == ("b", "B")
    assert got[3]["change"] == "removed" and got[3]["new_s"] is None
    assert got[4]["change"] == "added" and got[4]["old_s"] is None
    assert got[5]["change"] == "added"        # null payload still added


def test_table_diff_null_payloads_not_equal_trap(spark):
    """NULL == NULL must compare as equal inside the payload struct (the
    null-safe <=>): a key with identical all-NULL payloads is unchanged."""
    from airflow_kafka_spark_spark.operators.relational import table_diff

    old = spark.createDataFrame([(1, None)], "k int, v double")
    new = spark.createDataFrame([(1, None)], "k int, v double")
    assert table_diff(old, new, ["k"]).count() == 0


def test_quality_checks_empty_table_reports_zero_not_null(spark):
    """An empty (healthy) table must audit as 0 violations everywhere
    (r12 review class, repro-confirmed: F.sum over zero rows is NULL,
    so not_null/range checks reported NULL for a perfectly healthy
    empty partition — failing `violations == 0` consumers)."""
    from airflow_kafka_spark_spark.operators.relational import quality_checks

    empty = spark.createDataFrame([], "k int, cust int, v double")
    dim = spark.createDataFrame([(1,)], "c int")
    got = {
        r["check"]: r["violations"]
        for r in quality_checks(
            empty,
            not_null=["k"],
            unique=[["k"]],
            ranges={"v": (0.0, 1.0)},
            foreign_keys=[(["cust"], dim, ["c"])],
        ).collect()
    }
    assert got == {
        "not_null:k": 0,
        "range:v": 0,
        "unique:k": 0,
        "fk:cust": 0,
    }
    assert all(v is not None for v in got.values())


def test_grouped_ols_exact_line_at_large_x_no_silent_wrap(spark):
    """r12 review class (repro-confirmed): BIGINT moment accumulation
    wrapped silently under the non-ANSI session for x ≈ 1e10 (per-row
    x·y_scaled ≈ 2e21), returning NULL slope disguised as a degenerate
    group. DECIMAL moments keep the exact line: slope 2, r² 1."""
    from airflow_kafka_spark_spark.operators.relational import grouped_ols

    base = 10_000_000_000
    df = spark.createDataFrame(
        [("g", base + i, float(2 * (base + i))) for i in range(5)],
        "k string, x long, y double",
    )
    row = grouped_ols(df, ["k"], "x", "y").collect()[0]
    assert row["slope"] == 2.0, row
    assert row["r2"] == 1.0, row


def test_quality_checks_seeded_violations(spark):
    from airflow_kafka_spark_spark.operators.relational import quality_checks

    fact = spark.createDataFrame(
        [
            (1, 1, 10.0),
            (1, 1, 20.0),      # duplicate key 1 (counts once as a dup KEY)
            (2, 9, -5.0),      # orphan custkey 9, negative value
            (3, 2, None),      # null value → not_null ONLY (dbt/Deequ:
                               # NULL is not a range failure; r14 fix)
            (None, 1, 1.0),    # null key col
        ],
        "k int, cust int, v double",
    )
    dim = spark.createDataFrame([(1,), (2,)], "c int")
    got = {
        r["check"]: r["violations"]
        for r in quality_checks(
            fact,
            not_null=["k", "v"],
            unique=[["k"]],
            ranges={"v": (0.0, 100.0)},
            foreign_keys=[(["cust"], dim, ["c"])],
        ).collect()
    }
    assert got == {
        "not_null:k": 1,
        "not_null:v": 1,
        "range:v": 1,       # only the -5.0 — the NULL row is not_null's
        "unique:k": 1,      # one duplicated KEY (not row excess)
        "fk:cust": 1,
    }


def test_quality_checks_clean_table_all_zero(spark):
    from airflow_kafka_spark_spark.operators.relational import quality_checks

    fact = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    got = {
        r["check"]: r["violations"]
        for r in quality_checks(
            fact, not_null=["k"], unique=[["k"]], ranges={"v": (0.0, 10.0)}
        ).collect()
    }
    assert got == {"not_null:k": 0, "range:v": 0, "unique:k": 0}


def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph has diameter 199: the neighbor-min-only
    propagation walked one hop per iteration and silently returned
    partial labels at the 25-iteration cap (the bug behind the round-5
    graph-analytics OOM); pointer jumping converges in O(log n) and the
    per-iteration localCheckpoint keeps the plan tree flat."""
    from airflow_kafka_spark_spark.ext.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc1 long, doc2 long"
    )
    out = connected_components(chain).collect()
    assert len(out) == 200
    assert {r["component"] for r in out} == {0}
    assert sum(r["is_keeper"] for r in out) == 1


def test_connected_components_raises_when_cap_hits(spark):
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc1 long, doc2 long"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iter=2)


def test_grid_radius_join_exact_vs_bruteforce(spark):
    import numpy as np

    from airflow_kafka_spark_spark.operators.spatial import grid_radius_join

    rng = np.random.RandomState(3)
    pts = [(i, float(rng.uniform(0, 20)), float(rng.uniform(0, 20))) for i in range(150)]
    a = spark.createDataFrame(pts, "id1 int, x1 double, y1 double")
    b = spark.createDataFrame(pts, "id2 int, x2 double, y2 double")
    out = grid_radius_join(a, b, ("x1", "y1"), ("x2", "y2"), radius=1.5)
    got = {(r["id1"], r["id2"]) for r in out.filter("id1 < id2").collect()}
    expect = {
        (i, j)
        for i, x1, y1 in pts
        for j, x2, y2 in pts
        if i < j and (x1 - x2) ** 2 + (y1 - y2) ** 2 <= 1.5**2
    }
    assert got == expect and len(expect) > 0


def test_grid_radius_join_boundary_and_cell_edges(spark):
    """Points exactly radius apart (inclusive) and pairs straddling a
    cell boundary must both match; just-over-radius must not."""
    from airflow_kafka_spark_spark.operators.spatial import grid_radius_join

    a = spark.createDataFrame(
        [(1, 0.99, 0.0), (2, 5.0, 5.0)], "id1 int, x1 double, y1 double"
    )
    b = spark.createDataFrame(
        [(10, 1.99, 0.0),   # exactly 1.0 from id1, next cell → match
         (11, 2.01, 0.0),   # 1.02 away → no
         (12, 5.0, 6.0)],   # exactly radius from id2 → match
        "id2 int, x2 double, y2 double",
    )
    out = grid_radius_join(a, b, ("x1", "y1"), ("x2", "y2"), radius=1.0)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {(1, 10), (2, 12)}


def test_grid_radius_join_rejects_bad_radius(spark):
    from airflow_kafka_spark_spark.operators.spatial import grid_radius_join
    import pytest as _pytest

    a = spark.createDataFrame([(1, 0.0, 0.0)], "id1 int, x1 double, y1 double")
    with _pytest.raises(ValueError, match="radius"):
        grid_radius_join(a, a, ("x1", "y1"), ("x1", "y1"), radius=0.0)


def test_transitive_closure_chain_depths(spark):
    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "child int, parent int"
    )
    out = transitive_closure(chain, max_depth=16)
    got = {(r["child"], r["parent"]): r["depth"] for r in out.collect()}
    assert got[(0, 10)] == 10 and got[(3, 7)] == 4 and got[(9, 10)] == 1
    assert len(got) == sum(range(1, 11))  # every (i, j>i) pair exactly once


def test_transitive_closure_dag_shortest_depth(spark):
    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    # two routes 1→4: 1→2→3→4 (3 hops) and 1→4 (1 hop) → depth 1
    dag = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "child int, parent int"
    )
    out = {(r["child"], r["parent"]): r["depth"] for r in transitive_closure(dag).collect()}
    assert out[(1, 4)] == 1 and out[(1, 3)] == 2


def test_transitive_closure_depth_cap_raises(spark):
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "child int, parent int"
    )
    with _pytest.raises(RuntimeError, match="max_depth"):
        transitive_closure(chain, max_depth=4)


def test_transitive_closure_strategies_agree(spark):
    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    dag = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (5, 6)], "child int, parent int"
    )
    got = {
        (r["child"], r["parent"]): r["depth"]
        for r in transitive_closure(dag).collect()
    }
    assert got == {
        (1, 2): 1, (2, 3): 1, (3, 4): 1, (1, 4): 1, (5, 6): 1,
        (1, 3): 2, (2, 4): 2,
    }


def test_transitive_closure_non_power_of_two_cap_both_strategies(spark):
    """max_depth=5 on a 6-deep chain: the doubled closure covers 8 hops,
    so the <=max_depth trim must not hide the 6-hop pair from the
    overflow check, and a 5-deep chain must come back complete."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "child int, parent int"
    )
    with _pytest.raises(RuntimeError, match="max_depth"):
        transitive_closure(deep, max_depth=5)

    ok = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "child int, parent int"
    )
    out = transitive_closure(ok, max_depth=5)
    got = {(r["child"], r["parent"]): r["depth"] for r in out.collect()}
    assert got == {(i, j): j - i for i in range(6) for j in range(i + 1, 6)}


def test_transitive_closure_multipath_dag_strategies_agree(spark):
    """Layered complete-bipartite DAG: 3^k distinct paths per pair — the
    closure must return one row per reachable pair at the minimal
    depth."""
    from airflow_kafka_spark_spark.ext.graph import transitive_closure

    layers = [[lv * 10 + i for i in range(3)] for lv in range(5)]
    edges = [
        (a, b)
        for l0, l1 in zip(layers, layers[1:])
        for a in l0
        for b in l1
    ]
    dag = spark.createDataFrame(edges, "child int, parent int")
    expected = {
        (a, b): lv_b - lv_a
        for lv_a, la in enumerate(layers)
        for lv_b, lb in enumerate(layers)
        if lv_b > lv_a
        for a in la
        for b in lb
    }
    out = transitive_closure(dag, max_depth=7)
    got = {(r["child"], r["parent"]): r["depth"] for r in out.collect()}
    assert got == expected
