"""Graph primitives over derived co-occurrence graphs.

The reference has no graph surface (its only iterative structure is the
per-key ordered series, ``/root/reference/spark/stock_analysis.py:166-191``);
these operators extend the engine's §2.12 suite with the two standard
distributed-graph building blocks missing from
``ext.dedup.connected_components``: basket→edge expansion and triangle
counting / clustering coefficient — the relationship-mining step a
training-data pipeline runs over entity co-occurrence (duplicate
clusters, link graphs, product baskets).

Scale design:

- ``basket_pairs`` builds co-occurrence edges without self-joining the
  fact table: ONE shuffle to collect each basket (hash agg on the basket
  id), then the C(n,2) pair expansion is a higher-order-function
  transform over the sorted item array — map-side, no second shuffle.
  The naive formulation (fact ⨝ fact on basket id) shuffles the fact
  table twice and squares skewed baskets inside the join; here a
  mega-basket is visible as one row and ``max_basket_size`` caps it
  explicitly (same skew posture as ``max_shingle_df`` in ext.dedup —
  honest lower-bound semantics, dropped baskets are the caller's knob).
- ``triangle_stats`` orients every edge from its lower-``(degree, id)``
  endpoint to the higher one before the wedge join — the node-iterator
  bound (Schank & Wagner 2005; the MapReduce variant is Suri &
  Vassilvitskii, WWW 2011): each wedge is generated at its
  lowest-degree vertex, so per-vertex fan-out is O(sqrt(m)) on any
  graph and the deg² wedge blow-up a celebrity node causes in the
  unoriented formulation never materializes. Every join is an equi-join
  (on a node or a node pair); the triangle count is
  orientation-independent, so the DuckDB oracle verifies with the plain
  ``a<b<c`` formulation and must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = None,
    counted: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """Undirected co-occurrence edges ``(src < dst)`` between items
    sharing a basket — distinct pairs by default; with ``counted=True``
    each pair also carries ``support`` (how many baskets contain it —
    the market-basket statistic, same single extra aggregate).
    ``max_basket_size`` drops larger baskets (quadratic-inflation cap;
    a 10k-item basket alone emits ~50M pairs).

    ``distinct=False`` skips the final dedup shuffle and returns the raw
    expansion (each pair once per shared basket, still ``src < dst``) —
    for consumers that canonicalize + dedup internally anyway
    (:func:`triangle_stats`), the back-to-back distincts were two full
    shuffles of the edge list doing one job (guide §2.4: remove
    shuffles outright). Ignored when ``counted=True``.
    """
    # a narrow scan (single unsplittable file) would otherwise run the
    # whole partial collect_set single-threaded inside the scan task;
    # keyed repartition fans it out and doubles as the groupBy's
    # exchange (no-op on a production multi-split scan) — r16: the
    # expansion alone measured 1.0 -> 0.6 s at sf0.1
    from ..sources.files import fan_out_narrow_scan

    df = fan_out_narrow_scan(df.select(basket_col, item_col), basket_col)
    baskets = df.groupBy(basket_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("__items")
    )
    if max_basket_size is not None:
        baskets = baskets.filter(F.size("__items") <= max_basket_size)
    pairs = F.expr(
        "flatten(transform(__items, (x, i) -> "
        "transform(slice(__items, i + 2, size(__items)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    exploded = baskets.select(F.explode(pairs).alias("__e")).select(
        F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst")
    )
    if counted:
        return exploded.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("support")
        )
    return exploded.distinct() if distinct else exploded


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected simple graph, one output row:
    ``(n_nodes, n_edges, n_triangles, clustering)``.

    ``edges`` may arrive in ANY orientation and with duplicates: each
    edge is canonicalized to ``(least, greatest)`` before the distinct
    (an input carrying both (a,b) and (b,a) previously doubled every
    degree and counted each triangle twice, silently — the docstring
    precondition is now enforced by one cheap map expression);
    self-loops are dropped.

    Plan (compact-forward / Latapy 2008, the adjacency-array variant of
    the node-iterator): degree agg (one shuffle on node) → joint-degree
    attach (two equi-joins of the edge list against the degree table) →
    orient each edge low→high ``(degree, id)`` rank → collect each
    node's OUT-adjacency as a sorted array (one shuffle; the
    orientation bounds every out-list by O(sqrt(m)), so no celebrity
    node can blow an array up) → re-derive each oriented edge FROM the
    adjacency arrays (``explode(__nbrs)`` — map-side; the previous
    shape equi-joined the oriented edge list back onto the adjacency
    table, a third shuffle of the edges that carried no information
    the arrays don't already hold) → attach the dst endpoint's
    out-list (ONE equi-join on a node key) → the per-edge triangle
    count is ``size(array_intersect(out(u), out(v)))``, a map-side JVM
    set intersection, and ``n_edges`` rides the same aggregate (each
    oriented edge appears exactly once), so no separate edge-count
    subtree re-scans the input. The wedge set is never materialized as
    rows: the naive oriented wedge join shuffles Σ C(outdeg, 2) rows
    (~30M at sf0.1 on the part co-occurrence graph, 8.3 s), while this
    form shuffles only the edge list with O(sqrt(m)) array payloads
    and intersects inside the scan.
    ``clustering = 3·triangles / Σ C(deg, 2)`` (wedge total from the
    degree table — exact integer arithmetic below 2^53).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias(src),
            F.greatest(F.col(src), F.col(dst)).alias(dst),
        )
        .filter(F.col(src) != F.col(dst))
        .distinct()
    )
    # LAZY plan cut (the pagerank idiom): e feeds THREE consumers (the
    # degree union's both sides and the joint-degree attach), so the
    # canonicalize+distinct subtree — and everything upstream, e.g. a
    # basket-pairs expansion — is otherwise replicated per consumer in
    # the logical/physical plan. Runtime exchange reuse already dedups
    # the shuffle, but the triplicated subtree still pays analysis/
    # planning per copy: cold-run A/B at sf0.1 measured 12.3 → 5.2 s
    # (r17), warm runs a wash — adopted for the plan-size cut (guide
    # §3.3 "materialise an intermediate to truncate the plan").
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col(src).alias("n"))
        .unionAll(e.select(F.col(dst).alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # deg and adj are node-sized (adj's array payload is edge-sized in
    # total) — like the pagerank/cc loops, these joins must be
    # BROADCAST-FREE: AQE's runtime estimate can still pick a broadcast
    # build at gate scales, and the build side OOMs a long-lived
    # 1g-heap driver (caught by the round-7 sf0.1 full-catalog replica
    # leg, LTZ pass) — and a table that grows with the graph is not
    # broadcastable at 10^9 nodes anyway.
    ed = (
        e.join(
            deg.select(F.col("n").alias(src), F.col("deg").alias("__sd")).hint(
                "shuffle_hash"
            ),
            src,
        )
        .join(
            deg.select(F.col("n").alias(dst), F.col("deg").alias("__dd")).hint(
                "shuffle_hash"
            ),
            dst,
        )
    )
    lower_first = (F.col("__sd") < F.col("__dd")) | (
        (F.col("__sd") == F.col("__dd")) & (F.col(src) < F.col(dst))
    )
    o = ed.select(
        F.when(lower_first, F.col(src)).otherwise(F.col(dst)).alias("u"),
        F.when(lower_first, F.col(dst)).otherwise(F.col(src)).alias("v"),
    )
    adj = o.groupBy(F.col("u").alias("__n")).agg(
        F.array_sort(F.collect_list("v")).alias("__nbrs")
    )
    # each oriented edge (u, v) is one element of u's out-list: explode
    # the adjacency table instead of joining o back onto it — u's
    # out-list attaches map-side, only the v-side lookup needs a join.
    oe = adj.select(
        F.col("__n").alias("u"),
        F.col("__nbrs").alias("__au"),
        F.explode("__nbrs").alias("v"),
    )
    with_adj = oe.join(
        # a sink node (no out-edges) has no adj row → empty list
        adj.select(
            F.col("__n").alias("v"), F.col("__nbrs").alias("__av")
        ).hint("shuffle_hash"),
        "v",
        "left",
    )
    # slice(__au, 1, 0) = a typed empty array for sink nodes (no out-list)
    per_edge = F.size(
        F.array_intersect(
            F.col("__au"),
            F.coalesce(F.col("__av"), F.slice(F.col("__au"), 1, 0)),
        )
    )
    # n_edges folds into the same aggregate: with_adj holds each
    # oriented edge exactly once (orientation is a bijection on e)
    tri_edges = with_adj.agg(
        F.coalesce(F.sum(per_edge.cast("long")), F.lit(0).cast("long")).alias(
            "n_triangles"
        ),
        F.count(F.lit(1)).alias("n_edges"),
    )
    deg_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("CAST(deg * (deg - 1) / 2 AS BIGINT)")).alias("__wedges"),
    )
    return (
        tri_edges
        .crossJoin(deg_stats)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            # wedge-free graphs (all degrees <= 1, e.g. a perfect
            # matching) would hit 0/0 -> NULL under non-ANSI division;
            # define clustering as 0.0 there instead
            F.when(
                F.col("__wedges") > 0,
                F.round(
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("__wedges").cast("double"),
                    6,
                )
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 12,
    src: str = "src",
    dst: str = "dst",
    dangling: str = "leak",
) -> DataFrame:
    """PageRank over the directed edge list, a FIXED number of unrolled
    iterations, bit-reproducible across engines and partitionings.

    Floating-point PageRank is not reproducible under Spark's
    nondeterministic aggregation order (double addition does not
    associate) — and even per-row ROUND(double, 12) quantization turned
    out to differ between engines by 1 ulp of the grid (Spark rounds
    the exact binary expansion via BigDecimal; DuckDB's round disagrees
    on some values — observed 2/20 rows off by 1e-12 in the first
    formulation of this operator). So NO floating point exists anywhere
    in the iteration: ranks are scaled BIGINT fixed-point in units of
    ``10^-scale`` — per-edge contribution is integer floor-division
    ``rank_s div out_deg``, the damping update is
    ``((100-damping_pct)·10^scale) div (100·N) + (damping_pct·inflow)
    div 100`` — all exact integer ops, identical in any engine, so the
    unrolled-CTE SQL oracle must agree BIT for bit, not digit for
    digit. Floor quantization leaks ≤ out_deg·10^-scale of mass per
    node per iteration (ranks sum to slightly under 1) — at scale 12
    that is noise for ranking, and replayability is worth far more.

    Dangling nodes (no out-edges): ``dangling="leak"`` (default) drops
    their mass each iteration — the classic simplification, fine for
    co-occurrence graphs where every node has out-degree >= 1 but
    systematically deflating on web-style graphs. ``"redistribute"``
    adds the standard correction, fixed-point exact: per iteration the
    dangling mass ``D`` (one global BIGINT sum over the rank rows with
    no out-degree — an anti-join + 1-row aggregate crossJoined back,
    the same shape as ``__n``) is shared equally, so the effective
    inflow becomes ``inflow + D div N`` before damping. Floor division
    leaks ≤ N grid units per iteration, same tolerance as the
    per-edge floors. Cost: one extra reference to the rank frame per
    iteration (the anti-join), so for deep iteration counts the
    localCheckpoint advice below applies sooner.

    Scale design: per iteration, ONE equi-join of the rank table onto
    the edge list's src and ONE hash aggregate on dst. The rank table
    CARRIES ``out_deg`` (and, via its NULL, the dangling flag): the
    node table is built once as ``nodes LEFT JOIN out_deg`` and every
    iteration's contribution join needs only ``edges ⋈ rank`` — the
    previous shape joined ``out_deg`` onto the edge list again each
    iteration (a second node-sized shuffle join per round) and
    redistribute mode ran a third (the dangling anti-join), which the
    flag turns into a map-side filter over the already-materialized
    rank rows (r16 measurement: 5.1 → 3.7 s at sf0.1 for the
    redistribute entry). All rank-side joins carry an explicit
    ``shuffle_hash`` hint: the loop is deliberately BROADCAST-FREE. At
    real scale the rank table is node-sized (not broadcastable at 10^9
    nodes), and in constrained drivers the broadcast BUILD is the
    failure mode — the AQE-chosen broadcast of the node-sized rank
    table died with "Not enough memory to build and broadcast" in a
    long-lived 1g-heap session (round-6 sf0.1 full-catalog replica
    leg) even though the table itself was tiny. With the hint, every
    iteration shuffles on the same keys, so Catalyst's ReusedExchange
    computes the edge shuffle once for all iterations within the
    single final action. In leak mode the loop is driver-side
    unrolling of a fixed small count with no action and no
    materialization — for deep iteration counts, cut the rank frame
    every iteration as ext.dedup.connected_components does.

    Output: ``(n, rank_s, rank)`` — the exact scaled-BIGINT rank and
    its double rendering ``rank_s / 10^scale`` (one deterministic
    division by an exactly-representable power of ten).
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be 0-100, got {damping_pct}")
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"dangling must be 'leak' or 'redistribute', got {dangling!r}"
        )
    unit = 10**scale
    if dangling == "redistribute":
        # edges feed every iteration's contrib join and the node/degree
        # tables. The loop has a fixed iteration count and no
        # data-dependent exit, so no cut needs a driver action of its
        # own: each cut's blocks are written by the first job that reads
        # them. The earlier eager form ran an action per checkpoint (6
        # jobs for 3 iterations) — r16 measured 3.2 s vs eager 3.5 s min
        # at sf0.1, bit-identical.
        edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src).alias("n"))
        .unionAll(edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    out_deg = edges.groupBy(F.col(src).alias("n")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # ONE merged node table: (n, out_deg-or-NULL). The NULL doubles as
    # the dangling flag, so the iteration never re-joins out_deg onto
    # the edge list and redistribute mode never anti-joins the rank
    # frame — both were node-sized shuffle joins per iteration.
    # Node-sized ⋈ node-sized: shuffle_hash, never a broadcast build
    # (see docstring).
    nt = nodes.join(out_deg.hint("shuffle_hash"), "n", "left")
    n_nodes = nt.agg(F.count(F.lit(1)).alias("__n"))
    rank = nt.crossJoin(n_nodes).select(
        "n",
        F.expr(f"CAST({unit} AS BIGINT) div __n").alias("rank_s"),
        "out_deg",
        "__n",
    )
    teleport = F.expr(
        f"CAST({(100 - damping_pct) * unit} AS BIGINT) div (100 * __n)"
    )
    for _ in range(iterations):
        if dangling == "redistribute":
            # the redistribute loop references rank TWICE per iteration
            # (contrib + dangling sum), so the unrolled plan grows
            # 2^iterations between cuts — checkpoint every iteration,
            # the connected_components lesson (O(1) plans at any depth;
            # both per-iteration references read the once-computed
            # blocks)
            rank = rank.localCheckpoint(eager=False)
        # inner join on src: every src has out_deg >= 1 by construction,
        # so the carried out_deg is never NULL on matched rows
        contrib = (
            edges.join(
                rank.select(
                    F.col("n").alias(src), "rank_s", "out_deg"
                ).hint("shuffle_hash"),
                src,
            )
            .select(
                F.col(dst).alias("n"),
                F.expr("rank_s div out_deg").alias("c"),
            )
        )
        inflow = contrib.groupBy("n").agg(F.sum("c").alias("inflow"))
        if dangling == "redistribute":
            # global dangling mass: rank rows with no out-degree — a
            # map-side filter on the carried flag (formerly an anti-
            # join), one 1-row BIGINT sum crossJoined back — each node's
            # effective inflow gains an equal integer share D div N
            dang = rank.filter(F.col("out_deg").isNull()).agg(
                F.coalesce(F.sum("rank_s"), F.lit(0).cast("bigint")).alias(
                    "__dang"
                )
            )
            update = F.expr(
                f"({damping_pct} * (coalesce(inflow, CAST(0 AS BIGINT))"
                f" + (__dang div __n))) div 100"
            )
            # rebuild from RANK, not nt: the per-iteration checkpointed
            # rank already carries the full node table (n, out_deg, __n
            # are iteration-invariant), so reading it back replaces a
            # separate nt checkpoint (one less Catalyst planning pass —
            # the dominant cost of this query is DRIVER-side planning,
            # r17 instrumented split: build 2.7-3.7 s vs action
            # 0.5-0.8 s) and the per-iteration nt reads. The third
            # rank reference per iteration reads the same checkpointed
            # blocks; plans stay O(1). Redistribute-mode ONLY: leak
            # mode has no per-iteration cuts, so a second rank
            # reference there would compound the unrolled plan
            # 2^iterations (the connected_components lesson).
            rank = (
                rank.select("n", "out_deg", "__n")
                .crossJoin(dang)
                .join(inflow.hint("shuffle_hash"), "n", "left")
                .select(
                    "n", (teleport + update).alias("rank_s"), "out_deg", "__n"
                )
            )
        else:
            rank = (
                nt.crossJoin(n_nodes)
                .join(inflow.hint("shuffle_hash"), "n", "left")
                .select(
                    "n",
                    (
                        teleport
                        + F.expr(
                            f"({damping_pct} * coalesce(inflow, CAST(0 AS BIGINT))) div 100"
                        )
                    ).alias("rank_s"),
                    "out_deg",
                    "__n",
                )
            )
    return rank.select(
        "n",
        "rank_s",
        (F.col("rank_s").cast("double") / F.lit(float(unit))).alias("rank"),
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_depth: int = 32,
) -> DataFrame:
    """Transitive reachability with path length — the hierarchical query
    (org chart roll-up, BOM explosion, category-tree flattening)
    relational engines express with a recursive CTE. Output:
    ``(src, dst, depth)`` for every ancestor reachable in ≤ ``max_depth``
    hops; on a DAG with multiple routes, ``depth`` is the SHORTEST.

    Path doubling: round k joins the ≤2^k-hop closure with itself —
    at most ``ceil(log2(max_depth))`` join+min-depth-aggregate rounds,
    then a ``depth <= max_depth`` filter (the doubled closure covers up
    to ``2^ceil(log2(max_depth))`` hops; the filter trims the overshoot
    for non-power-of-two ``max_depth`` so the completeness probe checks
    the ≤ ``max_depth``-hop set). The ROUND count is bounded regardless
    of depth, which is the scale-safety property: on a 1000-executor
    cluster each round costs scheduler/barrier latency, and a
    depth-1000 lineage chain at O(depth) rounds stalls on coordination
    alone. The one-hop frontier expansion (O(depth) rounds, less total
    work per round) lost the same-run face-off even on the shallow
    sf0.1 customer tree once doubling gained its convergence early
    exit: 3.17 s vs 4.93 s (CHANGELOG Round 11).

    Every round cuts lineage with localCheckpoint (the nested-plan OOM
    lesson from connected_components), and the function raises loudly
    when the hierarchy outruns ``max_depth`` — silent truncation would
    under-report ancestors. Cycles are NOT supported (a cycle makes
    "depth" unbounded); feed a DAG.
    """
    import math

    reach = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .distinct()
        .withColumn("depth", F.lit(1))
        .localCheckpoint(eager=False)
    )
    rounds = max(1, math.ceil(math.log2(max_depth)))
    # convergence early-exit: after round k the closure holds EVERY
    # pair at distance <= 2^k, at its exact distance — so if the
    # observed max depth is STRICTLY below that coverage bound, no
    # deeper pair can exist (a pair at distance d implies sub-pairs at
    # every distance < d, and those would have shown up), and if the
    # pair count stopped growing the set is complete outright. Each
    # remaining round would self-join the FULL closure for nothing —
    # the most expensive no-op available. One cheap aggregate action
    # per round (which also materializes that round's cut) cuts
    # ceil(log2(max_depth)) rounds to ceil(log2(actual_depth)) when
    # max_depth is a generous bound over a shallow tree (sf0.1 customer
    # tree: depth 14 under max_depth=24 — round 5 was pure waste;
    # 11.1 -> 4.7 s). Depths are min-folded, so the early exit returns
    # the identical frame.
    prev_n = reach.count()
    for rnd in range(rounds):
        ext = (
            reach.alias("a")
            .join(
                reach.select(
                    F.col("__s").alias("__d"),
                    F.col("__d").alias("__d2"),
                    F.col("depth").alias("__depth2"),
                ),
                "__d",
            )
            .select(
                F.col("a.__s").alias("__s"),
                F.col("__d2").alias("__d"),
                (F.col("a.depth") + F.col("__depth2")).alias("depth"),
            )
        )
        reach = (
            reach.unionByName(ext)
            .groupBy("__s", "__d")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=False)
        )
        row = reach.agg(
            F.count(F.lit(1)).alias("n"), F.max("depth").alias("maxd")
        ).first()
        if row["n"] == prev_n or row["maxd"] < (1 << (rnd + 1)):
            break
        prev_n = row["n"]
    # the doubled closure covers 2^rounds >= max_depth hops; trim the
    # overshoot so a non-power-of-two max_depth returns the
    # <= max_depth-hop set (and trips the probe below when deeper
    # pairs exist)
    reach = reach.filter(F.col("depth") <= F.lit(max_depth))
    # completeness probe: any 1-hop extension of the closure that is NOT
    # already in it means max_depth was too small — fail loudly
    probe = (
        reach.alias("a")
        .join(
            edges.select(
                F.col(src).alias("__d"), F.col(dst).alias("__ext")
            ),
            "__d",
        )
        .select(F.col("a.__s").alias("__s"), F.col("__ext").alias("__d"))
        .join(reach.select("__s", "__d"), ["__s", "__d"], "left_anti")
        .limit(1)
        .count()
    )
    if probe:
        raise RuntimeError(
            f"transitive_closure: hierarchy deeper than max_depth={max_depth} "
            "— raise max_depth (or check the edge list for a cycle, which "
            "makes depth unbounded)"
        )
    return reach.select(
        F.col("__s").alias(src), F.col("__d").alias(dst), "depth"
    )
