"""Relational surface helpers (SURVEY.md §2.4/§2.5/§2.9 + M4).

The reference has no joins/aggregation surface beyond counts (§2.4/§2.5);
the engine exposes the standard Spark relational operators, mostly as
thin idiomatic compositions. The one non-obvious piece is *deterministic
cross-engine aggregation*: double-precision SUM is order-dependent, so a
Spark sum and a DuckDB sum of 60k doubles differ in the last ULPs and an
exact value-hash comparison would flake. ``decimal_sum`` sidesteps this:
cast each element to a fixed-scale DECIMAL (deterministic rounding of an
IEEE double), sum exactly in decimal (both engines do exact decimal
arithmetic), cast the total back to double (deterministic). The result is
bit-identical across engines and insensitive to partitioning/order — which
also makes results stable across cluster sizes, a property worth having at
100 TB regardless of the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def decimal_sum(col: Column | str, scale: int = 6, precision: int = 22) -> Column:
    """Order-insensitive, cross-engine-exact SUM of a double column.

    The decimal sum is exact in both engines; the subtle part is the
    decimal→double CAST at the end. A double→decimal conversion is only
    *single-rounded identically* in every engine when the decimal's
    unscaled integer fits in 2^53 (then it is exact-int / 10^s with one
    correctly-rounded division). So the exact sum is first rounded to
    scale 6 IN THE DECIMAL DOMAIN (exact, engine-identical) — bounding
    the unscaled value to |sum|·10^6 < 2^53, i.e. sums up to ~9e9 — and
    only then cast. Without this, a scale-10 sum of ~4.5e9 differs by
    1 ULP between Spark and DuckDB (observed at sf0.1).

    SQL equivalent (DuckDB):
    ``CAST(ROUND(SUM(CAST(x AS DECIMAL(p,s))), 6) AS DOUBLE)``.

    Contract boundary: the per-ELEMENT double→decimal cast is only
    engine-identical when the value is not an exact tie at the target
    scale. Source data with ≤scale decimals (prices, quantities) never
    ties; DERIVED values can — dividing by a power of two yields exact
    ...5 digits (e.g. 33.3053125 at scale 6), where Spark casts
    half-UP but DuckDB casts half-EVEN (observed: catalog
    try_functions, 277/58741 rows) — and ROUND(double, 6) itself
    differs by 1 ulp on a few rows (different rounding
    implementations). For derived doubles, quantize with pure IEEE ops
    instead: ``floor(x * 10^s)`` as BIGINT (multiply + floor are
    bit-identical in every engine, no tie semantics), sum as longs,
    rescale once — see catalog q_try_functions.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast(f"decimal({precision},{scale})")), 6
    ).cast("double")


def decimal_avg(col: Column | str, scale: int = 6, precision: int = 22) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by the
    non-null count (double division is deterministic).

    SQL equivalent: ``CAST(ROUND(SUM(CAST(x AS DECIMAL(p,s))), 6) AS DOUBLE)
    / CAST(COUNT(x) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return decimal_sum(c, scale, precision) / F.count(c).cast("double")


def salted_decimal_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    scale: int = 6,
    precision: int = 22,
    out_col: str = "sum_value",
) -> DataFrame:
    """Skew-safe two-phase SUM: partial aggregate on (key, salt), final
    aggregate on key.

    A single hot key turns a plain groupBy into one overloaded reducer;
    salting splits each key's rows across ``n_salts`` partial groups that
    aggregate in parallel, and the final pass combines ``n_salts`` small
    partials per key. Because the partial/final sums are fixed-scale
    DECIMAL (exact, associative), the result is bit-identical to the
    unsalted sum — which is what the DuckDB oracle checks. Count-style
    and min/max aggregates compose the same way; non-associative ones
    (median) do not.
    """
    salt = (F.rand(seed=42) * n_salts).cast("int")
    dec = F.col(value_col).cast(f"decimal({precision},{scale})")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(F.sum(dec).alias("__partial"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(
            F.round(F.sum("__partial"), 6).cast("double").alias(out_col)
        )  # same bounded decimal→double cast as decimal_sum
    )


def fixed_point_group_sum(
    df: DataFrame,
    key_cols: list[str],
    value_cols: dict[str, Column],
    scale: int = 6,
    precision: int = 22,
) -> DataFrame:
    """Bit-identical to ``decimal_sum`` per value, ~15% faster (measured,
    4-measure q1 shape on lineitem sf0.1: 1.45 s vs 1.70 s — the partial
    overflow proof costs part of the raw ~38% primitive-long win, and is
    worth it): the hot accumulation runs over primitive BIGINT instead
    of BigDecimal.

    Spark decimals above precision 18 leave the long-backed fast path,
    so ``sum(decimal(22,6))`` accumulates through BigDecimal objects.
    This variant keeps the SEMANTIC anchor — each value is first cast to
    ``decimal(p,s)`` exactly like decimal_sum, so per-row rounding is
    identical — then shifts it into an integral scaled long (exact:
    decimal × 10^s has an integral value), sums longs per
    ``(keys, spark_partition_id)`` (map-side combine makes this the
    per-partition partial), and folds the few partials per key back
    through exact decimal. Integer addition is associative/commutative-
    exact, so the total equals the decimal sum bit-for-bit and stays
    order/partitioning-insensitive.

    Overflow safety (why the two stages, and why TWO guards): a scaled
    value is |x|·10^s. The per-row guard bounds each |scaled| below
    2^63-1, but a per-(keys, partition) long partial over many
    guard-passing rows can still wrap int64 silently in non-ANSI mode
    (two 8e18-scaled rows suffice). So the partial aggregate also
    computes, per group, ``count(v)`` and ``max(abs(scaled(v)))`` —
    both overflow-free — and the final stage asserts
    ``count * max_abs <= 2^63-1`` in decimal(38,0) arithmetic BEFORE
    consuming the partial sum: |sum| <= count·max, so a passing check
    proves the long accumulation never wrapped, and a failing one
    raises loudly instead of corrupting the result (the check never
    trusts the possibly-wrapped sum itself). The FINAL fold is
    decimal(38,0), so any number of partitions/keys is safe.

    ``value_cols`` maps output name → input Column. Trade-off vs
    decimal_sum: one extra (tiny, post-combine) shuffle stage — worth it
    only when the aggregate itself dominates, e.g. wide TPC-H-q1-style
    scans; measure before swapping (equal work at sf0.1: 1.71 s vs
    1.93 s for decimal, CHANGELOG Round 5; the r10–r17 face-off table
    in CHANGELOG has the later rounds).
    """
    # the scaled-long cast WRAPS silently on overflow in non-ANSI mode
    # (1e14 at scale 6 came back as 7.7e18 garbage, measured) — guard
    # per row so an out-of-envelope value fails loudly instead of
    # corrupting the sum. Partial-sum overflow is guarded separately
    # below via the count·max bound.
    max_abs = (2**63 - 1) // 10**scale

    def scaled_col(c: Column) -> Column:
        dec = c.cast(f"decimal({precision},{scale})")
        checked = F.when(
            F.assert_true(
                (dec.isNull()) | (F.abs(dec) <= F.lit(max_abs)),
                f"fixed_point_group_sum: |value| exceeds {max_abs} "
                f"(the long-representable bound at scale {scale}) — "
                "use decimal_sum for this column",
            ).isNull(),
            dec,
        )
        return (checked * F.lit(10**scale)).cast("long")

    # materialize the scaled longs in a Project BELOW the aggregate: the
    # three accumulators per value (sum/count/max) must read ONE per-row
    # evaluation of the decimal-cast+guard chain — as separate aggregate
    # input expressions they each re-evaluate it, which erased the
    # primitive-long win (measured: 4-col q1 shape went 1.4 s → 2.0 s
    # before this hoist, back to ~1.2 s with it)
    scaled = df.select(
        *key_cols,
        F.spark_partition_id().alias("__pid"),
        *[scaled_col(c).alias(f"__fx_{n}") for n, c in value_cols.items()],
    )
    names = list(value_cols)
    partials = scaled.groupBy(*key_cols, "__pid").agg(
        *[F.sum(f"__fx_{n}").alias(f"__{n}") for n in names],
        # count + max(|scaled|) per partial group: both accumulate
        # overflow-free, and |partial sum| <= count·max, so they let the
        # final stage PROVE the long partial never wrapped (the wrapped
        # sum itself cannot be used to detect its own overflow)
        *[F.count(f"__fx_{n}").alias(f"__cnt_{n}") for n in names],
        *[F.max(F.abs(F.col(f"__fx_{n}"))).alias(f"__max_{n}") for n in names],
    )

    def checked_partial(n: str) -> Column:
        bound_ok = F.coalesce(
            (
                F.col(f"__cnt_{n}").cast("decimal(38,0)")
                * F.col(f"__max_{n}").cast("decimal(38,0)")
            )
            <= F.lit(2**63 - 1).cast("decimal(38,0)"),
            F.lit(True),  # all-null partial: nothing accumulated
        )
        return F.when(
            F.assert_true(
                bound_ok,
                f"fixed_point_group_sum: a per-partition partial for "
                f"'{n}' may exceed the int64 range (count*max_abs over "
                f"2^63-1) — use decimal_sum for this column",
            ).isNull(),
            F.col(f"__{n}"),
        )

    return partials.groupBy(*key_cols).agg(
        *[
            F.round(
                (
                    F.sum(checked_partial(n).cast("decimal(38,0)"))
                    / F.lit(10**scale)
                ).cast(f"decimal(38,{scale})"),
                6,
            )
            .cast("double")
            .alias(n)
            for n in names
        ]
    )


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Global top-k. ``ORDER BY + LIMIT`` lets Spark run a TakeOrdered /
    per-partition partial top-k instead of a full sort — O(n log k) per
    partition, tiny shuffle. ``order_cols`` must be a total order."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k rows per group via row_number (one shuffle on the group key).
    ``order_cols`` must include a unique tiebreaker for determinism."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def partial_rollup(
    events: DataFrame,
    ts_col: str,
    grain: str,
    keys: list[str],
    value_col: str,
    scale: int = 6,
    precision: int = 22,
) -> DataFrame:
    """Mergeable partial aggregate at a time grain: per (window, keys)
    COUNT plus an EXACT decimal SUM. Counts and decimal sums form a
    commutative monoid — merging two partials is just re-summing — which
    is what makes incremental aggregate maintenance (the
    continuous-aggregate / hypertable-rollup pattern) correct: late or
    new rows aggregate on their own and fold into the stored rollup
    without rescanning history. Keeping the sum in DECIMAL until
    :func:`finalize_rollup` is what preserves exactness across the merge
    (a rounded double partial would drift under re-aggregation)."""
    return (
        events.select(
            F.date_trunc(grain, F.col(ts_col)).alias("window_start"),
            *keys,
            F.col(value_col).cast(f"decimal({precision},{scale})").alias("_v"),
        )
        .groupBy("window_start", *keys)
        .agg(F.count("*").alias("n_events"), F.sum("_v").alias("_sum_v"))
    )


def merge_rollups(*parts: DataFrame) -> DataFrame:
    """Fold any number of partial rollups (same schema) into one: union +
    re-sum. ONE shuffle on the rollup key regardless of how many partials
    are merged; partial aggregation runs map-side on each input."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    keys = [c for c in merged.columns if c not in ("n_events", "_sum_v")]
    return merged.groupBy(*keys).agg(
        F.sum("n_events").alias("n_events"), F.sum("_sum_v").alias("_sum_v")
    )


def finalize_rollup(rollup: DataFrame, out_col: str = "sum_value") -> DataFrame:
    """Decimal partial → presentation double (round-then-cast, the same
    single-rounding contract as :func:`decimal_sum`)."""
    return rollup.withColumn(
        out_col, (F.round(F.col("_sum_v"), 6).cast("double") + F.lit(0.0))
    ).drop("_sum_v")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: salt the (large, skewed) left side with a
    random shard id and replicate each right-side row across all
    ``n_salts`` shards, turning one hot key's single overloaded reducer
    into ``n_salts`` parallel ones. Row-for-row identical to the plain
    join — salting only re-partitions the work.

    AQE's skew-join handles the common case automatically at runtime;
    the explicit form matters when the skew is known ahead of time, when
    the join sits under an operator AQE won't split (e.g. a following
    window on the same key), or on engines/configs without AQE. Costs:
    the right side shuffles ``n_salts``× its size — use it when the right
    side is far smaller than the hot key's row count but too big to
    broadcast. ``how`` supports inner/left_semi-style joins where
    replication cannot duplicate unmatched-left semantics; outer joins
    would need a different construction (unmatched rows appear once per
    salt) and are rejected.
    """
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(f"salted_join supports inner/semi joins, got {how!r}")
    salt = (F.rand(seed=42) * n_salts).cast("int")
    salted_left = left.withColumn("__salt", salt)
    salted_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    out = salted_left.join(salted_right, [*key_cols, "__salt"], how)
    return out.drop("__salt")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """MERGE-INTO emulation on plain DataFrames: source rows REPLACE
    matching target rows (whole-row update), unmatched source rows
    INSERT, unmatched target rows survive — the upsert every
    snapshot-maintenance pipeline needs without a table format.

    Plan: ``source ∪ (target LEFT ANTI source on keys)`` — one anti
    equi-join plus a union, no window, no full outer join. Both sides
    shuffle on the key once; when the source is a small delta (the
    common case) AQE broadcasts it and the target never shuffles at
    all. At lake scale the same shape becomes a partition-overwrite:
    restrict target to the partitions the source touches, merge, and
    rewrite only those partitions.

    ``source`` must be unique per key (pre-aggregate if not — with
    duplicate keys every copy would insert). Column sets must match;
    ``unionByName`` enforces it.
    """
    survivors = target.join(
        source.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return source.unionByName(survivors)


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: each change event for a
    key becomes a validity interval ``[valid_from, valid_to)`` where
    ``valid_to`` is the key's NEXT change (NULL = current row) — the
    standard warehouse pattern for as-of attribute lookup (pairs with
    :func:`..operators.temporal.asof_join` on the read side).

    One window per key ordered by the change timestamp (single shuffle);
    ``is_current`` marks each key's open row. Ties on ``ts_col`` within
    a key are ordered by the attribute columns to stay deterministic —
    callers with true duplicate change-times should pre-dedup.
    """
    w = Window.partitionBy(*key_cols).orderBy("valid_from", *attr_cols)
    return df.select(
        *key_cols,
        F.col(ts_col).alias("valid_from"),
        *attr_cols,
    ).withColumn("valid_to", F.lead("valid_from").over(w)).withColumn(
        "is_current", F.col("valid_to").isNull()
    )


def grouped_ols(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    y_scale: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) with
    cross-engine-exact moments: ``(keys..., n, slope, intercept, r2)``.

    ``x_col`` must be integral (e.g. epoch-day); ``y_col`` is double,
    quantized to ``y_scale`` decimals (exact decimal cast → scaled
    integer). ALL five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate in
    DECIMAL — exact integers, order-insensitive and identical in any
    engine. (The first four previously accumulated in BIGINT, which
    non-ANSI Spark WRAPS silently on overflow: a group of ~1e10-scale
    integral x·y products returned garbage or a masked NULL slope far
    below the documented envelope. DECIMAL(38,0) sums NULL loudly-ish
    on overflow instead — the same contract Σy² always had.) Only the
    final slope/intercept/r² divisions run in double (single
    operations on exact operands, deterministic), then round to 6.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the n·Σxy combination
    is formed in DECIMAL(38,0) (it overflows BIGINT at ~1e18).

    Magnitude bound (overflow contract): every moment lives in
    DECIMAL(38,0), and non-ANSI Spark NULLs a decimal sum on overflow
    instead of raising — the caller must keep
    ``n · (|y|·10^y_scale)² < 10^38``, i.e. at the default y_scale=6
    ``|y| < 10^13 / sqrt(n)`` (|y| up to ~10^10 for a billion-row
    group), and ``n · |x·y_scaled| < 10^38`` likewise. Beyond it Spark
    returns NULL while an engine with wider integers (e.g. DuckDB's
    128-bit HUGEINT) still returns a value — a cross-engine
    divergence, not just a missing stat. Same class of guard as
    fixed_point_group_sum documents for its partial sums.
    Degenerate groups (single point / constant x) emit NULL slope — a
    LEAST-squares line does not exist there; surfacing NULL beats a
    fabricated 0. r² = num² / (denx·deny) computed in double; NULL when
    y is constant (deny = 0).

    Scale design: ONE map-side projection (quantize + products) and ONE
    hash aggregate with map-side combine per group — the same shape as
    q1; no window, no second pass. The regression of 100 TB of
    (key, x, y) facts costs one shuffle of five numbers per group.
    """
    y_dec = F.col(y_col).cast(f"decimal(22,{y_scale})")
    y_s = (y_dec * F.lit(10**y_scale)).cast("decimal(20,0)").cast("long")
    x = F.col(x_col).cast("long")
    # products and sums in DECIMAL, not BIGINT: long multiplication
    # WRAPS silently under the engine's non-ANSI config (x·y_s ≈ 2e21
    # returned wrapped garbage that masqueraded as a degenerate group)
    xd = x.cast("decimal(19,0)")
    yd = y_s.cast("decimal(19,0)")
    proj = df.select(
        *key_cols,
        xd.alias("__x"),
        yd.alias("__y"),
        (xd * yd).alias("__xy"),
        (xd * xd).alias("__xx"),
        (yd * yd).alias("__yy"),
    )
    agg = proj.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum("__xy").alias("__sxy"),
        F.sum("__xx").alias("__sxx"),
        F.sum("__yy").alias("__syy"),
    )
    d38 = "decimal(38,0)"
    n_d = F.col("n").cast(d38)
    num = (n_d * F.col("__sxy").cast(d38) - F.col("__sx").cast(d38) * F.col("__sy").cast(d38)).cast("double")
    denx = (n_d * F.col("__sxx").cast(d38) - F.col("__sx").cast(d38) * F.col("__sx").cast(d38)).cast("double")
    deny = (n_d * F.col("__syy") - F.col("__sy").cast(d38) * F.col("__sy").cast(d38)).cast("double")
    unscale = F.lit(float(10**y_scale))
    slope = F.when(denx > 0, F.col("__num") / F.col("__denx") / unscale)
    mean_x = F.col("__sx").cast("double") / F.col("n").cast("double")
    mean_y = F.col("__sy").cast("double") / F.col("n").cast("double") / unscale
    r2 = F.when(
        (F.col("__denx") > 0) & (F.col("__deny") > 0),
        F.col("__num") * F.col("__num") / (F.col("__denx") * F.col("__deny")),
    )
    return (
        agg.withColumn("__num", num)
        .withColumn("__denx", denx)
        .withColumn("__deny", deny)
        .withColumn("__slope", slope)
        .select(
            *key_cols,
            "n",
            (F.round(F.col("__slope"), 6) + F.lit(0.0)).alias("slope"),
            (
                F.round(mean_y - F.col("__slope") * mean_x, 6) + F.lit(0.0)
            ).alias("intercept"),
            (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
        )
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_buckets: int = 32,
    bucket_key: Column | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated by any other —
    minimize ``x_col``, maximize ``y_col``; p' dominates p when
    ``p'.x <= p.x and p'.y >= p.y`` with at least one strict.

    The 2-D skyline is a sort problem, not a quadratic join. Any
    dominator with ``y' > y`` has ``x' <= x``, so it is visible to the
    running RANGE maximum ``M_le = max(y) over (order by x, <= current
    x incl. peers)``: ``M_le > y`` flags it. The only other dominators
    have ``y' == y`` exactly and strictly smaller x — flagged by
    ``min(x) over (partition by y) < x``. (A strict-less-than-x RANGE
    frame is NOT expressible — ``-1 PRECEDING`` means ``x' <= x-1`` on
    continuous values — hence the same-y second window instead.)
    Duplicate ``(x, y)`` rows do not dominate each other and all
    survive, matching the set definition.

    A global x-ordering is a single-partition window — a scale-killer.
    Skylines decompose: ``sky(A ∪ B) = sky(sky(A) ∪ sky(B))``, so phase
    1 computes the local skyline inside ``n_buckets`` hash buckets
    (parallel windows, partitioned), and phase 2 re-runs the same
    windows globally over the survivors — a frontier-sized frame (the
    frontier of n points is typically O(log n) under independence;
    adversarial inputs degrade phase 2, not correctness). The output is
    identical to the one-pass global skyline — the DuckDB oracle checks
    with the single global formulation.
    """
    if bucket_key is None:
        bucket_key = F.pmod(F.xxhash64(F.col(x_col), F.col(y_col)), F.lit(n_buckets))

    def _skyline(frame: DataFrame, part_cols: list[str]) -> DataFrame:
        w_le = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(x_col))
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_same_y = Window.partitionBy(*part_cols, y_col)
        m_le = F.max(F.col(y_col)).over(w_le)
        min_x_same_y = F.min(F.col(x_col)).over(w_same_y)
        dominated = (m_le > F.col(y_col)) | (min_x_same_y < F.col(x_col))
        return frame.withColumn("__dom", dominated).filter(~F.col("__dom")).drop("__dom")

    local = _skyline(df.withColumn("__b", bucket_key), ["__b"]).drop("__b")
    return _skyline(local, [])


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style snapshot diff: one row per key that changed between two
    snapshots — ``change = 'added' | 'removed' | 'changed'`` plus both
    sides' compared payloads (NULL on the absent side). Unchanged keys
    are dropped. ``old``/``new`` must be unique per key (pre-aggregate
    otherwise — diffing multisets is a different operator).

    Plan: ONE full outer equi-join on the key; the change class falls
    out of null-ness of the two sides' presence flags and a struct
    comparison of the compared payloads (JVM-side struct equality —
    null-safe via <=>). At 100 TB this is the canonical reconciliation
    shape: both snapshots shuffle once on the key; no window, no
    collect. For repeated diffing of bucketed lake tables, write both
    sides with sources.sinks.write_bucketed_table on the key and the
    join plans with zero Exchange.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c not in key_cols
    ]
    o = old.select(
        *key_cols,
        F.lit(True).alias("__in_old"),
        F.struct(*compare_cols).alias("__old_payload"),
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("__in_new"),
        F.struct(*compare_cols).alias("__new_payload"),
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("__old_payload").eqNullSafe(F.col("__new_payload")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *key_cols,
            "change",
            *[
                F.col(f"__old_payload.{c}").alias(f"old_{c}")
                for c in compare_cols
            ],
            *[
                F.col(f"__new_payload.{c}").alias(f"new_{c}")
                for c in compare_cols
            ],
        )
    )


def quality_checks(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    foreign_keys: list[tuple[list[str], DataFrame, list[str]]] | None = None,
) -> DataFrame:
    """Declarative data-quality audit (the dbt-tests / Deequ shape):
    one output row per check — ``(check, violations)`` — computed in as
    few passes as Spark can fuse:

    - ``not_null`` columns and ``ranges`` (inclusive bounds) fold into
      ONE aggregate over a single scan (conditional counts). NULL is
      not a range violation — per the dbt/Deequ convention, only a
      non-NULL value outside the bounds fails ``ranges``; request
      ``not_null`` on the same column to count the NULLs (each row then
      fails at most one of the two checks, never both);
    - each ``unique`` key list is one hash aggregate (count keys seen
      more than once — the duplicate-KEY count, not the row excess);
    - each ``foreign_keys`` entry ``(cols, dim_df, dim_cols)`` is a
      left-anti join counting orphan fact rows (broadcast when the dim
      is small — AQE decides).

    Returns a DataFrame so the audit composes (union audits of many
    tables, write to a lake, alert on ``violations > 0``) instead of
    collecting booleans into the driver.
    """
    checks: list[DataFrame] = []
    single_pass: list[F.Column] = []
    # coalesce: F.sum over ZERO rows is NULL — an empty (healthy)
    # table must audit as 0 violations, not a NULL that fails
    # `violations == 0` consumers and confuses `violations > 0` alerts
    for c in not_null or []:
        single_pass.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0).cast("long")
            ).alias(f"not_null:{c}")
        )
    for c, (lo, hi) in (ranges or {}).items():
        # NULL comparison yields NULL → casts to NULL → sum() skips it:
        # NULLs are not range violations (they belong to not_null above)
        bad = ~F.col(c).between(F.lit(lo), F.lit(hi))
        single_pass.append(
            F.coalesce(
                F.sum(bad.cast("long")), F.lit(0).cast("long")
            ).alias(f"range:{c}")
        )
    if single_pass:
        wide = df.agg(*single_pass)
        checks.append(
            wide.unpivot([], wide.columns, "check", "violations")
        )
    for key in unique or []:
        checks.append(
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(
                F.lit("unique:" + ",".join(key)).alias("check"),
                # count over zero rows is 0, never NULL — no coalesce
                F.count(F.lit(1)).alias("violations"),
            )
        )
    for cols, dim, dim_cols in foreign_keys or []:
        orphan = df.join(
            dim.select(
                *[F.col(dc).alias(c) for c, dc in zip(cols, dim_cols)]
            ).distinct(),
            cols,
            "left_anti",
        )
        checks.append(
            orphan.agg(
                F.lit("fk:" + ",".join(cols)).alias("check"),
                F.count(F.lit(1)).alias("violations"),
            )
        )
    if not checks:
        raise ValueError("quality_checks: no checks requested")
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
