"""Golden tests (SURVEY.md §5.2.2-5.2.3): the engine's native indicator
stack must reproduce the reference's exact pandas formulae
(reference spark/stock_analysis.py:166-224) — rolling min_periods NULLs,
the RSI loss==0→0 quirk, ewm(adjust=False) MACD, first-match-wins
np.select cascade — on per-symbol series covering every warm-up edge."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from airflow_kafka_spark_spark.operators.indicators import with_indicators
from airflow_kafka_spark_spark.operators.signals import (
    DEFAULT_REASON,
    DEFAULT_SUGGESTION,
    REASONS,
    SUGGESTIONS,
    with_suggestion,
)
from airflow_kafka_spark_spark.sources.fixtures import synthetic_quotes_pdf


def reference_indicators(symbol_df: pd.DataFrame) -> pd.DataFrame:
    """The reference's exact per-symbol math (spark/stock_analysis.py
    :173-224), re-stated from SURVEY.md §2.6/§2.7 semantics."""
    df = symbol_df.sort_values("date").copy()
    df["ma5"] = df["close"].rolling(window=5).mean()
    df["ma20"] = df["close"].rolling(window=20).mean()
    delta = df["close"].diff()
    gain = delta.where(delta > 0, 0).rolling(window=14).mean()
    loss = -delta.where(delta < 0, 0).rolling(window=14).mean()
    rs = pd.Series(np.where(loss == 0, 0, gain / loss), index=loss.index)
    df["rsi"] = 100 - (100 / (1 + rs))
    ema12 = df["close"].ewm(span=12, adjust=False).mean()
    ema26 = df["close"].ewm(span=26, adjust=False).mean()
    df["macd_line"] = ema12 - ema26
    df["macd_signal"] = df["macd_line"].ewm(span=9, adjust=False).mean()
    df["macd_histogram"] = df["macd_line"] - df["macd_signal"]
    conditions = [
        (df["ma5"] > df["ma20"]) & (df["rsi"] < 70)
        & (df["macd_line"] > df["macd_signal"]),
        (df["ma5"] > df["ma20"]) & (df["rsi"] >= 70),
        (df["ma5"] < df["ma20"]) & (df["rsi"] <= 30)
        & (df["macd_line"] > df["macd_signal"]),
        (df["ma5"] < df["ma20"]) & (df["macd_line"] <= df["macd_signal"]),
    ]
    df["suggestion"] = np.select(conditions, SUGGESTIONS, default=DEFAULT_SUGGESTION)
    df["reason"] = np.select(conditions, REASONS, default=DEFAULT_REASON)
    return df


@pytest.fixture(scope="module")
def engine_vs_reference(spark):
    pdf = synthetic_quotes_pdf()
    sdf = spark.createDataFrame(pdf)
    out = with_suggestion(with_indicators(sdf)).toPandas()
    expected = pd.concat(
        [reference_indicators(g) for _, g in pdf.groupby("symbol")]
    )
    merged = out.merge(
        expected,
        on=["symbol", "time"],
        suffixes=("", "_ref"),
        validate="one_to_one",
    )
    assert len(merged) == len(pdf)
    return merged


NUMERIC = ["ma5", "ma20", "rsi", "macd_line", "macd_signal", "macd_histogram"]


@pytest.mark.parametrize("col", NUMERIC)
def test_indicator_values(engine_vs_reference, col):
    got = engine_vs_reference[col].to_numpy(dtype=float)
    want = engine_vs_reference[f"{col}_ref"].to_numpy(dtype=float)
    assert np.allclose(got, want, rtol=1e-9, atol=1e-12, equal_nan=True), col


def test_suggestion_and_reason_exact(engine_vs_reference):
    m = engine_vs_reference
    assert (m["suggestion"] == m["suggestion_ref"]).all()
    assert (m["reason"] == m["reason_ref"]).all()


def test_warmup_nulls(engine_vs_reference):
    """Symbols shorter than a window must be NULL for that indicator;
    rsi needs 14 rows, ma20 needs 20 (pandas min_periods=window)."""
    m = engine_vs_reference
    short = m[m["symbol"] == "SYM0"]  # 3 bars
    assert short["ma5"].isna().all()
    assert short["rsi"].isna().all()
    assert short["macd_line"].notna().all()  # EMA defined from row 1
    sym13 = m[m["symbol"] == "SYM2"]  # 13 bars: never reaches 14
    assert sym13["rsi"].isna().all()
    sym14 = m[m["symbol"] == "SYM3"].sort_values("time")  # exactly 14
    assert sym14["rsi"].isna().iloc[:-1].all()
    assert not np.isnan(sym14["rsi"].iloc[-1])


def test_rsi_range_property(engine_vs_reference):
    rsi = engine_vs_reference["rsi"].dropna()
    assert ((rsi >= 0) & (rsi <= 100)).all()


def test_suggestion_domain(engine_vs_reference):
    allowed = set(SUGGESTIONS) | {DEFAULT_SUGGESTION}
    assert set(engine_vs_reference["suggestion"].unique()) <= allowed


def test_approx_aggs_within_bounds(spark):
    """approx_count_distinct (HLL++, rsd 5% default) and percentile_approx
    must land near the exact values on the fixtures."""
    from airflow_kafka_spark_spark.plans.catalog import q_approx_aggs
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    approx = {r["event_type"]: r for r in q_approx_aggs(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.5, 0.95))").alias("pcts"),
        )
        .collect()
    }
    for et, a in approx.items():
        e = exact[et]
        assert abs(a["approx_users"] - e["users"]) <= max(2, 0.1 * e["users"])
        for got, want in zip((a["value_p50"], a["value_p95"]), e["pcts"]):
            assert abs(got - want) <= 0.1 * (abs(want) + 1)
        # scalar doubles, never arrays — the driver's rows-only
        # canonicalizer crashes on list dtype (CORRECTNESS_r03)
        assert isinstance(a["value_p50"], float)
        assert isinstance(a["value_p95"], float)


def test_fixed_point_sum_equals_decimal_sum(spark):
    """The scaled-BIGINT formulation must be bit-identical to decimal_sum
    on every group — including products of columns and null values."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.relational import (
        decimal_sum,
        fixed_point_group_sum,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    # inject nulls so the ignore-null behaviour is part of the check
    li = li.withColumn(
        "price_n",
        F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(
            F.col("l_extendedprice")
        ),
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    keys = ["l_returnflag", "l_linestatus"]
    want = {
        tuple(r[k] for k in keys): r
        for r in li.groupBy(*keys)
        .agg(
            decimal_sum(F.col("price_n")).alias("s_null"),
            decimal_sum(disc).alias("s_disc"),
        )
        .collect()
    }
    got = {
        tuple(r[k] for k in keys): r
        for r in fixed_point_group_sum(
            li, keys, {"s_null": F.col("price_n"), "s_disc": disc}
        ).collect()
    }
    assert set(want) == set(got)
    for k in want:
        assert want[k]["s_null"] == got[k]["s_null"], k
        assert want[k]["s_disc"] == got[k]["s_disc"], k


def test_fixed_point_sum_rejects_out_of_envelope(spark):
    """Out-of-envelope values must FAIL, not wrap: the scaled-long cast
    silently corrupts above 2^63/10^scale in non-ANSI mode (1e14 at
    scale 6 measured as 7.7e18 garbage before the guard)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.base import PySparkException

    from airflow_kafka_spark_spark.operators.relational import (
        fixed_point_group_sum,
    )

    df = spark.createDataFrame([(1, 1.0e14)], "k int, v double")
    with pytest.raises(PySparkException, match="exceeds"):
        fixed_point_group_sum(df, ["k"], {"s": F.col("v")}).collect()


def test_fixed_point_sum_rejects_partial_overflow(spark):
    """ADVICE r4 (medium): rows that individually pass the per-row bound
    can still wrap the per-(key, partition) int64 partial — e.g. two
    8e12 values at scale 6 are 8e18 scaled each, summing past 2^63. The
    count*max_abs partial guard must raise loudly, not return garbage."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.base import PySparkException

    from airflow_kafka_spark_spark.operators.relational import (
        fixed_point_group_sum,
    )

    # single partition → both rows land in the same long partial
    df = spark.createDataFrame(
        [(1, 8.0e12), (1, 8.0e12)], "k int, v double"
    ).coalesce(1)
    with pytest.raises(PySparkException, match="int64 range"):
        fixed_point_group_sum(df, ["k"], {"s": F.col("v")}).collect()
    # and the guard is not over-eager: same magnitude, one row per key,
    # still within every bound → exact answer
    ok = spark.createDataFrame([(1, 8.0e12), (2, 8.0e12)], "k int, v double")
    rows = {
        r["k"]: r["s"]
        for r in fixed_point_group_sum(ok, ["k"], {"s": F.col("v")}).collect()
    }
    assert rows == {1: 8.0e12, 2: 8.0e12}


def test_salted_sum_partitioning_invariant(spark):
    """salted_decimal_sum must equal the unsalted decimal sum under ANY
    partitioning — F.rand(seed) is partition-dependent, so only the
    exact-decimal partial/final algebra makes the result stable."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.relational import (
        decimal_sum,
        salted_decimal_sum,
    )
    from airflow_kafka_spark_spark.sources.files import load_table

    from .conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select("l_returnflag", "l_quantity")
    want = {
        r["l_returnflag"]: r["s"]
        for r in li.groupBy("l_returnflag")
        .agg((decimal_sum("l_quantity") + F.lit(0.0)).alias("s"))
        .collect()
    }
    for nparts in (3, 17):
        got = {
            r["l_returnflag"]: r["sum_value"]
            for r in salted_decimal_sum(
                li.repartition(nparts), ["l_returnflag"], "l_quantity"
            ).collect()
        }
        assert got == want, (nparts, got, want)


def test_rollup_merge_equals_direct(spark):
    """Three-way partial-rollup merge is exactly the direct aggregate —
    the monoid property incremental maintenance relies on (decimal
    partials make it exact, not approximately-true)."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.relational import (
        decimal_sum,
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    rows = [
        (i, f"2024-01-{1 + i % 3:02d} 0{i % 9}:00:00", "t" + str(i % 2), 0.1 + i * 1e-6)
        for i in range(300)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts_s string, event_type string, value double")
    ev = ev.selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")
    parts = [
        partial_rollup(ev.filter(F.col("event_id") % 3 == k), "ts", "day", ["event_type"], "value")
        for k in range(3)
    ]
    merged = finalize_rollup(merge_rollups(*parts)).orderBy("window_start", "event_type")
    direct = (
        ev.groupBy(F.date_trunc("day", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), (decimal_sum("value") + F.lit(0.0)).alias("sum_value"))
        .orderBy("window_start", "event_type")
    )
    assert merged.select("window_start", "event_type", "n_events", "sum_value").collect() == direct.collect()


def test_salted_join_matches_plain_join(spark):
    """Salting must be a pure re-partitioning: inner and semi results
    row-identical to the unsalted join, including duplicate keys on
    both sides."""
    from airflow_kafka_spark_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (4, "w")], "k long, rv string"
    )
    got = sorted(
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, ["k"], n_salts=4).collect()
    )
    want = sorted(
        (r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()
    )
    assert got == want and len(got) == 5
    semi = sorted(
        (r["k"], r["lv"])
        for r in salted_join(left, right, ["k"], n_salts=4, how="left_semi").collect()
    )
    assert semi == sorted((r["k"], r["lv"]) for r in left.join(right, "k", "left_semi").collect())
    import pytest

    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="left_outer")


def test_with_macd_cross_batch_carry_exact(spark):
    """with_macd's mapInArrow kernel (r17) must be BIT-identical to a
    per-group one-shot macd_columns reference — with Arrow batches
    forced tiny (37 rows) so key groups span batch boundaries and the
    carried (value, have_state, pending_w) recurrence state is
    exercised, with NaN closes (including runs that straddle a batch
    boundary) and with a NULL key (one group, like groupBy)."""
    from airflow_kafka_spark_spark.functions.ema import macd_columns
    from airflow_kafka_spark_spark.operators.indicators import with_macd

    rows = []
    for uid in [None, 1, 2, 3]:
        for t in range(150):
            v = (
                None
                if (t % 7 == 3 or t % 23 == 11)
                else float((t * 13 % 97) + 0.01 * t)
            )
            rows.append((uid, t, v))
    sdf = spark.createDataFrame(rows, "user_id int, event_id int, close double")

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 37)
    try:
        got = {
            (r["user_id"], r["event_id"]): (
                r["macd_line"], r["macd_signal"], r["macd_histogram"]
            )
            for r in with_macd(sdf, ["user_id"], ["event_id"]).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert len(got) == len(rows)
    by_key: dict = {}
    for uid, t, v in rows:
        by_key.setdefault(uid, []).append((t, v))
    for uid, series in by_key.items():
        series.sort()
        closes = np.array(
            [np.nan if v is None else v for _, v in series], dtype=np.float64
        )
        line, sig, hist = macd_columns(closes)
        for j, (t, _) in enumerate(series):
            want = tuple(None if np.isnan(x) else x for x in (line[j], sig[j], hist[j]))
            assert got[(uid, t)] == want, (uid, t, got[(uid, t)], want)


def test_with_macd_rejects_nan_key(spark):
    """A float NaN key raises a named error instead of splitting its
    group per row (Arrow NaN != NaN) and silently restarting the EMA
    where groupBy would pool the rows; NULL keys stay one group."""
    from pyspark.errors import PythonException

    from airflow_kafka_spark_spark.functions.ema import macd_columns
    from airflow_kafka_spark_spark.operators.indicators import (
        with_macd,
        with_moving_averages,
        with_rsi,
    )

    closes = [float(10 + t % 7) for t in range(12)]
    schema = "k double, t int, close double"
    ok = spark.createDataFrame(
        [(k, t, c) for k in (None, 1.5) for t, c in enumerate(closes)], schema
    )
    line, _, _ = macd_columns(np.array(closes))
    for r in with_macd(ok, ["k"], ["t"]).collect():
        assert r["macd_line"] == line[r["t"]]

    bad = ok.union(spark.createDataFrame([(float("nan"), 0, 1.0)], schema))
    with pytest.raises(PythonException, match="ValueError.*NaN in key column 'k'"):
        with_macd(bad, ["k"], ["t"]).collect()
    # MA and RSI run in the same kernel and raise the same error
    for op in (with_moving_averages, with_rsi):
        with pytest.raises(PythonException, match="ValueError.*NaN in key column 'k'"):
            op(bad, ["k"], ["t"]).collect()


def _window_reference(df, key_cols, order_cols, close_col="close", period=14):
    """MA5/MA20/RSI as Spark Window lag-chains, the formulation the
    indicator kernel replaced: ``(x + lag(x,1) + … + lag(x,n-1)) / n``
    (``+`` propagates NULL, so fewer than n rows or any NULL term gives
    NULL), ``delta = x - lag(x,1)``, ``when`` gain/loss splits (a NULL
    predicate takes the ``otherwise``) and the reference's loss==0 ⇒
    rs=0 quirk."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)

    def rolling_mean(col, n):
        total = col
        for k in range(1, n):
            total = total + F.lag(col, k).over(w)
        return total / F.lit(float(n))

    c = F.col(close_col)
    delta = c - F.lag(c, 1).over(w)
    gain = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    loss = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    avg_gain, avg_loss = rolling_mean(gain, period), rolling_mean(loss, period)
    rs = F.when(avg_loss == 0, F.lit(0.0)).otherwise(avg_gain / avg_loss)
    return (
        df.withColumn("ma5", rolling_mean(c, 5))
        .withColumn("ma20", rolling_mean(c, 20))
        .withColumn("rsi", F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs)))
    )


def _bits(v):
    """A double's bit pattern (so -0.0 != 0.0); every NaN is one value
    (NaN payload bits are not part of the contract); NULL stays None."""
    import struct

    if v is None:
        return None
    return "nan" if v != v else struct.pack("<d", v).hex()


@pytest.mark.parametrize("batch_rows", [1, 37, None])
def test_indicator_kernel_matches_window_reference(spark, batch_rows):
    """The one kernel of with_indicators is BIT-identical to the Window
    lag-chain reference on ma5/ma20/rsi and to per-key one-shot
    macd_columns on the MACD triple, whatever the Arrow batch size: keys
    of 1, 2, 13-15, 19-21 and more rows, a NULL key, and NULL, NaN and
    ±inf closes, including NULL/NaN runs that straddle batch
    boundaries."""
    from airflow_kafka_spark_spark.functions.ema import macd_columns

    specials = [None, float("nan"), float("inf"), float("-inf")]
    rows = []
    sizes = [1, 2, 13, 14, 15, 19, 20, 21, 45, 80]
    for k, size in enumerate(sizes + [33]):
        key = None if k == len(sizes) else k
        for t in range(size):
            h = (k * 7919 + t * 104729) % 1009
            if size >= 45 and 30 <= t < 36:  # a run of NULL, NaN, ±inf
                v = specials[(t + k) % 4]
            elif h % 11 == 0:
                v = specials[h % 4]
            else:
                v = round(10.0 + (h % 97) * 0.37 - (t % 5) * 1.1, 3)
            rows.append((key, t, v))
    sdf = spark.createDataFrame(rows, "k int, t int, close double")

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    if batch_rows is not None:
        spark.conf.set(conf, batch_rows)
    try:
        got = {
            (r["k"], r["t"]): tuple(_bits(r[c]) for c in NUMERIC)
            for r in with_indicators(sdf, ["k"], ["t"]).collect()
        }
    finally:
        spark.conf.set(conf, prev)
    window = {
        (r["k"], r["t"]): tuple(_bits(r[c]) for c in ("ma5", "ma20", "rsi"))
        for r in _window_reference(sdf, ["k"], ["t"]).collect()
    }

    assert len(got) == len(window) == len(rows)
    by_key: dict = {}
    for key, t, v in rows:
        by_key.setdefault(key, []).append(np.nan if v is None else v)
    for key, closes in by_key.items():
        macd = macd_columns(np.array(closes, dtype=np.float64))
        for t in range(len(closes)):
            want = window[(key, t)] + tuple(
                None if np.isnan(col[t]) else _bits(col[t]) for col in macd
            )
            assert got[(key, t)] == want, (key, t, got[(key, t)], want)
