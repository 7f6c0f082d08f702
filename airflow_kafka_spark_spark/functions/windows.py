"""Ordered-window building blocks (SURVEY.md §2.6 W1-W6, W11).

Reproduces pandas ``rolling(N).mean()`` semantics exactly: with the default
``min_periods=N`` the first N-1 rows are NULL (reference
spark/stock_analysis.py:173-183). The indicators use :func:`rolling_mean`, a
lag-chain sum over one WindowSpec (bit-identical to the DuckDB oracle);
:func:`rolling_mean_frame` is the guarded frame-avg variant. Both are native
Window expressions — no UDF, fully codegen'd, one hash shuffle on the
partition key shared by every window in the same plan.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def series_window(partition_cols: list[str], order_cols: list[str]) -> WindowSpec:
    """Per-key ordered window: the engine's equivalent of the reference's
    per-symbol ``sort_values('date')`` (spark/stock_analysis.py:168)."""
    return Window.partitionBy(*partition_cols).orderBy(*order_cols)


def rolling_mean(col: Column, w: WindowSpec, n: int) -> Column:
    """pandas ``col.rolling(n).mean()`` with min_periods=n (W1/W2/W5).

    Implemented as an explicit lag-chain sum ``(x + lag(x,1) + … +
    lag(x,n-1)) / n`` rather than ``avg().over(rowsBetween)``, for two
    reasons:

    1. **min_periods semantics for free**: ``+`` propagates NULL, so the
       result is NULL exactly when the frame has fewer than n rows *or*
       any value in it is NULL — precisely pandas' min_periods=n rule.
    2. **Cross-engine determinism**: left-associated addition evaluates in
       the same order in every SQL engine, so the DuckDB oracle matches
       bit-for-bit. Frame-aggregate AVG implementations (sliding sums,
       segment trees) associate differently per engine and drift in the
       last ULPs.

    All n lags share one WindowSpec, so WindowExec computes them in a
    single pass over each partition — same shuffle, same scan as the
    avg-over-frame form.
    """
    total = col
    for k in range(1, n):
        total = total + F.lag(col, k).over(w)
    return total / F.lit(float(n))


def rolling_mean_frame(col: Column, w: WindowSpec, n: int) -> Column:
    """Frame-aggregate variant (avg over ROWS BETWEEN) with an explicit
    count guard — O(1) per row instead of O(n) lags; preferred for large
    n where last-ULP cross-engine reproducibility is not required."""
    frame = w.rowsBetween(-(n - 1), 0)
    return F.when(F.count(col).over(frame) >= n, F.avg(col).over(frame))


def diff_1(col: Column, w: WindowSpec) -> Column:
    """pandas ``col.diff()`` (W3, spark/stock_analysis.py:177): value minus
    previous row's value; NULL on each partition's first row."""
    return col - F.lag(col, 1).over(w)


def gain_loss(delta: Column) -> tuple[Column, Column]:
    """Split a diff into gain / loss series (W4,
    spark/stock_analysis.py:178-179).

    pandas ``delta.where(delta > 0, 0)`` replaces on False, and NaN > 0 is
    False — so a NULL delta becomes 0, not NULL. ``F.when`` has identical
    NULL-comparison-is-false semantics, so ``otherwise(0.0)`` matches.
    ``loss`` is the negated negative part (a non-negative series).
    """
    gain = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    loss = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    return gain, loss


def rsi_from_avgs(avg_gain: Column, avg_loss: Column) -> Column:
    """RSI-14 final step with the reference's loss==0 quirk (W6,
    spark/stock_analysis.py:182-183).

    ``rs = where(loss == 0, 0, gain/loss)``: when the rolling avg loss is
    exactly 0 the reference yields rs=0 hence RSI = 100 - 100/1 = **0**
    (standard RSI would say 100). Preserved exactly for oracle parity.
    NULL avg (warm-up) propagates to NULL rsi.
    """
    rs = F.when(avg_loss == 0, F.lit(0.0)).otherwise(avg_gain / avg_loss)
    return F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs))


def last_per_key(df, key_cols: list[str], order_cols: list[Column]):
    """Latest row per key (G6, reference streamlit/app.py:127-128):
    ``row_number`` over a descending order, keep rank 1. ``order_cols``
    must be a deterministic total order (include a unique tiebreaker)."""
    w = Window.partitionBy(*key_cols).orderBy(*[c.desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
