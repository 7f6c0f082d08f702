"""Ordered-window building blocks (SURVEY.md §2.6, G6).

:func:`rolling_mean_frame` is the frame-aggregate rolling mean (``avg``
over a bounded ROWS frame with a count guard, so the first n-1 rows of a
key are NULL as with pandas ``rolling(n)``); :func:`last_per_key` is the
rank-1 latest-row idiom. Both are native Window expressions — no UDF,
fully codegen'd, one hash shuffle on the partition key. The indicator
stack's MA5/MA20/RSI do not use Window functions: they run in the one
partition-sorted kernel of ``operators.indicators``.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def rolling_mean_frame(col: Column, w: WindowSpec, n: int) -> Column:
    """pandas ``col.rolling(n).mean()`` (min_periods=n) as avg over ROWS
    BETWEEN with an explicit count guard — O(1) per row; frame AVG
    implementations associate differently per engine, so it is for
    results where last-ULP cross-engine reproducibility is not required."""
    frame = w.rowsBetween(-(n - 1), 0)
    return F.when(F.count(col).over(frame) >= n, F.avg(col).over(frame))


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
