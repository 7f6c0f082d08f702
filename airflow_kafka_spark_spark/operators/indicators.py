"""Technical indicators W1-W10 (SURVEY.md §2.6) as executor-side transforms.

Semantics are the reference's exactly (spark/stock_analysis.py:166-191):
per-key series ordered by date, pandas ``rolling(N)`` min_periods NULLs,
the RSI loss==0→0 quirk, ``ewm(adjust=False)`` MACD. Execution is native:

- MA5/MA20/RSI: pure Window functions — whole-stage codegen, one hash
  shuffle on the key.
- EMA/MACD: partition-sorted ``mapInArrow`` (runs on executors), one
  Python call per Arrow batch rather than per group. Arrow-native rather
  than pandas: the kernel touches exactly one column (close → float64
  numpy, zero-copy) and appends three arrays — no per-group pandas
  DataFrame materialization, which profiling showed costs ~6× the math
  itself at 100k rows. Because the Window step already hash-partitioned
  and sorted the data by the same key, Catalyst satisfies the kernel's
  repartition and sort without a second shuffle.

At 100 TB the only state is per-key and per-partition; keys (symbols /
users) are hash-distributed across executors, so the plan scales linearly
with key cardinality. Skewed keys (one symbol with a giant history) are
bounded by history length, not data volume.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.windows import (
    diff_1,
    gain_loss,
    rolling_mean,
    rsi_from_avgs,
    series_window,
)

MACD_FIELDS = [
    T.StructField("macd_line", T.DoubleType()),
    T.StructField("macd_signal", T.DoubleType()),
    T.StructField("macd_histogram", T.DoubleType()),
]


def with_moving_averages(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
) -> DataFrame:
    """W1/W2: ma5 + ma20 (spark/stock_analysis.py:173-174)."""
    w = series_window(key_cols, order_cols)
    c = F.col(close_col)
    return df.withColumn("ma5", rolling_mean(c, w, 5)).withColumn(
        "ma20", rolling_mean(c, w, 20)
    )


def with_rsi(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
    period: int = 14,
) -> DataFrame:
    """W3-W6: RSI over a simple (Cutler's) rolling mean of gains/losses
    (spark/stock_analysis.py:177-183), including the loss==0 ⇒ RSI=0 quirk."""
    w = series_window(key_cols, order_cols)
    delta = diff_1(F.col(close_col), w)
    gain, loss = gain_loss(delta)
    avg_gain = rolling_mean(gain, w, period)
    avg_loss = rolling_mean(loss, w, period)
    return df.withColumn("rsi", rsi_from_avgs(avg_gain, avg_loss))


def with_macd(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """W7-W10: MACD line / signal / histogram via partition-sorted
    ``mapInArrow`` with cross-batch state carry
    (spark/stock_analysis.py:186-191 semantics, unchanged).

    The previous shape was ``groupBy(key).applyInArrow`` — correct, but
    ``FlatMapGroupsInArrowExec`` invokes the Python function ONCE PER
    GROUP, so at large key counts the per-group invocation overhead
    (not the math) dominates (guide §4: r16 identity-kernel A/B
    measured ~0.4 s of pure per-group overhead over 1500 groups at
    sf0.1; at 10^6+ keys it scales with keys). This form instead
    repartitions by key, sorts within partitions by (key, order) and
    streams WHOLE Arrow batches through one kernel invocation each:
    contiguous key runs are segmented vectorized (null keys compare
    equal, matching groupBy), and a group spanning batch boundaries
    continues through the carried full recurrence state
    (:func:`..functions.ema.macd_recurrence_state` — value,
    have-state, pending NaN-gap weight per EMA), bit-identical to
    one-shot by construction and pinned by test at
    maxRecordsPerBatch=37.

    The explicit repartition keeps the operator correct standalone (a
    key split across partitions would silently restart its EMA);
    under ``with_indicators`` the Window stage already established the
    same hash partitioning and (key, order) sort, and Catalyst
    collapses both the repartition and the sort (verified: exchange
    count unchanged at sf0.1, r17).

    Null ORDER keys now sort nulls-first (Spark sort default, same as
    the ma/rsi Windows) where the old pyarrow ``sort_by`` placed them
    last — the two indicator families previously disagreed on
    null-order rows; no declared query or fixture carries null order
    keys. A float NaN KEY raises ``ValueError`` naming the column:
    Arrow's NaN != NaN would segment it per row and silently restart
    the EMA where groupBy pools NaN keys — keys are ids/symbols by
    contract."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.ema import macd_recurrence_state

    out_schema = T.StructType(list(df.schema.fields) + MACD_FIELDS)
    cols = df.columns
    k_idx = [cols.index(c) for c in key_cols]
    c_idx = cols.index(close_col)
    float_keys = [
        (cols.index(c), c)
        for c in key_cols
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType))
    ]

    df = df.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *(list(key_cols) + list(order_cols))
    )

    def kernel(batches):
        cur_key = st = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            for i, name in float_keys:
                if pc.any(pc.is_nan(batch.column(i))).as_py():
                    raise ValueError(
                        f"with_macd: NaN in key column {name!r}; NaN keys "
                        "are outside the contract (NULL keys are one group)"
                    )
            close = np.asarray(
                batch.column(c_idx).to_numpy(zero_copy_only=False),
                dtype=np.float64,
            )
            # segment starts: rows whose key differs from the previous
            # row (vectorized; nulls compare EQUAL so null keys stay
            # one group, as groupBy treats them)
            change = np.zeros(n, dtype=bool)
            if n > 1:
                for i in k_idx:
                    col = batch.column(i)
                    head, tail = col.slice(0, n - 1), col.slice(1)
                    neq = pc.fill_null(pc.not_equal(tail, head), False)
                    one_null = pc.xor(pc.is_null(tail), pc.is_null(head))
                    change[1:] |= pc.or_(neq, one_null).to_numpy(
                        zero_copy_only=False
                    )
            bounds = np.concatenate([[0], np.flatnonzero(change), [n]])
            line_out = np.empty(n, dtype=np.float64)
            sig_out = np.empty(n, dtype=np.float64)
            for s, e in zip(bounds[:-1], bounds[1:]):
                key = tuple(batch.column(i)[int(s)].as_py() for i in k_idx)
                if key != cur_key:
                    st, cur_key = None, key
                (_, _, line, sg), st = macd_recurrence_state(
                    close[s:e], fast, slow, signal, st
                )
                line_out[s:e], sig_out[s:e] = line, sg
            hist = line_out - sig_out
            for name, arr in (
                ("macd_line", line_out),
                ("macd_signal", sig_out),
                ("macd_histogram", hist),
            ):
                # from_pandas=True: NaN → null, matching the pandas-path
                # semantics (DoubleType NULL, not NaN, for undefined rows)
                batch = batch.append_column(
                    name, pa.array(arr, type=pa.float64(), from_pandas=True)
                )
            yield batch

    return df.mapInArrow(kernel, out_schema)


def with_indicators(
    df: DataFrame,
    key_cols: Iterable[str] = ("symbol",),
    order_cols: Iterable[str] = ("date",),
    close_col: str = "close",
) -> DataFrame:
    """Full W1-W10 stack in one pass: Window indicators first (one shuffle
    on the key), then the partition-sorted ``mapInArrow`` MACD kernel
    reusing that partitioning and sort."""
    key_cols, order_cols = list(key_cols), list(order_cols)
    df = with_moving_averages(df, key_cols, order_cols, close_col)
    df = with_rsi(df, key_cols, order_cols, close_col)
    df = with_macd(df, key_cols, order_cols, close_col)
    return df
