"""Technical indicators W1-W10 (SURVEY.md §2.6) as one executor-side kernel.

Semantics are the reference's exactly (spark/stock_analysis.py:166-191):
per-key series ordered by date, pandas ``rolling(N)`` min_periods NULLs,
the RSI loss==0→0 quirk, ``ewm(adjust=False)`` MACD. Execution is one
partition-sorted ``mapInArrow`` pass: repartition by key, sort within
partitions by (key, order), and one Python call per Arrow batch rather
than per group. The kernel reads one column (close → float64 numpy,
zero-copy) and appends the requested columns:

- MA5/MA20/RSI: vectorised numpy over the whole batch. A rolling mean is
  the left-associated sum ``(x_t + x_{t-1}) + … + x_{t-n+1}`` then
  ``/ n`` — the evaluation order of the Spark lag-chain and of the DuckDB
  oracle, so every engine produces the same bits. A term before the
  key's first row, or a NULL term, makes the mean NULL (pandas
  min_periods); NaN stays NaN.
- EMA/MACD: the recurrence of :mod:`..functions.ema`, once per key run.

A key's series may span Arrow batches: the kernel carries the trailing
key's last 19 closes with their validity (enough for MA20 and the RSI's
gains) and its MACD recurrence state into the next batch, so memory is
one batch plus that tail and the result does not depend on
``maxRecordsPerBatch``.

``with_indicators`` computes all six columns in the one pass; each of
``with_moving_averages``, ``with_rsi`` and ``with_macd`` is the same
pass appending only its own columns. When the input is already
hash-partitioned on the key (a per-key dedup upstream), Catalyst drops
the kernel's repartition, so the plan keeps one Exchange.

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

MA_PERIODS = (5, 20)
RSI_PERIOD = 14
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
    return _indicator_pass(
        df, key_cols, order_cols, close_col, "with_moving_averages", ma=True
    )


def with_rsi(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
) -> DataFrame:
    """W3-W6: RSI-14 over a simple (Cutler's) rolling mean of gains/losses
    (spark/stock_analysis.py:177-183), including the loss==0 ⇒ RSI=0 quirk."""
    return _indicator_pass(
        df, key_cols, order_cols, close_col, "with_rsi", rsi=True
    )


def with_macd(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
) -> DataFrame:
    """W7-W10: MACD 12-26-9 line / signal / histogram
    (spark/stock_analysis.py:186-191 semantics), NULL where undefined.

    A ``groupBy(key).applyInArrow`` form would invoke Python once per
    group, and at large key counts that per-group overhead, not the
    math, dominates (r16: ~0.4 s of pure per-group overhead over 1500
    groups at sf0.1). The kernel instead streams whole sorted batches
    and resumes a key that spans batches from the carried recurrence
    state (:func:`..functions.ema.macd_recurrence_state` — value,
    have-state, pending NaN-gap weight per EMA), bit-identical to a
    one-shot run."""
    return _indicator_pass(
        df, key_cols, order_cols, close_col, "with_macd", macd=True
    )


def with_indicators(
    df: DataFrame,
    key_cols: Iterable[str] = ("symbol",),
    order_cols: Iterable[str] = ("date",),
    close_col: str = "close",
) -> DataFrame:
    """Full W1-W10 stack (ma5, ma20, rsi, macd_line, macd_signal,
    macd_histogram) in one kernel pass."""
    return _indicator_pass(
        df, list(key_cols), list(order_cols), close_col, "with_indicators",
        ma=True, rsi=True, macd=True,
    )


def _rolling_mean(
    x: np.ndarray, ok: np.ndarray, pos: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Left-associated n-row mean of ``x`` and its validity: valid when
    the row is at least the key's n-th (``pos`` counts rows since the
    key's first) and all n terms are valid."""
    total = x.copy()
    valid = ok & (pos >= n - 1)
    for k in range(1, n):
        total[k:] += x[:-k]
        valid[k:] &= ok[:-k]
    return total / float(n), valid


def _rsi(
    x: np.ndarray, ok: np.ndarray, pos: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """RSI-14 with Spark's semantics: a NULL delta gives gain = loss = 0.0,
    NaN > 0 is true (NaN ranks above every number), ``rs = 0.0`` where
    the average loss is 0, and a zero ``1 + rs`` divisor gives NULL."""
    delta = np.full(len(x), np.nan)
    delta[1:] = x[1:] - x[:-1]
    dok = np.zeros(len(x), dtype=bool)
    dok[1:] = ok[1:] & ok[:-1]
    dok &= pos >= 1
    gain = np.where(dok & ((delta > 0) | np.isnan(delta)), delta, 0.0)
    loss = np.where(dok & (delta < 0), -delta, 0.0)
    always = np.ones(len(x), dtype=bool)
    avg_gain, valid = _rolling_mean(gain, always, pos, RSI_PERIOD)
    avg_loss, _ = _rolling_mean(loss, always, pos, RSI_PERIOD)
    rs = np.where(avg_loss == 0, 0.0, avg_gain / avg_loss)
    denom = 1.0 + rs
    return 100.0 - 100.0 / denom, valid & (denom != 0)


def _indicator_pass(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str,
    caller: str,
    ma: bool = False,
    rsi: bool = False,
    macd: bool = False,
) -> DataFrame:
    """The one kernel: repartition by key, sort by (key, order) within
    partitions, and append ma5/ma20 (``ma``), rsi (``rsi``) and the MACD
    triple (``macd``) in that order.

    Key runs are segmented vectorised (NULL keys compare equal, so they
    are one group, as groupBy treats them). A float NaN key raises
    ``ValueError`` naming the column: Arrow's NaN != NaN would split it
    per row where groupBy pools NaN keys — keys are ids/symbols by
    contract. NULL order keys sort first (Spark's ascending default)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.ema import macd_recurrence_state

    new_fields = []
    if ma:
        new_fields += [T.StructField(f"ma{n}", T.DoubleType()) for n in MA_PERIODS]
    if rsi:
        new_fields.append(T.StructField("rsi", T.DoubleType()))
    if macd:
        new_fields += MACD_FIELDS
    out_schema = T.StructType(list(df.schema.fields) + new_fields)
    cols = df.columns
    k_idx = [cols.index(c) for c in key_cols]
    c_idx = cols.index(close_col)
    float_keys = [
        (cols.index(c), c)
        for c in key_cols
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType))
    ]
    # closes a key carries into the next batch: MA20's 19 lags, and the
    # RSI's 14 gains, whose oldest delta reads one close further back
    n_tail = max(max(MA_PERIODS) - 1, RSI_PERIOD)

    df = df.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *(list(key_cols) + list(order_cols))
    )

    def kernel(batches):
        cur_key = st = None  # the trailing key and its MACD state
        seen = 0  # rows of cur_key before this batch
        tail_x, tail_ok = np.empty(0), np.empty(0, dtype=bool)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            for i, name in float_keys:
                if pc.any(pc.is_nan(batch.column(i))).as_py():
                    raise ValueError(
                        f"{caller}: NaN in key column {name!r}; NaN keys "
                        "are outside the contract (NULL keys are one group)"
                    )
            close = batch.column(c_idx)
            x = np.asarray(close.to_numpy(zero_copy_only=False), dtype=np.float64)
            ok = close.is_valid().to_numpy(zero_copy_only=False)
            # segment starts: rows whose key differs from the previous row
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
            first_key = tuple(batch.column(i)[0].as_py() for i in k_idx)
            cont = first_key == cur_key
            # rows since the key's first row, counting earlier batches
            row = np.arange(n)
            pos = row - np.maximum.accumulate(np.where(change, row, 0))
            if cont:
                pos[: bounds[1]] += seen
                n_prev = len(tail_x)
                x_ext = np.concatenate([tail_x, x])
                ok_ext = np.concatenate([tail_ok, ok])
                pos_ext = np.concatenate([seen - n_prev + np.arange(n_prev), pos])
            else:
                n_prev, x_ext, ok_ext, pos_ext = 0, x, ok, pos

            out = []
            with np.errstate(divide="ignore", invalid="ignore"):
                if ma:
                    out += [
                        _rolling_mean(x_ext, ok_ext, pos_ext, p) for p in MA_PERIODS
                    ]
                if rsi:
                    out.append(_rsi(x_ext, ok_ext, pos_ext))
            # explicit mask: NULL where undefined, NaN stays NaN
            arrays = [
                pa.array(vals[n_prev:], type=pa.float64(), mask=~valid[n_prev:])
                for vals, valid in out
            ]

            if macd:
                line_out = np.empty(n, dtype=np.float64)
                sig_out = np.empty(n, dtype=np.float64)
                for j, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
                    if j or not cont:
                        st = None
                    (_, _, line, sg), st = macd_recurrence_state(x[s:e], st)
                    line_out[s:e], sig_out[s:e] = line, sg
                # from_pandas=True: NaN → NULL (DoubleType NULL, not NaN,
                # for undefined rows)
                arrays += [
                    pa.array(arr, type=pa.float64(), from_pandas=True)
                    for arr in (line_out, sig_out, line_out - sig_out)
                ]

            cur_key = tuple(batch.column(i)[n - 1].as_py() for i in k_idx)
            seen = int(pos[-1]) + 1
            keep = min(n_tail, seen)
            tail_x = x_ext[len(x_ext) - keep:].copy()
            tail_ok = ok_ext[len(ok_ext) - keep:].copy()
            for f, arr in zip(new_fields, arrays):
                batch = batch.append_column(f.name, arr)
            yield batch

    return df.mapInArrow(kernel, out_schema)
