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

A key's series may span Arrow batches. Each batch goes through
:func:`resume_runs`, the one resumable step, which folds every key run
from a carry: the key's row count, its MACD recurrence state and its
last 19 closes with their validity (enough for MA20 and the RSI's
gains). The kernel hands the trailing key's carry to the next batch, so
memory is one batch plus that tail and the result does not depend on
``maxRecordsPerBatch``. The delta feed (``streaming.stateful``) folds
its micro-batches through the same step.

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

from ..functions.ema import macd_recurrence_state

MA_PERIODS = (5, 20)
RSI_PERIOD = 14
# closes a key carries across a boundary: MA20's 19 lags, and the RSI's
# 14 gains, whose oldest delta reads one close further back
N_TAIL = max(max(MA_PERIODS) - 1, RSI_PERIOD)
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
    and resumes a key that spans batches through :func:`resume_runs`
    from the carried recurrence state
    (:func:`..functions.ema.macd_recurrence_state` — value, have-state,
    pending NaN-gap weight per EMA), bit-identical to a one-shot run."""
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


def resume_runs(
    x: np.ndarray, ok: np.ndarray, bounds, carries, ma=False, rsi=False, macd=False
) -> tuple[list, tuple, list]:
    """The one resumable indicator step: fold each key run of a sorted
    series from its carry, and return each run's next carry.

    ``x``/``ok``: the closes (float64, NULL as NaN) and their validity,
    sorted by (key, order). ``bounds``: the run starts, then ``len(x)``.
    ``carries``: per run ``None`` (a key's first rows) or ``(n_rows,
    macd_state, tail_x, tail_ok)``: the key's rows so far, its
    :func:`..functions.ema.macd_recurrence_state` triple (``None`` while
    no pass asked for MACD) and, for ``ma``/``rsi``, its last ≤ ``N_TAIL``
    closes with their validity (else ``()``). Returns the ``(values,
    valid)`` pairs of ma5, ma20 (``ma``) and rsi (``rsi``), the four MACD
    arrays (``()`` unless ``macd``) and the new carries, whose counts and
    states are Python scalars, as a state store needs. Folding chunk by
    chunk gives the bits of one call over the whole series."""
    edges = np.asarray(bounds).tolist()
    lens = np.diff(edges).tolist()
    seen = [0 if c is None else c[0] for c in carries]
    total = [n + m for n, m in zip(seen, lens)]
    windows, tails = [], [((), ())] * len(lens)
    if ma or rsi:
        # rows since the key's first row, the carried ones included
        pos = np.arange(len(x)) - np.repeat(np.subtract(edges[:-1], seen), lens)
        # each run resumes behind its carried tail, inserted before it
        tail = [((), ()) if c is None else c[2:] for c in carries]
        at = np.repeat(np.array(edges[:-1], np.intp), [len(t) for t, _ in tail])

        def resumed(a, pieces):
            return np.insert(a, at, np.concatenate([(), *pieces]))

        x_e = resumed(x, [t for t, _ in tail])
        ok_e = resumed(ok, [m for _, m in tail])
        pos_e = resumed(
            pos, [n - len(t) + np.arange(len(t)) for n, (t, _) in zip(seen, tail)]
        )
        keep = resumed(np.ones(len(x), bool), [np.zeros(len(t)) for t, _ in tail])
        # IEEE results by contract (inf/NaN closes, sums past 1e308)
        with np.errstate(all="ignore"):
            out = [_rolling_mean(x_e, ok_e, pos_e, p) for p in MA_PERIODS] if ma else []
            out += [_rsi(x_e, ok_e, pos_e)] if rsi else []
        windows = [(v[keep], m[keep]) for v, m in out]
        # the next tail: the run's last N_TAIL closes, carried ones included
        ends = np.flatnonzero(keep)[np.array(edges[1:], np.intp) - 1] + 1
        firsts = ends - np.minimum(N_TAIL, total)
        tails = [
            (x_e[a:b].copy(), ok_e[a:b].copy())
            for a, b in zip(firsts.tolist(), ends.tolist())
        ]
    states = [None if c is None else c[1] for c in carries]
    cols = ()
    if macd:
        cols = np.empty((4, len(x)))
        for j, (s, e) in enumerate(zip(edges, edges[1:])):
            cols[:, s:e], states[j] = macd_recurrence_state(x[s:e], states[j])
    new = [(n, st, *tail) for n, st, tail in zip(total, states, tails)]
    return windows, tuple(cols), new


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
    df = df.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *(list(key_cols) + list(order_cols))
    )

    def kernel(batches):
        key = carry = None  # the trailing key and its carry
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
            first = tuple(batch.column(i)[0].as_py() for i in k_idx)
            carries = [carry if first == key else None] + [None] * (len(bounds) - 2)
            windows, cols, new = resume_runs(x, ok, bounds, carries, ma, rsi, macd)
            # explicit mask: NULL where undefined, NaN stays NaN
            arrays = [pa.array(v, type=pa.float64(), mask=~m) for v, m in windows]
            if macd:
                _, _, line, sig = cols
                # from_pandas=True: NaN → NULL (DoubleType NULL, not NaN,
                # for undefined rows)
                with np.errstate(all="ignore"):  # inf - inf is NaN
                    hist = line - sig
                arrays += [
                    pa.array(arr, type=pa.float64(), from_pandas=True)
                    for arr in (line, sig, hist)
                ]
            key = tuple(batch.column(i)[n - 1].as_py() for i in k_idx)
            carry = new[-1]
            for f, arr in zip(new_fields, arrays):
                batch = batch.append_column(f.name, arr)
            yield batch

    return df.mapInArrow(kernel, out_schema)
