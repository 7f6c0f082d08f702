"""Exponential moving average kernel (SURVEY.md §2.6 W7/W9).

Spark has no built-in EMA (it is an order-sensitive recursion, not a frame
aggregate). The reference computes it with pandas ``ewm(span=N,
adjust=False)`` on the driver (reference spark/stock_analysis.py:186-190);
here the identical recurrence runs on *executors*, inside the
partition-sorted ``mapInArrow`` kernel (``operators.indicators.with_macd``)
and the delta-feed state (``streaming.stateful``):

    alpha = 2 / (span + 1)
    y[0]  = x[0]
    y[t]  = alpha * x[t] + (1 - alpha) * y[t-1]

The loop is written explicitly (not pandas ``ewm``) so the floating-point
operation order — one multiply-each, one add — is bit-identical to the
DuckDB recursive-CTE oracle, which evaluates the same expression shape.
pandas ``ewm(adjust=False)`` computes the same recurrence to within 1 ULP
per step (unit-tested).

:func:`macd_recurrence_state` defines the MACD state a series carries
across a boundary (Arrow batch, micro-batch, replay chunk).
``operators.indicators.resume_runs`` is the one step that carries it:
the Arrow kernel, the delta-feed state and its replay all fold their key
runs through that step, which keeps the terminal state verbatim next to
the row count and the tail of closes the windowed indicators need.
Scale note: state is per-key and sequential *within* a key only; keys are
hash-distributed, so a 1000-executor cluster runs every key's recurrence
concurrently, Arrow-batched, with no driver involvement.
"""

from __future__ import annotations

import numpy as np


# fast, slow, signal spans (spark/stock_analysis.py:186-190)
MACD_SPANS = (12, 26, 9)


def ema_recurrence_state(
    x: np.ndarray,
    span: int,
    state: tuple[float, bool, float] | None = None,
) -> tuple[np.ndarray, tuple[float, bool, float]]:
    """Exact adjust=False EMA recurrence over a 1-D float64 array, resumed
    from ``state = (value, have_state, pending_w)`` (``None`` = fresh
    series); returns the outputs plus the terminal state. Feeding a
    series through in chunks with the carried state is bit-identical to
    one call over the whole array, including a NaN run straddling a
    chunk boundary.

    NULL (NaN) handling matches pandas ewm's DEFAULT ``ignore_na=False``
    — the reference's semantics, since it never passes ignore_na: a NaN
    row emits the previous state unchanged but still DECAYS the old
    state's weight, so the next observation counts the gap
    (``y = (β^(g+1)·y + α·x) / (β^(g+1) + α)`` after g NaNs; pandas'
    per-row weight multiply is mirrored exactly). r13 review caught the
    old kernel implementing ``ignore_na=True`` (gap ignored) while its
    docstring claimed pandas parity — confirmed divergent by execution.

    The gapless step keeps the ORIGINAL single-expression op order
    ``α·x + β·y`` (not pandas' divide-by-(w+α) form), so NaN-free series
    — every oracled fixture — are bit-identical to the DuckDB
    recursive-CTE oracle."""
    alpha = 2.0 / (span + 1.0)
    beta = 1.0 - alpha
    # Python floats, not numpy scalars: the same IEEE ops in the same
    # order (so the same bits), at a fraction of the per-element cost;
    # ``v != v`` is the NaN test
    out = []
    if state is None:
        sval = np.nan
        have_state = False
        w = 1.0  # pending old-state weight (pandas old_wt), decayed per row
    else:
        sval, have_state, w = state
    for v in np.asarray(x, dtype=np.float64).tolist():
        if not have_state:
            if v != v:
                out.append(np.nan)
                continue
            sval = v
            have_state = True
            w = 1.0
            out.append(sval)
            continue
        w *= beta  # one decay per row, observation or not (ignore_na=False)
        if v != v:
            out.append(sval)
            continue
        if w == beta:  # no gap since last observation (1.0 * beta == beta
            # exactly): the original op order, bit-identical to the oracle
            sval = alpha * v + beta * sval
        else:
            sval = (w * sval + alpha * v) / (w + alpha)
        w = 1.0
        out.append(sval)
    out = np.array(out, dtype=np.float64)
    return out, (sval, have_state, w)


def macd_recurrence_state(
    close: np.ndarray, state: tuple | None = None
) -> tuple[tuple[np.ndarray, ...], tuple]:
    """The MACD state carry: EMA(fast), EMA(slow), line = fast − slow and
    EMA(signal) of the line over ``close`` (spans ``MACD_SPANS``),
    resumed from ``state`` — a ``(fast, slow, signal)`` triple of
    :func:`ema_recurrence_state` states, any of which may be ``None``
    (``state=None`` = fresh series). Returns ``(ema_fast, ema_slow,
    line, signal_line)`` and the terminal state triple; an empty
    ``close`` returns the state unchanged."""
    fast, slow, signal = MACD_SPANS
    st_fast, st_slow, st_sig = state if state is not None else (None,) * 3
    ema_fast, st_fast = ema_recurrence_state(close, fast, st_fast)
    ema_slow, st_slow = ema_recurrence_state(close, slow, st_slow)
    with np.errstate(all="ignore"):  # inf - inf is NaN by contract
        line = ema_fast - ema_slow
    sig, st_sig = ema_recurrence_state(line, signal, st_sig)
    return (ema_fast, ema_slow, line, sig), (st_fast, st_slow, st_sig)


def macd_columns(
    close: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """MACD line / signal / histogram (W7-W10,
    spark/stock_analysis.py:186-191): EMA(fast) − EMA(slow), EMA(signal) of
    the line, and their difference. Defined from the first row (no warm-up
    NULLs — ewm adjust=False seeds with x[0])."""
    (_, _, line, sig), _ = macd_recurrence_state(close)
    with np.errstate(all="ignore"):
        return line, sig, line - sig
