"""Custom stateful streaming operator (SURVEY.md §2.10 T7 "delta-feed
mode").

The reference's stream is append-of-snapshots — every message carries a
symbol's FULL history, so indicators recompute statelessly per batch
(spark/stock_analysis.py:153-231). That design re-ships ~1,400 bars per
symbol every 30 minutes; at 100 TB the transport alone dominates. The
scalable alternative is a *delta feed*: messages carry only new bars, and
the engine carries the indicator recursion state (EMA-12/26, MACD signal)
across micro-batches with ``applyInPandasWithState``.

State is tiny and per-key — a count and, per EMA, the state triple
``functions.ema.ema_recurrence_state`` returns (value, have-state flag,
pending NaN-gap weight): ten fields (``STATE_SCHEMA``) — so a
1000-executor cluster shards it by key hash with no hotspot; the state
store checkpoints with the query, giving exactly-once state evolution on
restart. The stored triples are the carry the batch kernel
(``operators.indicators.with_macd``) passes across Arrow batches, kept
verbatim, so the continuation is *bit-exact* with the uninterrupted
series, a NaN run across a micro-batch boundary included (unit-tested in
tests/test_stateful.py). The streaming operator and the batch replay
that certifies it run one helper, :func:`_macd_batch`.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.ema import macd_recurrence_state

# n_rows, then (value, have_state, pending_w) per EMA, in the order of
# macd_recurrence_state's state triple
STATE_SCHEMA = (
    "n_rows long, "
    "ema12 double, ema12_have boolean, ema12_w double, "
    "ema26 double, ema26_have boolean, ema26_w double, "
    "macd_signal double, macd_signal_have boolean, macd_signal_w double"
)
OUTPUT_SCHEMA = (
    "symbol string, date_str string, close double, ema12 double, "
    "ema26 double, macd_line double, macd_signal double, "
    "macd_histogram double, n_rows long"
)


def _macd_batch(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    stored: Tuple[Any, ...] | None,
    order_cols: Sequence[str] = ("date_str",),
    close_col: str = "close",
) -> Tuple[pd.DataFrame, Tuple[Any, ...]]:
    """One key's micro-batch of the delta-feed MACD: sort the rows, resume
    the recurrence from ``stored`` (a ``STATE_SCHEMA`` row, ``None`` for a
    new key), check the delta-feed contract, and return the
    ``OUTPUT_SCHEMA`` frame with the state row to store. The state
    triples go in and out of ``macd_recurrence_state`` unchanged. An
    empty batch carries the state through unchanged."""
    n_prev, *flat = stored if stored is not None else (0,)
    seed = tuple(tuple(flat[i : i + 3]) for i in (0, 3, 6)) if flat else None
    pdf = pd.concat(list(pdfs)).sort_values(list(order_cols), kind="mergesort")
    close = pdf[close_col].to_numpy(dtype=np.float64)
    (e12, e26, line, sig), st = macd_recurrence_state(close, seed)
    n_total = n_prev + len(close)
    # Delta-feed contract guard: when the upstream (quotefeed_deltas)
    # rides the snapshot length along, the cumulative bar count this
    # state has absorbed must equal the latest snapshot's length —
    # they diverge exactly when the stream was started with numBars>1
    # (the first numBars-1 bars never entered state) and the MACD
    # would silently continue from the wrong seed.
    if "snapshot_n" in pdf.columns:
        expected = int(pdf["snapshot_n"].iloc[-1])
        if n_total != expected:
            raise ValueError(
                f"running_macd[{key[0]}]: cumulative bars seen "
                f"({n_total}) != upstream snapshot length ({expected}). "
                "quotefeed_deltas requires the stream to start with "
                "numBars=1 so every bar enters state exactly once."
            )
    frame = pd.DataFrame(
        {
            "symbol": key[0],
            **{c: pdf[c].to_numpy() for c in order_cols},
            "close": close,
            "ema12": e12,
            "ema26": e26,
            "macd_line": line,
            "macd_signal": sig,
            "macd_histogram": line - sig,
            "n_rows": np.int64(n_total),
        }
    )
    return frame, (n_total, *(f for triple in st for f in triple))


def _update_macd(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    frame, stored = _macd_batch(key, pdfs, state.get if state.exists else None)
    state.update(stored)
    yield frame


def quotefeed_deltas(raw: DataFrame) -> DataFrame:
    """Per-bar delta feed from quotefeed snapshot messages — the wiring
    between the engine-native poll source (sources/quotefeed.py) and
    :func:`running_macd`.

    Start the stream at ``numBars=1``: cycle c's snapshot then carries
    bars 0..c and exactly the LAST bar is new each cycle, so a
    stateless tail projection (``element_at(historical_data, -1)``)
    turns the snapshot stream into a pure per-bar delta feed — no
    dedup state, no batch_id branching. The contract is ENFORCED, not
    just documented: the snapshot length rides along as ``snapshot_n``
    and :func:`running_macd`'s state kernel raises when its cumulative
    bar count diverges from it (which happens exactly when the stream
    was started with numBars>1 and earlier bars never entered state). This is the transport shape the
    module docstring argues for at 100 TB: the reference re-ships the
    full history every poll (spark/stock_analysis.py:57-78); here only
    the new bar crosses the wire into the stateful MACD.
    """
    from pyspark.sql import functions as F

    from ..operators.parse import parse_history_messages

    msgs = parse_history_messages(raw, value_col="message")
    last = F.element_at(F.col("historical_data"), -1)
    return msgs.select(
        "symbol",
        last.getField("time").alias("date_str"),
        last.getField("close").alias("close"),
        F.size("historical_data").cast("long").alias("snapshot_n"),
    )


def running_macd(deltas: DataFrame) -> DataFrame:
    """Per-key MACD over a delta feed of ``(symbol, date_str, close)``.

    Streaming-only (applyInPandasWithState is unsupported in batch
    queries — the batch equivalent is the stateless
    operators.indicators/with_macd kernel, which this reproduces
    bit-for-bit). Rows within a batch are ordered by ``date_str``; feed batches in
    event order (the delta-feed contract — late rows belong in a
    watermarked upstream dedup, not here).
    """
    return deltas.groupBy("symbol").applyInPandasWithState(
        _update_macd,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replay_macd_in_batches(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    close_col: str = "close",
    n_batches: int = 3,
) -> DataFrame:
    """Batch-mode replay of the streaming MACD continuation — the
    certification surface for the module's bit-exactness claim.

    Per key, the ordered series is split into ``n_batches`` contiguous
    chunks and folded chunk-by-chunk through :func:`_macd_batch`, the
    same call :func:`running_macd` makes per micro-batch, with the
    previous chunk's stored state row. The concatenated output must
    equal the uninterrupted one-shot kernel
    (``operators.indicators.with_macd``) bit for bit, NULL closes and
    a NaN run ending a chunk included —
    ``running_macd_cert`` pins that equality under the driver's oracle
    hash check.

    Scale: grouped-map ``applyInPandas`` — one shuffle on the key,
    per-key work bounded by history length. An empty chunk (key with
    fewer rows than batches) carries state through unchanged, exactly
    like a micro-batch with no rows for that key."""
    from pyspark.sql import types as T

    keep = list(dict.fromkeys([*key_cols, *order_cols, close_col]))
    macd_cols = ["macd_line", "macd_signal", "macd_histogram"]
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep]
        + [T.StructField(n, T.DoubleType()) for n in macd_cols]
    )
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")

    def kernel(key, pdf):
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        n, stored, frames = len(pdf), None, []
        for b in range(n_batches):
            chunk = pdf.iloc[(n * b) // n_batches : (n * (b + 1)) // n_batches]
            frame, stored = _macd_batch(
                key, [chunk], stored, order_cols, close_col
            )
            frames.append(frame[macd_cols])
        macd = pd.concat(frames, ignore_index=True)
        return pd.concat([pdf[keep].reset_index(drop=True), macd], axis=1)

    return (
        df.select(*keep).groupBy(*key_cols).applyInPandas(kernel, out_schema)
    )
