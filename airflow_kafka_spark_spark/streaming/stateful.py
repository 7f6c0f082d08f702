"""Custom stateful streaming operator (SURVEY.md §2.10 T7 "delta-feed
mode").

The reference's stream is append-of-snapshots — every message carries a
symbol's FULL history, so indicators recompute statelessly per batch
(spark/stock_analysis.py:153-231). That design re-ships ~1,400 bars per
symbol every 30 minutes; at 100 TB the transport alone dominates. The
scalable alternative is a *delta feed*: messages carry only new bars, and
the engine carries the indicator recursion state (EMA-12/26, MACD signal)
across micro-batches with ``applyInPandasWithState``.

State is kept per *bucket* of keys: ``running_macd`` groups on
``pmod(xxhash64(symbol), STATE_BUCKETS)``, so a micro-batch pays the
per-group cost (an Arrow slice to pandas, a pickled state row, a sort,
an output frame) once per bucket it touches, not once per symbol. A
bucket's state row (``STATE_SCHEMA``) holds its keys' carries as
parallel arrays: the key, its bar count and, per EMA, the state triple
``functions.ema.ema_recurrence_state`` returns (value, have-state flag,
pending NaN-gap weight). Count and triples are the MACD part of the
carry of ``operators.indicators.resume_runs``, the one resumable step
the batch kernel (``operators.indicators.with_macd``) also folds its
Arrow batches through. :func:`_fold_macd` sorts a micro-batch, hands
every key run to that step with its stored carry and stores what the
step returns, verbatim, so the continuation is *bit-exact* with the
uninterrupted series, a NaN run across a micro-batch boundary and a
NULL order key included (tests/test_stateful.py,
tests/test_property.py). The state store checkpoints with the query,
giving exactly-once state evolution on restart. The streaming operator
and the batch replay that certifies it both run :func:`_fold_macd`.

Scale: the stateful operator spreads over at most ``STATE_BUCKETS``
shards (how many run at once is the shuffle-partition count the
checkpoint fixed), and every micro-batch rewrites the whole state row of
each bucket it touches — about keys / ``STATE_BUCKETS`` carries: ~31 at
2,000 symbols (~5.6 KB a row in the state store's memory), ~16,000
(~3 MB) at 10^6. A key space far past that wants more buckets;
``STATE_BUCKETS`` is part of the checkpoint's layout, so changing it
(like the earlier per-key layout) starts a new checkpoint. Each task of
the stateful stage also pays a fixed Python-worker cost whatever its
buckets hold: the worker invalidates its import caches at every task
start, which re-read the directories of pyspark.zip and two other
archives 16-18 times a task on CPython < 3.13 until the package's
``_zipimport_cache`` made the re-read conditional on the archive
changing.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.indicators import resume_runs

# state rows of running_macd: a key's carry lives in the row of bucket
# pmod(xxhash64(key), STATE_BUCKETS)
STATE_BUCKETS = 64
# per key of the bucket, in parallel: the key, its bar count, then
# (value, have_state, pending_w) per EMA, in the order of
# macd_recurrence_state's state triple
STATE_SCHEMA = (
    "symbol array<string>, n_rows array<long>, "
    "ema12 array<double>, ema12_have array<boolean>, ema12_w array<double>, "
    "ema26 array<double>, ema26_have array<boolean>, ema26_w array<double>, "
    "macd_signal array<double>, macd_signal_have array<boolean>, "
    "macd_signal_w array<double>"
)
OUTPUT_SCHEMA = (
    "symbol string, date_str string, close double, ema12 double, "
    "ema26 double, macd_line double, macd_signal double, "
    "macd_histogram double, n_rows long"
)


def _fold_macd(
    pdf: pd.DataFrame,
    stored: Tuple[Sequence[Any], ...] | None,
    key_col: str = "symbol",
    order_cols: Sequence[str] = ("date_str",),
    close_col: str = "close",
) -> Tuple[pd.DataFrame, Tuple[list, ...]]:
    """One micro-batch of the delta-feed MACD for the keys of ``pdf``:
    sort the rows by (key, order), NULL order keys first as Spark sorts
    them, fold every key run through
    :func:`..operators.indicators.resume_runs` from its carry in
    ``stored`` (a ``STATE_SCHEMA`` row, ``None`` for an empty bucket),
    check the delta-feed contract per key, and return one
    ``OUTPUT_SCHEMA`` frame with the state row to store. Keys with no
    rows in ``pdf`` keep their carry unchanged. A NULL key is one series
    of its own."""
    # a key's carry as resume_runs takes it: bar count, the
    # macd_recurrence_state triple, no tail of closes (MACD only)
    state = {
        k: (n, (f[0:3], f[3:6], f[6:9]), (), ())
        for k, n, *f in zip(*(stored or ()))
    }
    pdf = pdf.sort_values(
        [key_col, *order_cols], kind="mergesort", na_position="first"
    )
    close = pdf[close_col].to_numpy(dtype=np.float64)
    key_vals = pdf[key_col].to_numpy()
    # the sorted rows of one key are contiguous; NULL keys share a code
    codes = pd.factorize(key_vals, use_na_sentinel=False)[0]
    starts = np.flatnonzero(np.diff(codes, prepend=-1))
    bounds = np.append(starts, len(close))
    # a NULL key is stored as None, whatever null its column holds
    keys = [None if pd.isna(k) else k for k in key_vals[starts].tolist()]
    _, (e12, e26, line, sig), new = resume_runs(
        close, ~np.isnan(close), bounds, [state.get(k) for k in keys], macd=True
    )
    n_rows = np.array([c[0] for c in new], dtype=np.int64)
    # Delta-feed contract guard: when the upstream (quotefeed_deltas)
    # rides the snapshot length along, the cumulative bar count this
    # state has absorbed must equal the latest snapshot's length — they
    # diverge exactly when the stream was started with numBars>1 (the
    # first numBars-1 bars never entered state) and the MACD would
    # silently continue from the wrong seed.
    if "snapshot_n" in pdf.columns:
        expected = pdf["snapshot_n"].to_numpy()[bounds[1:] - 1]
        bad = np.flatnonzero(n_rows != expected)
        if len(bad):
            j = bad[0]
            raise ValueError(
                f"running_macd[{keys[j]}]: cumulative bars seen "
                f"({n_rows[j]}) != upstream snapshot length ({expected[j]}). "
                "quotefeed_deltas requires the stream to start with "
                "numBars=1 so every bar enters state exactly once."
            )
    state.update(zip(keys, new))
    with np.errstate(all="ignore"):  # inf - inf is NaN by contract
        hist = line - sig
    frame = pd.DataFrame(
        {
            key_col: key_vals,
            **{c: pdf[c].to_numpy() for c in order_cols},
            "close": close,
            "ema12": e12,
            "ema26": e26,
            "macd_line": line,
            "macd_signal": sig,
            "macd_histogram": hist,
            "n_rows": np.repeat(n_rows, np.diff(bounds)),
        }
    )
    rows = [(k, n, *(f for t in st for f in t)) for k, (n, st, *_) in state.items()]
    return frame, tuple(map(list, zip(*rows)))


def _update_macd(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    frame, stored = _fold_macd(
        pd.concat(list(pdfs)), state.get if state.exists else None
    )
    state.update(stored)
    yield frame


def quotefeed_deltas(raw: DataFrame) -> DataFrame:
    """Per-bar delta feed from quotefeed snapshot messages — the wiring
    between the engine-native poll source (sources/quotefeed.py) and
    :func:`running_macd`.

    Start the stream at ``numBars=1``: cycle c's snapshot then carries
    bars 0..c and exactly the LAST bar is new each cycle, so a
    stateless tail projection (the last element of ``historical_data``)
    turns the snapshot stream into a pure per-bar delta feed — no
    dedup state, no batch_id branching. The contract is ENFORCED, not
    just documented: the snapshot length rides along as ``snapshot_n``
    and :func:`running_macd`'s state kernel raises when its cumulative
    bar count diverges from it (which happens exactly when the stream
    was started with numBars>1 and earlier bars never entered state).
    A message that failed to parse or has an empty history is dropped.
    This is the transport shape the module docstring argues for at
    100 TB: the reference re-ships the full history every poll
    (spark/stock_analysis.py:57-78); here only the new bar crosses the
    wire into the stateful MACD.
    """
    from ..operators.parse import parse_history_messages

    msgs = parse_history_messages(raw, value_col="message")
    # exploding the one-bar tail drops a message that failed to parse
    # (NULL history) or carries no bars, as explode_history does on the
    # snapshot path; a Filter instead would be pushed below the parse
    # and parse every message twice
    return msgs.select(
        "symbol",
        F.explode(F.slice("historical_data", -1, 1)).alias("last"),
        F.size("historical_data").cast("long").alias("snapshot_n"),
    ).select(
        "symbol",
        F.col("last.time").alias("date_str"),
        F.col("last.close").alias("close"),
        "snapshot_n",
    )


def running_macd(deltas: DataFrame) -> DataFrame:
    """Per-key MACD over a delta feed of ``(symbol, date_str, close)``.

    Streaming-only (applyInPandasWithState is unsupported in batch
    queries — the batch equivalent is the stateless
    operators.indicators/with_macd kernel, which this reproduces
    bit-for-bit). Groups on the key's state bucket (``_state_bucket``,
    see the module docstring); each symbol is still its own series.
    Rows within a batch are ordered by ``date_str``; feed batches in
    event order (the delta-feed contract — late rows belong in a
    watermarked upstream dedup, not here).
    """
    bucket = F.pmod(F.xxhash64("symbol"), F.lit(STATE_BUCKETS))
    return deltas.withColumn("_state_bucket", bucket).groupBy(
        "_state_bucket"
    ).applyInPandasWithState(
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

    Per key, the series ordered as Spark sorts it (NULL order keys
    first) is split into ``n_batches`` contiguous chunks and folded
    chunk-by-chunk through :func:`_fold_macd`, the helper
    :func:`running_macd` runs per micro-batch and bucket, with the
    previous chunk's stored state row. Both fold through
    ``operators.indicators.resume_runs``, the step the one-shot kernel
    (``operators.indicators.with_macd``) runs per Arrow batch, so the
    concatenated output must equal that kernel bit for bit, NULL closes,
    a NaN run ending a chunk and NULL order keys included —
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
        pdf = pdf.sort_values(
            list(order_cols), kind="mergesort", na_position="first"
        )
        n, stored, frames = len(pdf), None, []
        # a group is one key, so its first key column is constant and
        # each chunk folds as one series
        for b in range(n_batches):
            chunk = pdf.iloc[(n * b) // n_batches : (n * (b + 1)) // n_batches]
            frame, stored = _fold_macd(
                chunk, stored, key_cols[0], order_cols, close_col
            )
            frames.append(frame[macd_cols])
        macd = pd.concat(frames, ignore_index=True)
        return pd.concat([pdf[keep].reset_index(drop=True), macd], axis=1)

    return (
        df.select(*keep).groupBy(*key_cols).applyInPandas(kernel, out_schema)
    )
