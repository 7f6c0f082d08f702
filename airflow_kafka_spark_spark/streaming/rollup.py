"""Streaming continuous aggregate (hypertable-rollup pattern, stream side).

Batch-side, ``operators.relational.partial_rollup`` proves that COUNT +
exact decimal SUM partials merge losslessly. This module rides that monoid
in a stream: every micro-batch aggregates ONLY its own rows (bounded work
per trigger, no unbounded streaming state) and folds the result into a
stored parquet rollup with one union + re-sum. The stored table stays
queryable at full precision at any moment, and the cost per trigger is
O(batch + rollup-cardinality) — never O(history).

Why not a windowed streaming aggregation? ``groupBy(window(...))`` keeps
its state in the state store and emits on watermark close — correct, but
the rollup is then only complete after the watermark, and reprocessing
all-time aggregates means replaying the whole stream. The merge-into-table
formulation keeps ALL-TIME aggregates current after every trigger and
bounds state at zero.

Exactly-once: ``foreachBatch`` replays a batch after a crash-restart
(at-least-once sink invocation). The stored table carries the last merged
``batch_id`` in a ``_rollup_meta.json`` sidecar INSIDE the table directory
(underscore-prefixed → invisible to the parquet reader) that swaps
atomically WITH the data — a replayed batch id is detected and skipped, so
the merge is idempotent end-to-end.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.relational import merge_rollups, partial_rollup
from ..sources.sinks import heal_table, rewrite_table

_META = "_rollup_meta.json"


def _query_incarnation(checkpoint_dir: str) -> str | None:
    """The checkpoint-stable streaming query id from the checkpoint's
    ``metadata`` file (written at query start, BEFORE the first batch;
    stable across crash-restarts of the same checkpoint, fresh for a
    new/recreated checkpoint). This is the identity the replay fence
    must be scoped to: foreachBatch batch_ids restart at 0 under a new
    checkpoint, so an unscoped ``batch_id <= last`` fence silently
    drops every batch of a new incarnation until its ids exceed the
    old run's high-water mark (r13 review). None when unreadable —
    the fence then degrades to the unscoped pre-r13 behavior."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


def _load_meta(meta_path: str) -> dict | None:
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    # Pre-r14 sidecars carried the incarnation only in the top-level
    # field — no "marks" map. Seed it so the per-incarnation fence holds
    # for incarnations seen only under the legacy format: without this,
    # a query rolled back to a legacy-era checkpoint after a newer
    # incarnation merged would look like a never-seen sequence and
    # re-merge every replayed batch (r14 review).
    inc = meta.get("incarnation")
    if inc is not None:
        marks = dict(meta.get("marks") or {})
        if inc not in marks:
            marks[inc] = meta["last_batch_id"]
            meta["marks"] = marks
    return meta


def _replayed(meta: dict | None, batch_id: int, incarnation: str | None) -> bool:
    """True iff this (incarnation, batch_id) was already merged.

    ``meta["marks"]`` keeps EVERY seen incarnation's high-water mark
    (r14, per the r13 review's flip-side note): a query rolled BACK to
    an old checkpoint after another incarnation merged in between is
    fenced against its OWN prior mark — the latest-only fence saw a
    foreign ``incarnation`` and re-merged every replayed batch (double
    counting). A NEVER-seen incarnation is a genuinely new batch-id
    sequence — not a replay. Unknown incarnations (None on either
    side) compare against the latest batch_id alone, preserving the
    behavior of direct callers that manage their own sequence."""
    if meta is None:
        return False
    marks = meta.get("marks") or {}
    if incarnation is not None and incarnation in marks:
        return batch_id <= marks[incarnation]
    stored_inc = meta.get("incarnation")
    if (
        incarnation is not None
        and stored_inc is not None
        and stored_inc != incarnation
    ):
        return False
    return batch_id <= meta["last_batch_id"]


def _meta_payload(
    meta: dict | None,
    batch_id: int,
    incarnation: str | None,
    offsets: dict | None = None,
) -> dict:
    """Next meta sidecar: latest (batch_id, incarnation) plus the
    carried-forward per-incarnation high-water marks. None incarnations
    (direct callers) are tracked only via last_batch_id, as before.
    ``offsets`` (the per-source-partition event fence, see
    :func:`_apply_offset_fence`) replaces the stored map when given and
    is carried forward untouched otherwise — defensive: a fence must
    never be silently erased. (``merge_batch_into_rollup`` additionally
    REJECTS a fold without ``offset_cols`` once a fence exists, because
    merging events without advancing the stored marks would let a later
    replay of those same events double-fold — the carry-forward alone
    cannot prevent that.)

    ``marks`` grows by one entry per incarnation ever seen and is never
    pruned — intentional: each entry is ~50 bytes, incarnations are
    created by operator action (new checkpoint dir), and dropping an old
    mark reopens the exact rollback double-count the map exists to
    fence. At any plausible incarnation count the sidecar stays tiny."""
    marks = dict((meta or {}).get("marks") or {})
    if incarnation is not None:
        marks[incarnation] = batch_id
    payload = {
        "last_batch_id": batch_id,
        "incarnation": incarnation,
        "marks": marks,
    }
    off = offsets if offsets is not None else (meta or {}).get("offsets")
    if off is not None:
        payload["offsets"] = off
    return payload


def _free_name(base: str, taken) -> str:
    """A helper-column name guaranteed absent from ``taken`` — fence
    join columns must never collide with same-named batch columns."""
    name = base
    i = 0
    while name in taken:
        i += 1
        name = f"{base}_{i}"
    return name


def _apply_offset_fence(
    batch_df: DataFrame, meta: dict | None, offset_cols: tuple[str, str]
) -> tuple[DataFrame | None, dict | None]:
    """Event-level replay fence keyed on source offsets: drop every row
    whose ``(partition, offset)`` is at or below the stored per-partition
    high-water mark, and return the fenced frame plus the updated mark
    map. Returns ``(None, None)`` when nothing in the batch is new.

    This closes the gap the batch-id fence documents: batch ids restart
    at 0 under a fresh checkpoint, so a query recreated over the SAME
    source range re-folds events the old incarnation already merged.
    Offsets are properties of the DATA, not the query, so a fence keyed
    on them survives any number of incarnations. Contract: within each
    partition, offsets are unique, NON-NULL and monotone in delivery
    order (the Kafka contract — pass ``("partition", "offset")``; for
    multi-topic streams pre-concat a ``topic || '-' || partition``
    column so keys don't collide across topics). The eager census
    validates the CAST expression the replay filter actually compares
    (``CAST(offset AS LONG)``), not just the raw column: a raw NULL or
    a non-numeric string (casts to NULL) would be silently DROPPED by
    the filter (``NULL > x`` is NULL) — the silent-data-loss direction
    — a fractional value would TRUNCATE and mis-fence, and a negative
    offset collides with the ``-1`` never-seen sentinel. All four
    raise; a NULL partition key also raises (it can't round-trip
    through the JSON sidecar).

    Scale: the stored map is one entry per source partition (kilobytes
    at thousands of partitions); the fence frame is explicitly
    broadcast, and the per-batch maxima aggregate collects at most one
    row per partition — both bounded by the partition domain, never by
    batch or history size. Measured (bench_scale
    ``offset_fence_overhead``, local[32]): ~1.5-1.7 s FIXED per-batch
    overhead vs the unfenced fold — flat across 200k → 3.2M batch rows
    and 32 → 8192 source partitions (one extra action's latency plus
    the kilobyte broadcast join), amortizing to noise at real trigger
    intervals."""
    part_col, off_col = offset_cols
    missing = [c for c in offset_cols if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"offset_cols {missing} not in batch columns {batch_df.columns}"
        )
    stored = dict((meta or {}).get("offsets") or {})
    part_str = F.col(part_col).cast("string")
    off_long = F.col(off_col).cast("long")
    # exact integrality probe: CAST AS LONG truncates, so compare the
    # long back against a decimal cast of the raw value (exact decimal
    # equality, pure non-libm ops). NULL when either cast overflows or
    # fails — coalesced to "bad" below.
    off_integral = off_long.cast("decimal(38,9)") == F.col(off_col).cast(
        "decimal(38,9)"
    )
    # one bounded aggregate over the RAW batch (pre-filter, so replayed
    # rows are still visible to the census): per-partition max offset
    # plus a census of every value the fence filter cannot compare —
    # on the CAST expression the filter actually uses. Replayed
    # partitions can only report maxima at or below their stored mark,
    # which the monotone merge ignores.
    agg_rows = (
        batch_df.groupBy(part_str.alias("p"))
        .agg(
            F.max(off_long).alias("m"),
            F.sum(
                (F.col(part_col).isNull() | off_long.isNull()).cast("long")
            ).alias("nulls"),
            F.sum((off_long < 0).cast("long")).alias("negs"),
            F.sum(
                (
                    off_long.isNotNull()
                    & F.coalesce(~off_integral, F.lit(True))
                ).cast("long")
            ).alias("nonint"),
        )
        .collect()
    )
    # `negs` is NULL for a group whose offsets are all NULL ((NULL < 0)
    # is NULL, and SUM over all-NULL inputs is NULL) — treat as 0; the
    # NULL census catches those rows
    nulls = sum(int(row["nulls"] or 0) for row in agg_rows)
    negs = sum(int(row["negs"] or 0) for row in agg_rows)
    nonint = sum(int(row["nonint"] or 0) for row in agg_rows)
    if nulls or negs or nonint:
        raise ValueError(
            f"offset fence: unusable {part_col}/{off_col} values — "
            f"{nulls} NULL (raw, or non-numeric after CAST AS LONG), "
            f"{negs} negative, {nonint} non-integral. Fence columns must "
            "be non-null with non-negative integral offsets: the replay "
            "filter compares CAST(offset AS LONG) > mark, so such rows "
            "would be silently dropped or mis-fenced instead of folded"
        )
    if not any(
        row["m"] > int(stored.get(row["p"], -1)) for row in agg_rows
    ):
        return None, None
    merged = dict(stored)
    for row in agg_rows:
        merged[row["p"]] = max(int(merged.get(row["p"], -1)), int(row["m"]))
    fenced = batch_df
    if stored:
        fp = _free_name("_fence_part", batch_df.columns)
        fm = _free_name("_fence_max", batch_df.columns)
        fence = batch_df.sparkSession.createDataFrame(
            [(str(p), int(o)) for p, o in stored.items()],
            f"{fp} string, {fm} long",
        )
        fenced = (
            batch_df.join(
                F.broadcast(fence),
                part_str == F.col(fp),
                "left",
            )
            .filter(off_long > F.coalesce(F.col(fm), F.lit(-1)))
            .drop(fp, fm)
        )
    return fenced, merged


def _fold_batch(
    rollup_path: str,
    batch_df: DataFrame,
    batch_id: int,
    incarnation: str | None,
    offset_cols: tuple[str, str] | None,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> bool:
    """The fold both rollups share: fence the batch, then rewrite the
    table as ``merge(batch, stored)`` (``stored`` is None for a new
    table) plus its meta sidecar, under ``sources.sinks``' rewrite
    protocol. The sidecar lives INSIDE the table directory, so it swaps
    atomically with the data."""
    # heal a crashed prior swap BEFORE consulting the meta fence — a
    # mid-swap crash leaves the table only in the backup dir, and reading
    # the fence first would silently restart the rollup from empty
    heal_table(rollup_path)
    meta = _load_meta(os.path.join(rollup_path, _META))
    if offset_cols is None and (meta or {}).get("offsets"):
        raise ValueError(
            f"rollup at {rollup_path} carries an offset fence "
            "('offsets' in the meta sidecar) but offset_cols was not "
            "passed: folding without the fence leaves the stored marks "
            "stale, so re-enabling offset_cols later would double-fold "
            "a replay of these events. Pass offset_cols, or use a "
            "fresh rollup path to deliberately drop the fence."
        )
    if _replayed(meta, batch_id, incarnation):
        return False
    offsets = None
    if offset_cols is not None:
        batch_df, offsets = _apply_offset_fence(batch_df, meta, offset_cols)
        if batch_df is None:
            return False
    stored = (
        batch_df.sparkSession.read.parquet(rollup_path)
        if os.path.exists(rollup_path)
        else None
    )
    merged = merge(batch_df, stored)

    def write(staging: str) -> None:
        merged.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, _META), "w") as f:
            json.dump(_meta_payload(meta, batch_id, incarnation, offsets), f)

    rewrite_table(rollup_path, write)
    return True


def merge_batch_into_rollup(
    rollup_path: str,
    batch_df: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    grain: str = "hour",
    keys: list[str] | None = None,
    value_col: str = "value",
    incarnation: str | None = None,
    offset_cols: tuple[str, str] | None = None,
) -> bool:
    """Fold one micro-batch into the stored rollup. Returns False (no-op)
    when ``batch_id`` was already merged — the replay fence that makes
    at-least-once ``foreachBatch`` delivery effectively exactly-once.
    ``incarnation`` (the checkpoint-stable query id — see
    :func:`_query_incarnation`) scopes the fence so a query restarted
    under a NEW checkpoint, whose batch_ids restart at 0, is recognized
    as a new sequence instead of being silently skipped.

    Single-writer assumption: the fence keeps a per-incarnation
    high-water-mark map (``marks`` in the sidecar), so batch replay is
    detected within EVERY incarnation ever seen — including a query
    rolled back to an old checkpoint after a newer incarnation merged
    in between. By itself it does NOT deduplicate EVENTS across
    incarnations: a new checkpoint that re-reads the source from its
    starting offsets re-folds events the old incarnation already merged
    (batch ids don't align with offsets across incarnations). Pass
    ``offset_cols=("partition", "offset")`` (Kafka's data-carried
    coordinates) to close that gap: rows at or below the stored
    per-partition offset high-water mark are dropped before the fold
    (see :func:`_apply_offset_fence`), so even a fresh checkpoint
    replaying the source from earliest folds each event exactly once.
    Without ``offset_cols``, start a fresh checkpoint from fresh
    offsets (or a fresh rollup path); either way, give each rollup
    table one writing query at a time.

    Mode mixing is rejected: once a rollup carries an offset fence,
    a fold WITHOUT ``offset_cols`` raises. Such a fold would merge its
    events while leaving the stored marks stale, so re-enabling the
    fence later would let a replay of exactly those events double-fold
    — the fence would claim coverage it doesn't have. Dropping the
    fence deliberately means starting a fresh rollup path.

    Crash safety is the rewrite protocol of ``sources.sinks``.
    """
    keys = keys if keys is not None else ["event_type"]

    def merge(batch: DataFrame, stored: DataFrame | None) -> DataFrame:
        delta = partial_rollup(batch, ts_col, grain, keys, value_col)
        merged = delta if stored is None else merge_rollups(stored, delta)
        # pin the widening decimal sum to its fixed point so the stored
        # schema is identical from the first batch on (exact: cast only widens)
        return merged.withColumn("_sum_v", F.col("_sum_v").cast("decimal(38,6)"))

    return _fold_batch(
        rollup_path, batch_df, batch_id, incarnation, offset_cols, merge
    )


def start_rollup_pipeline(
    source: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    grain: str = "hour",
    keys: list[str] | None = None,
    value_col: str = "value",
    trigger: str | None = None,
    on_batch: Callable[[int, bool], None] | None = None,
    offset_cols: tuple[str, str] | None = None,
) -> StreamingQuery:
    """Attach the continuous-aggregate sink to a streaming DataFrame.
    ``on_batch(batch_id, merged)`` is an observability hook (tests use it
    to count replays). ``offset_cols`` enables the event-level replay
    fence for sources that carry stable per-partition offsets — see
    :func:`merge_batch_into_rollup`."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged = merge_batch_into_rollup(
            rollup_path,
            batch_df,
            batch_id,
            ts_col,
            grain,
            keys,
            value_col,
            # read lazily per batch: the metadata file exists once the
            # query has started, which is guaranteed inside foreachBatch
            incarnation=_query_incarnation(checkpoint_dir),
            offset_cols=offset_cols,
        )
        if on_batch is not None:
            on_batch(batch_id, merged)

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is not None:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def merge_batch_into_distinct_rollup(
    rollup_path: str,
    batch_df: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    grain: str = "hour",
    keys: list[str] | None = None,
    id_col: str = "user_id",
    lgk: int = 12,
    incarnation: str | None = None,
) -> bool:
    """The distinct-count sibling of ``merge_batch_into_rollup``: COUNT
    DISTINCT has no exact mergeable partial, so the stored per-bucket
    state is a Datasketches HLL sketch (~1.5 kB at lgK=12) and the fold
    is ``hll_union_agg`` over stored ∪ delta — same bounded-per-trigger
    work, zero streaming state, same batch-id replay fence and atomic
    staging swap. The table keeps both the sketch (for further merging
    — e.g. rolling windows or lake-wide unions) and the materialized
    ``users_est`` estimate for direct querying.

    Same batch-id replay fence as the sum rollup, but NO ``offset_cols``
    event fence — it isn't needed: the sketch union is idempotent at the
    EVENT level (an id re-folded by a fresh-checkpoint source replay
    adds nothing to the HLL), so cross-incarnation replay can't inflate
    the estimate. Within-batch duplicate ids collapse inside the sketch,
    and cross-batch duplicates are the POINT (the union counts each id
    once however many triggers it appears in — the property a mergeable
    COUNT DISTINCT exists for).
    """
    keys = keys if keys is not None else ["event_type"]

    def merge(batch: DataFrame, stored: DataFrame | None) -> DataFrame:
        bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts")
        merged = batch.groupBy(bucket, *keys).agg(
            F.hll_sketch_agg(id_col, F.lit(lgk)).alias("sketch")
        )
        if stored is not None:
            merged = (
                stored.select("bucket_ts", *keys, "sketch")
                .unionByName(merged)
                .groupBy("bucket_ts", *keys)
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
        return merged.withColumn(
            "users_est", F.hll_sketch_estimate("sketch").cast("long")
        )

    # no sidecar of this rollup carries offsets, so the fold's
    # offset-mode guard never fires here
    return _fold_batch(rollup_path, batch_df, batch_id, incarnation, None, merge)
