"""The streaming pipeline shell (SURVEY.md §2.10, §3.1).

The reference's topology — Kafka → parse → explode → indicators →
suggestion → Kafka — with the driver-side pandas detour removed. The
*transform* is a pure DataFrame→DataFrame function shared with the batch
path; ``foreachBatch`` is retained only as a sink router (S3), exactly the
role SURVEY.md §2.1 assigns it. Inside each micro-batch:

1. dedup to the latest snapshot per key (deterministic; §4.3.3 — the
   reference's duplicated-snapshot window corruption is deliberately fixed)
2. the shared batch transform (parse→explode→W1-W10→C1-C2→serialize)
3. write keyed JSON to the sink

Dropped anti-patterns (SURVEY.md §2.10 T9/T10): the 60 s sleep-in-callback
and the >20k-row ``randomSplit`` shard (which corrupted per-symbol windows
by splitting a symbol's rows across shards). Scale is handled the Spark
way: partitioning by key, AQE, and ``maxOffsetsPerTrigger`` backpressure.
"""

from __future__ import annotations

import signal
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import latest_message_per_key
from ..operators.indicators import with_indicators
from ..operators.parse import explode_history, parse_history_messages
from ..operators.serialize import to_kafka_records, to_processed
from ..operators.signals import with_suggestion

DEFAULT_TRIGGER = "10 minutes"  # spark/stock_analysis.py:298


def analyze_history_batch(raw: DataFrame, dedup_order_cols: list[str] | None = None) -> DataFrame:
    """The full analytics transform over Kafka-shaped rows (binary/string
    ``value`` [+ optional ``timestamp``/``offset`` for dedup]).

    Works identically on a batch DataFrame and a streaming micro-batch —
    this single function is the engine's core.
    """
    if not dedup_order_cols:
        messages = parse_history_messages(raw)
    else:
        messages = parse_history_messages(raw, carry_cols=dedup_order_cols)
        messages = latest_message_per_key(messages, ["symbol"], dedup_order_cols)
        messages = messages.drop(*dedup_order_cols)
    quotes = explode_history(messages)
    enriched = with_suggestion(with_indicators(quotes))
    return to_processed(enriched)


def start_pipeline(
    source: DataFrame,
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger: str = DEFAULT_TRIGGER,
    checkpoint_dir: str | None = None,
    dedup_order_cols: list[str] | None = None,
    query_name: str = "stock_analysis",
    available_now: bool = False,
) -> StreamingQuery:
    """Start the streaming query: source → analyze → sink.

    ``sink(df, batch_id)`` receives the *processed* micro-batch (17-column
    schema); default sink is a no-op show for smoke runs. Empty batches are
    skipped (T8). Kafka delivery stays at-least-once like the reference.

    ``checkpoint_dir`` defaults to a per-query-name path — a single
    shared default would make two queries started with defaults collide
    on one offset/commit log (Structured Streaming then either fails on
    source mismatch or silently resumes the OTHER query's offsets).
    Deployments should still pass an explicit durable location.

    ``available_now=True`` switches to backfill mode: drain everything
    currently in the source in rate-limited micro-batches, then stop —
    the catch-up/replay pattern (run once after downtime, same
    checkpoint, then restart the processing-time trigger).
    """
    if checkpoint_dir is None:
        checkpoint_dir = f"/tmp/aks_spark_checkpoint_{query_name}"

    def route(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # T8 (spark/stock_analysis.py:100-106)
            return
        processed = analyze_history_batch(batch_df, dedup_order_cols)
        if sink is not None:
            sink(processed, batch_id)
        else:
            processed.show(5, truncate=False)  # S7 (:272)

    writer = source.writeStream.foreachBatch(route)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return (
        writer.outputMode("update")  # vacuous under foreachBatch (T2)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def kafka_pipeline(
    spark: SparkSession,
    bootstrap_servers: str,
    in_topic: str = "stock-history-topic",
    out_topic: str = "stock-processed-topic",
    **kwargs,
) -> StreamingQuery:
    """End-to-end Kafka→Kafka wiring matching the reference topology."""
    from ..sources.kafka import read_stream, write_batch

    source = read_stream(spark, bootstrap_servers, in_topic)

    def kafka_sink(processed: DataFrame, batch_id: int) -> None:
        write_batch(to_kafka_records(processed), bootstrap_servers, out_topic)

    # Dedup contract (r12 ADVICE, reviewed again r13): the snapshot's
    # DATA timestamp is primary — "newest declared snapshot wins" — and
    # the per-key Kafka offset breaks equal-timestamp ties by arrival.
    # This is deliberately NOT pure arrival order: a producer re-sending
    # an OLDER snapshot (retry, backfill) must not overwrite newer data
    # just because it arrived later.
    return start_pipeline(
        source,
        sink=kafka_sink,
        dedup_order_cols=["timestamp", "offset"],
        **kwargs,
    )


# Why foreachBatch and not a single continuous writeStream.format("kafka")
# plan: Structured Streaming rejects both per-key orderings the transform
# needs on an unbounded stream (verified on Spark 4.1.2). With dedup, the
# latest-snapshot ROW_NUMBER window fails with
# NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING; without it, the indicator
# kernel's sortWithinPartitions fails with "Sorting is not supported on
# streaming DataFrames/Datasets". Messages are self-contained snapshots,
# so per-micro-batch evaluation inside foreachBatch is semantically
# exact, and the only alternative — applyInPandasWithState over a delta
# feed — is implemented separately in streaming/stateful.py. foreachBatch
# here is architecture, not legacy.


def install_shutdown_handler(spark: SparkSession, query: StreamingQuery) -> None:
    """T11 (spark/stock_analysis.py:306-321): stop the query and session
    gracefully on SIGTERM/SIGINT."""

    def handler(sig, frame):
        if query.isActive:
            query.stop()
        spark.stop()

    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def observed(df: DataFrame, name: str = "batch_metrics"):
    """SURVEY.md §2.5 G1/G2: the reference ran separate count() jobs per
    micro-batch for logging (spark/stock_analysis.py:123,285); `observe`
    accumulates the same metrics inside the existing job — zero extra
    passes. Returns (df, Observation) in batch; on a streaming frame the
    metrics surface in each QueryProgress event instead."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("symbol").alias("n_symbols"),
    ]
    if df.isStreaming:
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    watermark: str,
    join_window: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded time-range
    condition — the shape Structured Streaming requires to keep join
    state finite: both sides watermark their event time, and the range
    predicate lets the engine expire buffered rows once the watermark
    passes. Without BOTH constraints a stream-stream join's state grows
    unboundedly; with them, state is O(watermark-window of data).

    ``join_window``: right rows match left rows with
    ``right_ts ∈ [left_ts - join_window, left_ts + join_window]``.

    ``key_cols`` must be non-empty: Spark rejects stream-stream joins
    without an equality predicate (STREAM_FAILED at query start —
    probed), and the old ``None``-seeded condition builder was worse
    still — ``None & Column`` evaluated to a NULL condition, a join
    that ran green and emitted zero rows forever (r13 review). Fail
    eagerly with the actual requirement instead.
    """
    from pyspark.sql import functions as F

    if not key_cols:
        raise ValueError(
            "stream_stream_join: key_cols must be non-empty — Spark "
            "does not support stream-stream joins without an equality "
            "predicate (the time-range condition alone cannot bound "
            "join state)"
        )
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {join_window}")
    ) & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {join_window}"))
    for k in key_cols:
        cond = cond & (l[k] == r[k])
    return l.join(r, cond, how)
