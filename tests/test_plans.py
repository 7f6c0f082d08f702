"""Physical-plan shape assertions (the 100 TB contract): filters reach
the parquet scan, small dims broadcast, key-series pipelines shuffle
exactly once. These pin the *plan*, not just the values — a correct
query that scans all columns or shuffles twice would regress silently
otherwise."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from airflow_kafka_spark_spark.plans.catalog import CATALOG
from .conftest import SF_DIR


def _explain(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark):
    s = _explain(CATALOG["q6_revenue"].fn(spark, SF_DIR), mode="formatted")
    pushed = s.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"
    read = s.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read
    # column pruning: only the 4 referenced lineitem columns are read
    assert read.count(":") <= 5, f"scan reads too many columns: {read}"


def test_q3_broadcasts_dimension(spark):
    s = _explain(CATALOG["q3_topk_join"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s


def test_indicator_stack_single_shuffle(spark):
    """The W1-W10 indicator kernel runs on one hash partitioning of the
    key — exactly one Exchange in the plan."""
    from airflow_kafka_spark_spark.operators.indicators import with_indicators
    from airflow_kafka_spark_spark.sources.files import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", F.col("value").alias("close")
    )
    s = _explain(with_indicators(ev, ["user_id"], ["ts", "event_id"]))
    assert s.count("Exchange") == 1, s


def test_snapshot_plan_one_exchange_one_kernel(spark, tmp_path):
    """The snapshot cycle's plan: the per-symbol dedup's Exchange is the
    only one (the indicator kernel's repartition on the same key is
    dropped), the W1-W10 stack is one MapInArrow, and no Window lag
    chain is left."""
    from airflow_kafka_spark_spark.operators.serialize import to_kafka_records
    from airflow_kafka_spark_spark.sources.fixtures import build_history_messages
    from airflow_kafka_spark_spark.streaming.pipeline import analyze_history_batch

    src = str(tmp_path / "msgs")
    build_history_messages(spark, SF_DIR).select(
        "key",
        "value",
        F.current_timestamp().alias("timestamp"),
        F.monotonically_increasing_id().alias("offset"),
    ).write.parquet(src)
    raw = spark.read.parquet(src)
    s = _explain(to_kafka_records(analyze_history_batch(raw, ["timestamp", "offset"])))
    assert s.count("Exchange") == 1, s
    assert s.count("MapInArrow") == 1, s
    assert "lag(" not in s, s


def test_delta_plan_one_stateful_operator_on_bucket(spark, tmp_path):
    """The delta-feed plan: one FlatMapGroupsInPandasWithState, grouped
    (and hash-partitioned) on the state-bucket column, not on the
    symbol — one Python call per bucket, not per key."""
    import re

    from airflow_kafka_spark_spark.streaming.stateful import (
        quotefeed_deltas,
        running_macd,
    )

    src = spark.readStream.schema(
        "symbol string, current_price double, message string"
    ).parquet(str(tmp_path))
    s = _explain(running_macd(quotefeed_deltas(src)))
    assert s.count("FlatMapGroupsInPandasWithState") == 1, s
    assert re.search(
        r"FlatMapGroupsInPandasWithState \w+\([^)]*\)#\d+, \[_state_bucket#\d+L\], ",
        s,
    ), s
    assert re.search(r"Exchange hashpartitioning\(_state_bucket#\d+L, ", s), s


def test_fixed_point_sums_long_partials_before_shuffle(spark):
    """The scaled-BIGINT sum's whole point: primitive-long accumulation
    happens map-side (the (keys, partition-id) grouping never shuffles —
    pid is partition-local), and only tiny decimal partials cross the
    one key Exchange."""
    s = _explain(CATALOG["fixed_point_sums"].fn(spark, SF_DIR))
    assert s.count("Exchange") <= 2, s
    # the long sum must appear BELOW the first Exchange (map side)
    below = s.split("Exchange", 1)[1]
    assert "sum(" in below and "L as decimal" in s, s


def test_ma_frame_windows_single_shuffle(spark):
    """The frame-aggregate rolling mean shares one hash partitioning for
    both window widths — exactly one Exchange, one Window pass."""
    s = _explain(CATALOG["ma_frame_windows"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 1, s
    assert s.count("Window") == 1, s


def test_asof_join_single_shuffle(spark):
    """The union-merge as-of join is one Exchange (the window) — no
    nested-loop join, no per-side shuffles."""
    s = _explain(CATALOG["asof_join_purchase"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s
    assert s.count("Exchange") <= 3, s  # purchase pre-agg + window


def test_range_join_is_equi_join(spark):
    """The bucketed range join must plan as a hash/sort-merge equi-join,
    never a nested loop over the range predicate."""
    s = _explain(CATALOG["range_join_clicks"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_knn_broadcasts_query_vector(spark):
    s = _explain(CATALOG["knn_cosine"].fn(spark, SF_DIR))
    assert "Broadcast" in s


def test_q19_or_predicates_stays_hash_join(spark):
    """The disjunctive brand/size/quantity filter shares one equi-key —
    Catalyst must keep the hash join and apply the OR post-join, never
    fall back to a nested loop."""
    s = _explain(CATALOG["q19_or_predicates"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_q14_broadcasts_part_dim(spark):
    s = _explain(CATALOG["q14_promo_revenue"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s


def test_q18_partial_aggregate_before_join(spark):
    """The HAVING-filtered quantity aggregate must run partial+final
    (map-side combine) before the joins — HashAggregate pairs present,
    no aggregate pushed after the join."""
    s = _explain(CATALOG["q18_large_volume"].fn(spark, SF_DIR), mode="formatted")
    assert s.count("HashAggregate") >= 2, s


def test_q22_anti_join_no_nested_loop(spark):
    """Scalar-subquery compare + left-anti join must both stay hash
    strategies."""
    s = _explain(CATALOG["q22_idle_customers"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert "LeftAnti" in s or "left_anti" in s.lower()


def test_q2_correlated_min_no_cartesian(spark):
    """The per-part min equality join must stay an equi-join; region/
    nation dims broadcast."""
    s = _explain(CATALOG["q2_min_cost_supplier"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_q9_broadcasts_nation_only_planned_joins(spark):
    s = _explain(CATALOG["q9_product_profit"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_q11_threshold_is_broadcast_scalar(spark):
    """The one-row total joins as a broadcast nested loop (the correct
    idiom for a scalar), never a shuffled cartesian."""
    s = _explain(CATALOG["q11_important_values"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert "Broadcast" in s


def test_q16_not_in_is_broadcast_anti(spark):
    s = _explain(CATALOG["q16_supplier_cnt"].fn(spark, SF_DIR))
    assert "LeftAnti" in s or "left_anti" in s.lower()
    assert "Broadcast" in s


def test_q21_semi_and_anti_share_orderkey_exchange(spark):
    """EXISTS → left-semi, NOT EXISTS → left-anti; both join on
    l_orderkey with the inequality as a residual — no nested loop."""
    s = _explain(CATALOG["q21_waiting_orders"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s
    assert ("LeftSemi" in s or "left_semi" in s.lower())
    assert ("LeftAnti" in s or "left_anti" in s.lower())


def test_current_price_attach_broadcasts_snapshot(spark):
    s = _explain(CATALOG["current_price_attach"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark shingle set must broadcast — a shuffle join here
    would move the whole corpus's exploded shingles."""
    s = _explain(CATALOG["decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_token_shards_single_window_exchange(spark):
    """Packing is one hash partitioning on lang + one window prefix sum —
    no extra shuffles."""
    s = _explain(CATALOG["token_shards"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 1, s


def test_dedup_components_no_cartesian(spark):
    """The returned frame must be a checkpointed-RDD scan with NO join
    nodes above it: connected_components cuts lineage every iteration,
    so the caller never re-plans (or re-executes) the iteration tree —
    the every-5-rounds cadence left a 3^5-way nested plan with 1000+
    AQE-broadcast joins of node-sized label tables in the final frame."""
    s = _explain(CATALOG["dedup_components"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s and "NestedLoop" not in s
    assert "Join" not in s, s
    assert "ExistingRDD" in s, s


def test_pii_redact_map_only(spark):
    """regexp scrub (upgraded r12) is a pure map — zero Exchange, no
    join, one scan, and only the three referenced columns read
    (doc_id + text + the `source` the planted-email fixture derives
    its local parts from)."""
    s = _explain(CATALOG["pii_redact"].fn(spark, SF_DIR), mode="formatted")
    assert "Exchange" not in s, s
    assert "Join" not in s, s
    read = s.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and read.count(":") <= 3, read


def test_embedding_quantize_map_only(spark):
    """posexplode quantization streams at scan speed — no Exchange."""
    s = _explain(CATALOG["embedding_quantize"].fn(spark, SF_DIR))
    assert "Exchange" not in s, s


def test_tfidf_broadcasts_corpus_count(spark):
    """The 1-row corpus count joins as a broadcast (no shuffle of the
    pairs table against it), and the rank window reuses the doc_id
    hash partitioning."""
    s = _explain(CATALOG["tfidf_topk"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
    assert "CartesianProduct" not in s


def test_repetition_stats_partial_aggregates(spark):
    """Both gram pipelines carry map-side partial aggregation before
    their shuffle (HashAggregate appears above and below each
    Exchange)."""
    s = _explain(CATALOG["repetition_stats"].fn(spark, SF_DIR))
    assert s.count("HashAggregate") >= 4, s


def test_ngram_topk_take_ordered(spark):
    """Top-k runs as TakeOrderedAndProject over the aggregated gram
    table — never a global sort of raw rows."""
    s = _explain(CATALOG["ngram_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in s, s


def test_funnel_single_key_exchange(spark):
    """All three conditional-MIN stage windows and the per-key collapse
    share ONE hash partitioning on user_id; the only other Exchange is
    the final single-row reduce."""
    s = _explain(CATALOG["funnel_conversion"].fn(spark, SF_DIR))
    assert s.count("hashpartitioning(user_id") == 1, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_cohort_retention_two_shuffles(spark):
    """First-seen window shuffles on user_id once; the matrix agg (with
    its distinct expand) adds at most two more key exchanges — no joins,
    no cartesian."""
    s = _explain(CATALOG["cohort_retention"].fn(spark, SF_DIR))
    assert s.count("hashpartitioning(user_id") == 1, s
    assert "Join" not in s, s


def test_chunk_dedup_no_cartesian(spark):
    """Chunk-frequency window + rebuild: all equi-key ops."""
    s = _explain(CATALOG["chunk_dedup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_chunk_dedup_single_chunk_expansion(spark):
    """r16: the chunk expansion runs ONCE — the doc-frequency gate is a
    window over the same shuffled rows, not a separate aggregate whose
    anti-join re-computes the posexplode as its probe side. One
    generator node in the plan guards against regressing to the
    double-compute shape."""
    s = _explain(CATALOG["chunk_dedup"].fn(spark, SF_DIR))
    assert s.count("Generate posexplode") == 1, s
    assert "Window" in s, s


def test_mixture_sample_broadcast_weights(spark):
    """The weights table joins as a broadcast; the only hash shuffle is
    the per-source accounting aggregate."""
    s = _explain(CATALOG["mixture_sample"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s, s
    assert s.count("hashpartitioning") == 1, s


def test_incremental_rollup_merges_without_join(spark):
    """Partial rollups merge by union + re-sum: no join anywhere, and
    partial aggregation runs below each shuffle."""
    s = _explain(CATALOG["incremental_rollup"].fn(spark, SF_DIR))
    assert "Join" not in s, s
    assert s.count("HashAggregate") >= 4, s


def test_unpivot_single_scan(spark):
    """DataFrame.unpivot melts with ONE scan + generator expand — never
    the SQL-equivalent 4 UNION ALL scans of the fact table."""
    s = _explain(CATALOG["unpivot_melt"].fn(spark, SF_DIR), mode="formatted")
    # formatted mode prints each node twice (tree + detail section)
    assert s.count("Location: InMemoryFileIndex") == 1, s
    assert "Expand" in s or "Generate" in s, s


def test_value_histogram_broadcast_bounds(spark):
    """The min/max bounds attach as a 1-row broadcast (scalar-join
    idiom); the bucket expression stays map-side."""
    s = _explain(CATALOG["value_histogram"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
    assert s.count("hashpartitioning") == 1, s


def test_salted_join_carries_salt_key(spark):
    """The join condition includes the salt shard id (that's the whole
    mechanism) and the plan stays an equi-join — no nested loop."""
    s = _explain(CATALOG["salted_join"].fn(spark, SF_DIR))
    assert "__salt" in s, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_bm25_broadcast_stats_no_explode(spark):
    """Corpus stats join back as a 1-row broadcast; term frequencies are
    array higher-order ops — no explode of the corpus, no cartesian, and
    the top-k is a TakeOrdered, not a global sort."""
    s = _explain(CATALOG["bm25_topk"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
    assert "CartesianProduct" not in s, s
    assert "TakeOrderedAndProject" in s, s
    assert "Generate" not in s, s  # no explode in the scoring path


def test_zscore_broadcasts_group_moments(spark):
    """Group moments (5 rows) broadcast back to the fact table; the only
    hash shuffle is the moments aggregate itself."""
    s = _explain(CATALOG["zscore_outliers"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s, s
    assert s.count("hashpartitioning") == 1, s


def test_containment_inverted_index_join(spark):
    """Containment pairs join only on shared shingles (equi-join on the
    shingle key) — never an all-pairs nested loop."""
    s = _explain(CATALOG["containment_pairs"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_merge_upsert_anti_join_union(spark):
    """MERGE emulation is an anti equi-join + union — no full outer
    join, no nested loop; the small delta side broadcasts under AQE."""
    s = _explain(CATALOG["merge_upsert"].fn(spark, SF_DIR))
    assert "LeftAnti" in s or "left_anti" in s.lower(), s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s
    assert "FullOuter" not in s, s


def test_scd2_single_key_window(spark):
    """SCD2 history is ONE lead() window — single hash partitioning on
    the key, no join."""
    s = _explain(CATALOG["scd2_intervals"].fn(spark, SF_DIR))
    assert s.count("hashpartitioning(user_id") == 1, s
    assert "Join" not in s, s


def test_pq_encode_map_only_arrow(spark):
    """PQ encoding is a map-only Arrow batch kernel: no Exchange, one
    ArrowEvalPython stage, no join anywhere."""
    from airflow_kafka_spark_spark.ext.similarity import pq_codebooks, pq_encode
    from airflow_kafka_spark_spark.sources.files import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    s = _explain(pq_encode(emb, pq_codebooks(emb)))
    assert "Exchange" not in s, s
    assert "ArrowEvalPython" in s, s
    assert "Join" not in s, s


def test_window_dedup_single_shuffle(spark):
    """Hourly first-event dedup is one rank window — a single hash
    partitioning on the composite key, no join."""
    s = _explain(CATALOG["window_dedup"].fn(spark, SF_DIR))
    assert s.count("hashpartitioning") == 1, s
    assert "Join" not in s, s


def test_asof_forward_single_shuffle(spark):
    """Forward as-of mirrors the backward union-merge plan: no range
    join, bounded Exchange count."""
    s = _explain(CATALOG["asof_forward"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s
    assert s.count("Exchange") <= 3, s


def test_charlm_model_joins_broadcast(spark):
    """The char-bigram model is vocab-sized: BOTH the total scalar and
    the model must broadcast back to the corpus-sized bigram stream —
    any sort-merge join here would shuffle the corpus twice."""
    s = _explain(CATALOG["charlm_quality"].fn(spark, SF_DIR))
    assert s.count("BroadcastHashJoin") + s.count("BroadcastNestedLoop") >= 2, s
    assert "SortMergeJoin" not in s, s


def test_dedup_incremental_no_cartesian_delta_joins(spark):
    """Batch-vs-corpus gate: inverted-index equi-joins only — no
    cartesian/nested-loop anywhere despite the two-frame comparison."""
    s = _explain(CATALOG["dedup_incremental"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_session_sequences_single_user_exchange(spark):
    """Sessionize (lag window) + session-id prefix sum + per-session agg
    all run on one hash partitioning by user_id: exactly one Exchange
    over the events scan (the grouping keys are a superset of the
    window partitioning, so the aggregate reuses the sort/partition)."""
    s = _explain(CATALOG["session_sequences"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 1, s


def test_vocab_coverage_windows_after_aggregation(spark):
    """The global-ordering windows must consume the AGGREGATED vocab
    (word counts), not corpus rows: plan order is scan → word
    HashAggregate (partial+final, its own Exchange) → ONE more Exchange
    feeding the windows — and the scan reads only the text column."""
    s = _explain(CATALOG["vocab_coverage"].fn(spark, SF_DIR), mode="formatted")
    assert s.count("Exchange") >= 2
    # the window Exchange sits ABOVE the aggregate in the operator list
    # (formatted mode numbers operators bottom-up: scan is (1))
    agg_pos = s.find("HashAggregate")
    assert agg_pos != -1 and s.find("Window") != -1
    read = s.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read, read


def test_fuzzy_match_is_blocked_equi_join(spark):
    """The fuzzy join must plan as a hash equi-join on the block key —
    never a cartesian/nested-loop over the levenshtein predicate."""
    s = _explain(CATALOG["fuzzy_match_join"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s
    assert "levenshtein" in s.lower(), s  # residual predicate present


def test_triangle_count_equi_joins_only(spark):
    """Wedge + closure joins are equi-joins AND broadcast-free: the
    degree/adjacency tables are node-sized (adjacency payload is
    edge-sized in total), and an AQE-chosen broadcast BUILD of them
    OOMed a long-lived 1g-heap driver in the round-7 sf0.1 replica leg
    — the same class pagerank hit in r6. The only nested-loop shapes
    allowed are the 1-row stat combines at the very top (bounded
    broadcast, same posture as value_histogram)."""
    s = _explain(CATALOG["triangle_count"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s
    assert "BroadcastHashJoin" not in s, s
    assert "ShuffledHashJoin" in s, s
    assert s.count("BroadcastNestedLoopJoin") <= 2, s


def test_gap_fill_calendar_after_aggregation(spark):
    """The calendar explode must sit above the daily aggregate (span
    rows), not over the raw fact table: the plan's Generate consumes
    the aggregated span frame, and the raw scan feeds exactly one
    max_by hash aggregate — no window over raw facts."""
    s = _explain(CATALOG["gap_fill_daily"].fn(spark, SF_DIR))
    assert "Generate explode" in s or "Generate" in s, s
    assert "max_by" in s, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_rolling_revenue_single_window_exchange(spark):
    """One Exchange on o_custkey serves both frame aggregates (sum +
    count share the RANGE frame in one Window operator)."""
    s = _explain(CATALOG["rolling_revenue_30d"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 1, s
    assert s.count("Window") == 1, s


def test_winsorize_broadcasts_percentiles(spark):
    """The per-group percentile frame joins back via broadcast — the
    fact table is never shuffled for the clamp."""
    s = _explain(CATALOG["winsorized_stats"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in s, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_ols_trend_single_aggregate(spark):
    """Five exact moments in one map projection + one hash aggregate —
    the q1 shape: exactly one Exchange, no window, no join."""
    s = _explain(CATALOG["ols_trend"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 1, s
    assert "Window" not in s and "Join" not in s, s


def test_pagerank_equi_joins_only(spark):
    """Each unrolled iteration is one rank-attach equi-join + one hash
    aggregate, and the loop is BROADCAST-FREE by hint: the node-sized
    rank table must never be a broadcast build side (not broadcastable
    at 10^9 nodes, and the build itself OOMed a 1g-heap driver during
    the round-6 sf0.1 full-catalog replica leg). The only broadcast
    shapes allowed are the 1-row node-count crossJoins
    (IdentityBroadcastMode)."""
    s = _explain(CATALOG["pagerank"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s
    assert "BroadcastHashJoin" not in s, s
    assert "ShuffledHashJoin" in s, s


def test_drift_tvd_single_scan_no_join(spark):
    """The TVD plan must scan the facts ONCE (the join-based totals
    formulation computed the count aggregate twice — caught and
    rewritten r7): one partial-aggregated groupBy, cohort totals as
    window sums, final aggregate on the window's partitioning. No
    joins anywhere."""
    s = _explain(CATALOG["drift_tvd"].fn(spark, SF_DIR))
    assert "Join" not in s, s
    assert s.count("Scan parquet") == 1 or s.count("Location") == 1, s
    assert "Window" in s, s


def test_ks_drift_single_scan_no_join(spark):
    """The KS plan shares tvd_drift's shape: ONE scan of the facts into
    a conditional-count groupBy, then cumulative sums AND cohort totals
    as window functions over the count table (same cohort
    partitioning), final cohort aggregate. No joins anywhere — a
    join-based ECDF formulation would rescan the count table per
    side."""
    s = _explain(CATALOG["ks_drift"].fn(spark, SF_DIR))
    assert "Join" not in s, s
    assert s.count("Scan parquet") == 1 or s.count("Location") == 1, s
    assert "Window" in s, s


def test_mw_drift_single_scan_no_join(spark):
    """The Mann–Whitney plan shares ks_drift's shape: ONE scan of the
    facts into a conditional-count groupBy, then B's cumulative count
    AND the window totals as window functions over the count table
    (same cohort partitioning), final cohort aggregate. No joins
    anywhere."""
    s = _explain(CATALOG["mw_drift"].fn(spark, SF_DIR))
    assert "Join" not in s, s
    assert s.count("Scan parquet") == 1 or s.count("Location") == 1, s
    assert "Window" in s, s


def _broadcast_subtrees(s: str) -> list[str]:
    """Each BroadcastExchange node's subtree from a simple-mode explain
    string. ONE implementation of the plan-parsing heuristic lives in
    tools/broadcast_audit.py (the catalog-wide audit); the tests import
    it so the two cannot silently drift (ADVICE r8)."""
    from tools.broadcast_audit import broadcast_subtrees

    return [sub for _, sub in broadcast_subtrees(s)]


def test_ann_ivfpq_no_cartesian_broadcast_probes(spark):
    """The composed-index batch plan must fan candidates out through
    broadcast hash joins (probe pairs, ADC tables, query vectors are
    all kilobyte-sized) — never a cartesian product, and the corpus
    side must never be a broadcast build: no embeddings parquet scan
    (nor the ArrowEvalPython-encoded corpus codes) may sit under a
    BroadcastExchange (the 1g-driver OOM class; pre-fix, AQE built
    broadcasts of BOTH at small stats)."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        ivf_assignments,
        pq_codebooks,
    )
    from airflow_kafka_spark_spark.sources.files import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb)
    s = _explain(
        ann_topk_ivfpq_batch(
            emb, [0, 19], k=10, n_probe=8, index=index, codebooks=books
        )
    )
    assert "CartesianProduct" not in s, s
    assert "BroadcastHashJoin" in s, s
    for sub in _broadcast_subtrees(s):
        if "embeddings" in sub or "ArrowEvalPython" in sub:
            # a corpus-derived broadcast is legal ONLY below a top-n
            # bound (the ≤ |Q|·rerank_factor·k candidate pool); the
            # raw corpus scan or the full encoded-codes frame as a
            # broadcast build is the pre-fix OOM shape
            assert "WindowGroupLimit" in sub, (
                f"unbounded corpus under BroadcastExchange:\n{sub}"
            )


def test_near_dup_self_joins_broadcast_free(spark):
    """The LSH and SemDeDup candidate joins are corpus-scale ⋈
    corpus-scale (bucket/cell self-joins, the cluster-id attach): none
    may be a broadcast build — at 10^9 docs neither side is
    broadcastable, and at small stats an unpinned AQE broadcast-builds
    one side (the 1g-driver OOM class swept out of the ANN serving
    paths this round). All shuffled hash, no cartesian."""
    for name in ("cosine_near_dup", "semantic_dedup"):
        s = _explain(CATALOG[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in s, (name, s)
        assert "BroadcastHashJoin" not in s, (name, s)
        assert "ShuffledHashJoin" in s, (name, s)


def test_freq_items_bounded_no_cartesian(spark):
    """The certification entry combines 1-row aggregates (bounded
    nested-loop broadcasts, same posture as value_histogram) and an
    anti-join of the heavy set against the sketch — no unbounded
    cartesian shapes."""
    s = _explain(CATALOG["freq_items_bounded"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s


def test_pagerank_dangling_loop_broadcast_free(spark):
    """The redistribute variant adds a per-iteration anti-join (dangling
    mass) — that anti-join is node-sized on BOTH sides and must follow
    the same broadcast-free rule as the rank-attach joins; only the
    1-row aggregates (node count, dangling sum) may broadcast."""
    s = _explain(CATALOG["pagerank_dangling"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s
    assert "BroadcastHashJoin" not in s, s
    assert "ShuffledHashJoin" in s, s


def test_pareto_two_phase_no_global_first_pass(spark):
    """Phase 1 windows must be partitioned (bucketed local skylines);
    only the frontier-sized phase-2 windows may be global. No join at
    all — the skyline is windows + filters."""
    s = _explain(CATALOG["pareto_frontier"].fn(spark, SF_DIR))
    assert "Join" not in s, s
    assert "CartesianProduct" not in s, s


def test_snapshot_diff_single_full_outer_join(spark):
    """The CDC diff is one full-outer equi-join over the two rollups —
    no window, no second join, no nested loop."""
    s = _explain(CATALOG["snapshot_diff"].fn(spark, SF_DIR))
    assert s.count("FullOuter") == 1, s
    assert "NestedLoop" not in s and "CartesianProduct" not in s, s


def test_dq_audit_fk_check_is_anti_join(spark):
    """The FK check must be a (broadcast) LEFT ANTI join, and the
    not-null/range checks fold into aggregates — no cartesian."""
    s = _explain(CATALOG["dq_audit"].fn(spark, SF_DIR))
    assert "LeftAnti" in s, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s, s


def test_asof_nearest_single_shuffle(spark):
    """Both directional carries come from ONE union-merge window pass:
    no range join, bounded Exchange count (purchase pre-agg + window)."""
    s = _explain(CATALOG["asof_nearest"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s, s
    assert s.count("Window") == 1, s


def test_interval_overlap_is_equi_join(spark):
    """The interval×interval overlap must run as a hash/sort-merge
    equi-join on (key, bucket) — never a nested loop over the overlap
    predicate."""
    s = _explain(CATALOG["interval_overlap"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s, s


def test_grid_radius_join_is_equi_join(spark):
    """The radius predicate must run as a residual on a grid-cell
    equi-join — never a nested loop over the distance condition."""
    s = _explain(CATALOG["grid_radius_join"].fn(spark, SF_DIR))
    assert "NestedLoop" not in s and "CartesianProduct" not in s, s


def test_assoc_rules_no_cartesian(spark):
    """Pair supports come from the basket expansion (one shuffle), item
    supports broadcast back — the only nested-loop shape allowed is the
    1-row basket-count scalar."""
    s = _explain(CATALOG["assoc_rules"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s
    assert s.count("BroadcastNestedLoopJoin") <= 1, s


def test_dsir_single_token_agg_no_second_scan(spark):
    """Raw and target token counts fold into ONE conditional-count
    aggregate (sum of the target flag) — no separate filtered scan of
    the target corpus — and the vocab stats table is checkpointed, so
    the plan hangs off a leaf, not a repeated corpus explode."""
    s = _explain(CATALOG["dsir_importance"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s
    # the checkpointed vocab table appears as a scan leaf; the only
    # remaining corpus explode is the scoring join's
    assert s.count("Generate explode") <= 1, s


def test_approx_aggs_bounded_two_phase_distinct_only(spark):
    """One logical aggregate: the sketches and the percentile_disc
    bands all ride the exact count-distinct's standard two-phase plan
    (dedup on (group, user) then final) — exactly 2 Exchanges, and no
    join anywhere (the bound booleans are projections, not a
    self-join against a second aggregate)."""
    s = _explain(CATALOG["approx_aggs_bounded"].fn(spark, SF_DIR))
    assert s.count("Exchange") == 2, s
    assert "Join" not in s, s


def test_ann_recall_bounded_no_cartesian_corpus_join(spark):
    """The recall intersections are k-row joins; the only crossJoins
    are broadcast 1-row query/scalar attaches — a corpus-sized
    cartesian product would mean the exact leg regressed to all-pairs."""
    s = _explain(CATALOG["ann_recall_bounded"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in s, s


def test_quality_classifier_broadcast_model_one_explode(spark):
    """Linear quality-classifier inference (VERDICT r9 item 4): exactly
    one Generate (the tokenize explode), the model vocabulary is the
    ONLY broadcast build (never the documents scan), the per-doc dot
    product is one hash aggregate, and the keep-every-doc attach join
    is a shuffled hash join (an AQE broadcast build of the doc-count
    side is the r7/r8 OOM class)."""
    s = _explain(CATALOG["quality_classifier"].fn(spark, SF_DIR))
    assert s.count("Generate") == 1, s
    assert "BroadcastHashJoin" in s, s
    assert "ShuffledHashJoin" in s, s
    assert s.count("hashpartitioning") == 2, s  # dot-product agg + attach
    for sub in _broadcast_subtrees(s):
        assert "documents" not in sub, f"corpus under BroadcastExchange:\n{sub}"
        assert "ExistingRDD" in sub, sub  # the weights local relation


def test_html_extract_pure_map_zero_exchange(spark):
    """HTML text extraction is a map-only pass: one documents scan,
    zero Exchange, no join, no aggregate — the plan a 100 TB strip
    pass must have."""
    s = _explain(CATALOG["html_extract"].fn(spark, SF_DIR))
    assert "Exchange" not in s, s
    assert "Join" not in s, s
    assert s.count("Location: InMemoryFileIndex") <= 1, s


def test_quality_classifier_ngram_same_shape_one_generate(spark):
    """The char-ngram leg (VERDICT r10 item 5) must not change the
    plan class: the subword expansion is HOF arithmetic concatenated
    onto the token array BEFORE the single explode — still exactly one
    Generate, vocab-only broadcast build, two shuffles, shuffled-hash
    attach."""
    s = _explain(CATALOG["quality_classifier_ngram"].fn(spark, SF_DIR))
    assert s.count("Generate") == 1, s
    assert "BroadcastHashJoin" in s, s
    assert "ShuffledHashJoin" in s, s
    assert s.count("hashpartitioning") == 2, s
    for sub in _broadcast_subtrees(s):
        assert "documents" not in sub, f"corpus under BroadcastExchange:\n{sub}"
        assert "ExistingRDD" in sub, sub


def test_unicode_normalize_pure_map_zero_exchange(spark):
    """Unicode normalization (VERDICT r11 item 5) is a map-only pass
    like html_extract: one documents scan, zero Exchange, no join, no
    aggregate — the plan a 100 TB pre-tokenization pass must have."""
    s = _explain(CATALOG["unicode_normalize"].fn(spark, SF_DIR))
    assert "Exchange" not in s, s
    assert "Join" not in s, s
    assert s.count("Location: InMemoryFileIndex") <= 1, s


def test_language_id_same_shape_one_generate(spark):
    """Multi-class language ID (VERDICT r11 item 4) must keep the
    binary classifier's plan class — the k classes ride the SAME scan:
    exactly one Generate, the k-column vocab table is the only
    broadcast build, one conditional aggregate (k sums in one
    hashpartitioning), shuffled-hash attach."""
    s = _explain(CATALOG["language_id"].fn(spark, SF_DIR))
    assert s.count("Generate") == 1, s
    assert "BroadcastHashJoin" in s, s
    assert "ShuffledHashJoin" in s, s
    assert s.count("hashpartitioning") == 2, s
    for sub in _broadcast_subtrees(s):
        assert "documents" not in sub, f"corpus under BroadcastExchange:\n{sub}"
        assert "ExistingRDD" in sub, sub


def test_url_dedup_map_normalize_two_window_exchanges(spark):
    """URL dedup + domain cap (VERDICT r9 item 5, r10 item 1):
    normalization is map-shaped over one documents scan, both keep
    flags derive from windows over that scan, and the plan shuffles
    exactly twice (url_norm, then domain). The ONLY joins are the
    eight explicit-broadcast public-suffix lookups (plain 2..5-label
    and wildcard-base 1..4-label tiers — the full PSL algorithm,
    r15), and the only broadcast builds are those bounded-by-contract
    suffix local relations — never the corpus."""
    s = _explain(CATALOG["url_dedup"].fn(spark, SF_DIR))
    assert "ShuffledHashJoin" not in s and "SortMergeJoin" not in s, s
    tree = s.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") == 8, s
    assert s.count("hashpartitioning") == 2, s
    assert s.count("Location: InMemoryFileIndex") <= 1, s
    for sub in _broadcast_subtrees(s):
        assert "documents" not in sub, f"corpus under BroadcastExchange:\n{sub}"


def test_url_dedup_salted_two_phase_shape(spark):
    """The salted two-phase domain rank (VERDICT r10 item 2,
    salt_partitions=8): the single (domain) window is replaced by a
    (domain, salt) window + a per-bucket offset aggregate attached via
    a ShuffledHashJoin — never an AQE broadcast build of a corpus-sized
    side; broadcast builds remain the suffix lookups only."""
    from airflow_kafka_spark_spark.plans.catalog import q_url_dedup_salted

    s = _explain(q_url_dedup_salted(spark, SF_DIR))
    tree = s.split("(1) Scan")[0]
    assert tree.count("ShuffledHashJoin") == 1, s
    assert "SortMergeJoin" not in s, s
    # two-phase: url window, (dk, salt) window ×2 branches share the
    # same keys, offset agg, join — strictly more exchanges than the
    # single-window path, each bounded to ~1/P of the hottest domain
    assert "__salt" in s, s
    for sub in _broadcast_subtrees(s):
        assert "documents" not in sub, f"corpus under BroadcastExchange:\n{sub}"


def test_running_macd_cert_shuffle_hash_no_corpus_broadcast(spark):
    """The r16 certification entry joins two corpus-scale kernel
    outputs (one-shot with_macd vs the k-chunk continuation replay) on
    (user_id, event_id): neither side is bounded by contract, so the
    join must be the pinned ShuffledHashJoin — an AQE-chosen broadcast
    BUILD of either grouped-map output is the 1g-driver OOM class and
    isn't broadcastable at 10^9+ keys anyway. No broadcast build may
    contain the events scan or either python-kernel node."""
    s = _explain(CATALOG["running_macd_cert"].fn(spark, SF_DIR))
    assert "ShuffledHashJoin" in s, s
    assert "SortMergeJoin" not in s, s
    for sub in _broadcast_subtrees(s):
        assert "events" not in sub and "EvalPython" not in sub, (
            f"corpus-scale side under BroadcastExchange:\n{sub}"
        )


def test_plan_signature_counts_exchanges_joins_and_python_nodes(spark):
    """bench.py records plan_signature for every headline query in
    bench_detail.json: pin its counts on three tiny plans."""
    from bench import plan_signature

    from airflow_kafka_spark_spark.operators.indicators import with_indicators

    grouped = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
    assert plan_signature(grouped) == {"exchange": 1, "reused_exchange": 0}

    small = spark.range(10).withColumnRenamed("id", "k")
    joined = spark.range(100).join(F.broadcast(small), F.col("id") == F.col("k"))
    sig = plan_signature(joined)
    assert sig["BroadcastHashJoin"] == 1, sig
    assert "SortMergeJoin" not in sig and "ShuffledHashJoin" not in sig, sig

    bars = spark.range(50).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("t"),
        F.col("id").cast("double").alias("close"),
    )
    sig = plan_signature(with_indicators(bars, ["k"], ["t"]))
    assert sig["MapInArrow"] == 1 and sig["exchange"] == 1, sig
