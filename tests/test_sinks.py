"""Partitioned/bucketed output layouts and the broadcast price attach:
the plan-visible scale features (PartitionFilters pruning, shuffle-free
bucketed joins, broadcast side input)."""

from __future__ import annotations

import contextlib
import io
import os
import tempfile

from pyspark.sql import functions as F

from airflow_kafka_spark_spark.sources.files import load_table
from airflow_kafka_spark_spark.sources.sinks import (
    write_bucketed_table,
    write_partitioned,
)
from .conftest import SF_DIR


def _explain(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_partition_pruning(spark):
    ev = load_table(spark, SF_DIR, "events")
    path = os.path.join(tempfile.mkdtemp(), "ev_by_type")
    write_partitioned(ev, path, ["event_type"])
    assert sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("event_type=")
    ) == sorted(r["event_type"] for r in ev.select("event_type").distinct().collect())

    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    s = _explain(back)
    pf = s.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf  # pruning happens at the scan, not post-filter
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_bucketed_join_no_shuffle(spark):
    import shutil

    # managed-table locations may survive a previous session's metastore
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("ev_bucketed_a", "ev_bucketed_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)

    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_id", "value")
    write_bucketed_table(ev, "ev_bucketed_a", ["user_id"], 4)
    write_bucketed_table(
        ev.groupBy("user_id").agg(F.count("*").alias("n")),
        "ev_bucketed_b",
        ["user_id"],
        4,
    )
    a = spark.table("ev_bucketed_a")
    b = spark.table("ev_bucketed_b")
    # at fixture scale the dim side broadcasts (also shuffle-free, but it
    # hides bucketing); force the sort-merge path a big-big join takes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "user_id")
        s = _explain(joined, mode="simple")
        assert "SortMergeJoin" in s, s
        assert "Exchange" not in s, s  # co-bucketed: no shuffle either side
        assert joined.count() == ev.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_attach_current_prices_broadcasts(spark):
    from airflow_kafka_spark_spark.operators.parse import (
        attach_current_prices,
        explode_history,
        parse_history_messages,
        parse_snapshot_messages,
    )
    from airflow_kafka_spark_spark.sources.fixtures import build_history_messages

    msgs = build_history_messages(spark, SF_DIR)
    bars = explode_history(parse_history_messages(msgs)).drop("current_price")

    # snapshot built from the same messages' embedded price
    import json

    snap_obj = {"time": "2024-01-01T00:00:00"}
    for r in msgs.collect():
        v = json.loads(r["value"])
        snap_obj[v["symbol"]] = v["current_price"]
    snap_raw = spark.createDataFrame(
        [(json.dumps(snap_obj).encode(),)], "value binary"
    )
    snapshot = parse_snapshot_messages(snap_raw)

    out = attach_current_prices(bars, snapshot)
    assert "BroadcastHashJoin" in _explain(out, mode="simple")
    # every bar row got the symbol's snapshot price (same source → equal
    # to the embedded current_price the reference fans out)
    orig = explode_history(parse_history_messages(msgs)).select(
        "symbol", "time", F.col("current_price").alias("embedded")
    )
    cmp = out.join(orig, ["symbol", "time"])
    assert cmp.filter(F.col("current_price") != F.col("embedded")).count() == 0
    assert cmp.filter(F.col("current_price").isNull()).count() == 0


def test_csv_and_jsonl_sources_match_parquet(spark):
    """Round-trip events through CSV and JSON-lines with explicit
    schemas: same rows as the parquet original (format-independent
    source layer)."""
    from airflow_kafka_spark_spark.sources.files import (
        read_csv_table,
        read_jsonl_table,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    base = tempfile.mkdtemp()
    csv_p, json_p = os.path.join(base, "ev.csv"), os.path.join(base, "ev.jsonl")
    fmt = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    ev.withColumn("ts", fmt).write.option("header", "true").csv(csv_p)
    ev.withColumn("ts", fmt).write.json(json_p)

    want = sorted(map(tuple, ev.collect()))
    for back in (
        read_csv_table(spark, csv_p, schema),
        read_jsonl_table(spark, json_p, schema),
    ):
        got = sorted(map(tuple, back.select(*ev.columns).collect()))
        assert got == want


def test_malformed_csv_rows_go_null(spark):
    from airflow_kafka_spark_spark.sources.files import read_csv_table

    base = tempfile.mkdtemp()
    p = os.path.join(base, "bad.csv")
    with open(os.path.join(base, "bad.csv"), "w") as f:
        f.write("event_id,value\n1,2.5\nnot_a_number,oops\n3,4.5\n")
    out = read_csv_table(spark, p, "event_id long, value double").collect()
    assert len(out) == 3
    bad = [r for r in out if r["event_id"] is None]
    assert len(bad) == 1 and bad[0]["value"] is None


def test_compact_partitioned(spark):
    from airflow_kafka_spark_spark.sources.sinks import compact_partitioned

    ev = load_table(spark, SF_DIR, "events")
    path = os.path.join(tempfile.mkdtemp(), "ev_frag")
    # fragment: tiny files (many per partition)
    ev.repartition(16).write.option("maxRecordsPerFile", 50).partitionBy(
        "event_type"
    ).parquet(path)

    def n_files():
        return sum(
            1 for root, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )

    before_rows = spark.read.parquet(path).count()
    before_files = n_files()
    compact_partitioned(spark, path, ["event_type"])
    assert n_files() < before_files / 4  # actually compacted
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__backup")


def test_upsert_latest_wins(spark):
    from airflow_kafka_spark_spark.sources.sinks import upsert_partitioned

    path = os.path.join(tempfile.mkdtemp(), "tbl")
    base = spark.createDataFrame(
        [(1, 1, 10.0, "a"), (2, 1, 20.0, "a"), (3, 1, 30.0, "b")],
        "id long, version long, value double, part string",
    )
    base.write.partitionBy("part").parquet(path)
    updates = spark.createDataFrame(
        [(2, 2, 25.0, "a"),   # replaces id=2
         (4, 1, 40.0, "b")],  # new row
        "id long, version long, value double, part string",
    )
    upsert_partitioned(spark, path, updates, ["id"], ["version"], ["part"])
    got = {r["id"]: (r["version"], r["value"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (1, 10.0), 2: (2, 25.0), 3: (1, 30.0), 4: (1, 40.0)}


def test_compact_recovers_from_crashed_swap(spark):
    """A table left at the backup path by a mid-swap crash is restored
    on the next invocation."""
    from airflow_kafka_spark_spark.sources.sinks import compact_partitioned

    ev = load_table(spark, SF_DIR, "events").limit(100)
    path = os.path.join(tempfile.mkdtemp(), "tbl")
    write_partitioned(ev, path, ["event_type"])
    n = spark.read.parquet(path).count()
    # simulate the crash window: table renamed to backup, nothing at path
    os.rename(path, path + "__backup")
    compact_partitioned(spark, path, ["event_type"])
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(path + "__backup")


def test_crashed_compaction_heals_for_the_next_writer(spark, tmp_path):
    """Every table rewrite shares one staging/backup name pair, so a
    compaction that crashed mid-swap is healed by whichever writer runs
    next. With per-writer backup names, the upsert started a new table
    from the updates alone and the next compaction deleted the real
    table as a stale backup."""
    from airflow_kafka_spark_spark.sources.sinks import (
        compact_partitioned,
        upsert_partitioned,
    )

    path = str(tmp_path / "tbl")
    rows = [(i, 1, float(i), "ab"[i % 2]) for i in range(10)]
    schema = "id long, version long, value double, part string"
    write_partitioned(spark.createDataFrame(rows, schema), path, ["part"])
    # the compaction's crash window: table renamed to backup, nothing at path
    os.rename(path, path + "__backup")
    updates = spark.createDataFrame([(3, 2, 33.0, "b")], schema)
    upsert_partitioned(spark, path, updates, ["id"], ["version"], ["part"])
    compact_partitioned(spark, path, ["part"])
    got = {r["id"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert got == {**{i: float(i) for i in range(10)}, 3: 33.0}
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__backup")


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC round-trips the fixture exactly and pushes filters into the
    scan, same as parquet."""
    import contextlib
    import io

    from airflow_kafka_spark_spark.sources.files import (
        load_table,
        read_orc_table,
        write_orc_table,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    path = str(tmp_path / "li_orc")
    write_orc_table(li, path)
    back = read_orc_table(spark, path)
    assert back.count() == li.count()
    assert back.schema == li.schema
    q = back.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="formatted")
    s = buf.getvalue()
    assert "PushedFilters" in s and "l_quantity" in s.split("PushedFilters:")[1].splitlines()[0], s


def test_binary_file_source_feeds_image_decode(spark, tmp_path):
    """binaryFile dir scan → ext.multimodal.decode_image_meta: real PNG
    files on disk round-trip through the raw-asset ingestion path with
    dimensions intact; the glob filter excludes foreign files at
    listing time and max_bytes drops the oversized asset via the
    length metadata column."""
    from airflow_kafka_spark_spark.ext.multimodal import decode_image_meta, make_png
    from airflow_kafka_spark_spark.sources.files import read_binary_dir

    d = tmp_path / "assets" / "sub"
    d.mkdir(parents=True)
    (d / "a.png").write_bytes(make_png(17, 9, seed=1))
    (d / "b.png").write_bytes(make_png(5, 31, seed=2))
    big = make_png(64, 64, seed=3)
    (d / "big.png").write_bytes(big)
    (d / "notes.txt").write_bytes(b"not an image")

    df = read_binary_dir(
        spark, str(tmp_path / "assets"), glob="*.png", max_bytes=len(big) - 1
    )
    rows = df.select("path", "length", "content").collect()
    assert sorted(r["path"].rsplit("/", 1)[-1] for r in rows) == ["a.png", "b.png"]

    from pyspark.sql import functions as F

    payloads = df.select(
        # binaryFile has no numeric id — derive one from the filename
        F.xxhash64(F.element_at(F.split("path", "/"), -1)).alias("doc_id"),
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("content").alias("payload"),
    )
    ids = {r["name"]: r["doc_id"] for r in payloads.collect()}
    meta = {
        r["doc_id"]: (r["width"], r["height"])
        for r in decode_image_meta(
            payloads.select("doc_id", "payload"), decoder="png"
        ).collect()
    }
    assert meta[ids["a.png"]] == (17, 9)
    assert meta[ids["b.png"]] == (5, 31)
