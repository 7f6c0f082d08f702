#!/usr/bin/env python
"""Delta-feed mode end-to-end: the engine-native quotefeed poll stream
feeding the stateful MACD, checked bit-for-bit against the batch kernel.

    python examples/delta_feed_macd.py

The reference's stream re-ships every symbol's FULL history each poll
cycle (spark/stock_analysis.py:57-78); at 100 TB the transport alone
dominates. This example runs the scalable alternative the engine ships
in streaming/stateful.py:

  quotefeed readStream (numBars=1)          # engine-native poll source
    -> quotefeed_deltas                     # stateless: last bar only
    -> running_macd (applyInPandasWithState)  # EMA state across batches,
                                            # one state row per key bucket
    -> memory sink

and then proves the point of the design: after N poll cycles, the
streamed per-bar MACD values equal the batch kernel (functions/ema
macd_columns) run over the full N-bar history — EXACTLY, not
approximately, because the EMA recurrence's state at a batch boundary
fully captures its history. The state is grouped by a fixed hash bucket
of the symbol (``STATE_BUCKETS``), so each micro-batch makes one Python
call per bucket, whatever the number of symbols; each symbol is still
its own series.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SYMBOLS = ("FPT", "VNM")
CYCLES = 12


def main() -> None:
    import numpy as np

    from airflow_kafka_spark_spark.functions.ema import macd_columns
    from airflow_kafka_spark_spark.operators.parse import (
        explode_history,
        parse_history_messages,
    )
    from airflow_kafka_spark_spark.session import build_session
    from airflow_kafka_spark_spark.sources.quotefeed import register_quotefeed
    from airflow_kafka_spark_spark.streaming.stateful import (
        quotefeed_deltas,
        running_macd,
    )

    spark = build_session(app_name="delta-feed-macd")
    spark.sparkContext.setLogLevel("ERROR")
    register_quotefeed(spark)

    # --- the streaming leg -------------------------------------------
    raw = (
        spark.readStream.format("quotefeed")
        .option("symbols", ",".join(SYMBOLS))
        .option("numBars", "1")
        .load()
    )
    q = (
        running_macd(quotefeed_deltas(raw))
        .writeStream.format("memory")
        .queryName("delta_macd")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    target = len(SYMBOLS) * CYCLES
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM delta_macd").first()[0] >= target:
                break
            time.sleep(0.3)
    finally:
        q.stop()

    streamed = spark.sql("SELECT * FROM delta_macd").collect()
    # n_rows is the cumulative bar count per symbol -> bar index + 1
    by_symbol: dict[str, dict[int, dict]] = {s: {} for s in SYMBOLS}
    for r in streamed:
        by_symbol[r["symbol"]][r["n_rows"] - 1] = r
    # name the timeout instead of letting max() on an empty dict throw
    # an opaque ValueError (r13 review: the overshoot direction already
    # had its explanatory assert; the undershoot did not)
    empty = [s for s in SYMBOLS if not by_symbol[s]]
    assert not empty, (
        f"stream produced no MACD rows for {empty} within the deadline "
        "— loaded host; rerun"
    )

    # --- the batch oracle --------------------------------------------
    print(f"\n== streamed {len(streamed)} delta-bar MACD rows ==")
    worst = 0.0
    for s in SYMBOLS:
        n = max(by_symbol[s]) + 1
        batch = (
            spark.read.format("quotefeed")
            .option("symbols", s)
            .option("numBars", str(n))
            .load()
        )
        bars = explode_history(
            parse_history_messages(batch, value_col="message")
        ).orderBy("time").collect()
        closes = np.array([b["close"] for b in bars], dtype=np.float64)
        line, sig, hist = macd_columns(closes)
        for i in range(n):
            row = by_symbol[s][i]
            assert row["macd_line"] == line[i], (s, i, row["macd_line"], line[i])
            assert row["macd_signal"] == sig[i]
            assert row["macd_histogram"] == hist[i]
            worst = max(worst, abs(row["macd_line"] - line[i]))
        last = by_symbol[s][n - 1]
        print(
            f"{s}: {n} bars streamed, final close={last['close']:.2f} "
            f"macd={last['macd_line']:+.6f} signal={last['macd_signal']:+.6f}"
        )
    print(
        f"\nbit-exactness: max |streamed - batch| = {worst} "
        "(zero by construction — the recurrence state at each batch "
        "boundary fully captures its history)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
