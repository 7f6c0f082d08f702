"""Explicit StructTypes for every wire/data format the engine touches.

Schema discipline is a deliberate deviation from the reference, which
re-infers its output schema from pandas dtypes on every micro-batch
(reference spark/stock_analysis.py:241). Here every JSON edge has a
declared StructType in both directions (SURVEY.md §4.3.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# stock-history-topic message (reference spark/stock_analysis.py:27-40)
# one message = one symbol's full daily-history snapshot + current price
# ---------------------------------------------------------------------------
BAR_SCHEMA = T.StructType(
    [
        T.StructField("time", T.StringType()),  # 'yyyy-MM-dd'
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ]
)

STOCK_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("current_price", T.DoubleType()),  # nullable (dag:38-40)
        T.StructField("historical_data", T.ArrayType(BAR_SCHEMA)),
    ]
)

# ---------------------------------------------------------------------------
# stock-topic snapshot message (reference airflow/dags/fetch_to_kafka_dag.py:34-40)
# dynamic-keyed {time: iso-ts, <SYMBOL>: price|null} — modelled as a map
# ---------------------------------------------------------------------------
SNAPSHOT_SCHEMA = T.MapType(T.StringType(), T.StringType())

# indicator columns appended by operators.indicators (W1-W10)
INDICATOR_FIELDS = [
    T.StructField("ma5", T.DoubleType()),
    T.StructField("ma20", T.DoubleType()),
    T.StructField("rsi", T.DoubleType()),
    T.StructField("macd_line", T.DoubleType()),
    T.StructField("macd_signal", T.DoubleType()),
    T.StructField("macd_histogram", T.DoubleType()),
]

# ---------------------------------------------------------------------------
# processed — output row (reference spark/stock_analysis.py:244-261: 17 cols;
# the JSON `value` struct has 16 fields — no date_str, :262-268)
# ---------------------------------------------------------------------------
PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("date_str", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("current_price", T.DoubleType()),
        *INDICATOR_FIELDS,
        T.StructField("suggestion", T.StringType()),
        T.StructField("reason", T.StringType()),
    ]
)

# the 16 fields serialized into the Kafka JSON value, in reference order
JSON_VALUE_FIELDS = [
    "symbol", "time", "open", "high", "low", "close", "volume",
    "current_price", "ma5", "ma20", "rsi", "macd_line", "macd_signal",
    "macd_histogram", "suggestion", "reason",
]

# events.props JSON payload (driver fixture: {"k": <int>})
EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])
