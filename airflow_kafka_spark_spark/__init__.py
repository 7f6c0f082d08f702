"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference stock-analytics pipeline
(DaoTienSang/Airflow-kafka-spark), re-expressed Spark-first.

Layout (SURVEY.md §7):
    session.py     SparkSession builder with the reference's stability confs
    schemas.py     explicit StructTypes for every wire/data format
    sources/       Kafka + file sources, synthetic fixture builders, lake
                   sinks and the one crash-safe table-rewrite protocol
    operators/     parse, dedup-latest, indicators (W1-W10), signals (C1-C2),
                   serialize, relational helpers, temporal, spatial
    functions/     reusable column-level building blocks (windows, ema)
    streaming/     Structured Streaming shell (trigger, checkpoint, shutdown),
                   stateful delta feed, continuous rollup, drift monitor
    ext/           LLM-data-pipeline extensions: dedup, similarity, textstats,
                   multimodal, graph, drift, fuzzy, outliers
    plans/         the query catalog consumed by __spark_entry__ (queries +
                   DuckDB oracle SQL)

All analytics run on executors via DataFrame/Window/Arrow kernels — the
reference's driver-side pandas detour (reference spark/stock_analysis.py:153
``toPandas()`` inside ``foreachBatch``) is deliberately not reproduced.
"""

from . import _zipimport_cache  # noqa: F401  (Python-worker per-task cost)

__version__ = "0.1.0"
