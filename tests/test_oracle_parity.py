"""Oracle-differential tests (SURVEY.md §5.2.1): every catalog query runs
on Spark and on DuckDB at sf0.001 and must match exactly — the local
pre-flight for the driver's CORRECTNESS gate at sf0.01."""

from __future__ import annotations

import pytest

from airflow_kafka_spark_spark.plans.catalog import CATALOG

from .conftest import SF_DIR
from .oracle_utils import compare, duck_connection, output_hash

ORACLE_QUERIES = [name for name, q in CATALOG.items() if q.oracle is not None]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_parity(spark, duck, name):
    q = CATALOG[name]
    spark_df = q.fn(spark, SF_DIR)
    oracle_pdf = duck.execute(q.oracle).df()
    problems = compare(spark_df, oracle_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_rows_only_queries_run(spark):
    """Oracle-less queries must still produce rows on the non-empty
    fixtures — `>= 0` would let a regression-to-empty pass silently."""
    for name, q in CATALOG.items():
        if q.oracle is None:
            assert q.fn(spark, SF_DIR).count() > 0, name


def test_output_hash_ignores_order_and_sees_one_value():
    """The hash oracle_subset prints: the same rows in another row or
    column order hash alike; one changed value (by one ULP) does not."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"k": ["a", "b", None], "v": [0.1 + 0.2, float("nan"), 3.0], "n": [1, 2, 3]}
    )
    shuffled = pdf.iloc[[2, 0, 1]][["n", "v", "k"]].reset_index(drop=True)
    assert output_hash(shuffled) == output_hash(pdf)
    changed = pdf.copy()
    changed.loc[0, "v"] = 0.3
    assert output_hash(changed) != output_hash(pdf)
