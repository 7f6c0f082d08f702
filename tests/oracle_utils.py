"""Local replica of the driver's DuckDB-oracle comparison: row count,
sorted-by-name columns, order-insensitive value comparison. Exact by
default (we engineer queries for bit-identical output); reports max
numeric deviation on mismatch to aid debugging."""

from __future__ import annotations

import hashlib
import time
import traceback

import duckdb
import pandas as pd

from airflow_kafka_spark_spark.sources.files import TABLES

# Every entry runs under BOTH session shapes a harness might use: the
# r02 range_join_clicks failure proved the real driver sets
# spark.sql.timestampType=TIMESTAMP_NTZ, and the conf is runtime-settable.
TS_TYPES = ("TIMESTAMP_NTZ", "TIMESTAMP_LTZ")

# rows-only canonicalization cap: big enough to exercise every dtype the
# driver's pandas sort will see, small enough to bound driver transfer
# (rows-only entries currently emit 5-16 rows; this guards future ones)
CANON_CAP = 10_000


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return pdf


def output_hash(pdf: pd.DataFrame) -> str:
    """sha256 of a result's canonical form (``_canon``: columns by name,
    rows sorted), so it does not depend on row or column order."""
    canon = _canon(pdf)
    text = canon.to_csv(index=False, na_rep="<NULL>", lineterminator="\n")
    return hashlib.sha256(text.encode()).hexdigest()


def compare(spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty → parity).
    ``spark_df`` is a Spark DataFrame or its ``toPandas()`` frame."""
    problems: list[str] = []
    spark_pdf = (
        spark_df if isinstance(spark_df, pd.DataFrame) else spark_df.toPandas()
    )
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    if len(a) != len(b):
        return problems
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            # int-on-one-side / float-on-the-other renders differently
            # ("1540" vs "1540.0") — a value-hash mismatch for the driver
            # even when numerically equal. DuckDB returns HUGEINT sums as
            # float64; require explicit CASTs in the oracle instead.
            kinds = {av.dtype.kind, bv.dtype.kind}
            if kinds & {"i", "u"} and not (av.isna().any() or bv.isna().any()):
                problems.append(
                    f"col {col}: dtype kind mismatch spark={a[col].dtype} "
                    f"oracle={b[col].dtype} (int vs float renders differently)"
                )
            av = av.astype("float64")
            bv = bv.astype("float64")
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                diffs = (av - bv).abs()
                problems.append(
                    f"col {col}: {int((~eq).sum())} mismatches, "
                    f"max |diff|={diffs.max()}, first bad rows {bad.tolist()}: "
                    f"spark={av.iloc[bad].tolist()} oracle={bv.iloc[bad].tolist()}"
                )
        else:
            av_n = av.where(pd.notna(av), None).astype(object)
            bv_n = bv.where(pd.notna(bv), None).astype(object)
            eq = av_n.map(str) == bv_n.map(str)
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                problems.append(
                    f"col {col}: {int((~eq).sum())} value mismatches, rows {bad.tolist()}: "
                    f"spark={av_n.iloc[bad].tolist()} oracle={bv_n.iloc[bad].tolist()}"
                )
    return problems


def err_tail(n: int = 3) -> str:
    """Last non-blank traceback lines. `splitlines()[-1]` alone recorded
    an EMPTY error for the one sf0.1 pagerank failure ever observed
    (py4j tracebacks can end with a blank line), leaving nothing to
    diagnose — keep the last few real lines instead."""
    lines = [l for l in traceback.format_exc().splitlines() if l.strip()]
    return " | ".join(lines[-n:])


def check_entry(spark, con, fn, sf_dir: str, oracle: str | None) -> dict:
    """Run one catalog entry under each of ``TS_TYPES`` and check it the
    way the driver does: against the DuckDB ``oracle`` SQL when there is
    one, else through the driver's pandas canonicalization.

    Returns ``{"ok": bool, "sec": float}`` plus detail keys tagged with
    the timestamp type ``<ts>`` (``ntz`` or ``ltz``): ``problems_<ts>``
    for an oracle mismatch, ``err_<ts>`` for a query error,
    ``err_canon_<ts>`` for a pandas canonicalization failure,
    ``rows_only_<ts>`` (the row count) for an entry without an oracle,
    and ``hash_<ts>``, the :func:`output_hash` of the Spark output
    (for a rows-only entry, of its first ``CANON_CAP`` rows)."""
    t0 = time.time()
    entry: dict = {"ok": True}
    for ts_type in TS_TYPES:
        spark.conf.set("spark.sql.timestampType", ts_type)
        tag = ts_type.rsplit("_", 1)[-1].lower()
        try:
            df = fn(spark, sf_dir)
            if oracle is not None:
                pdf = df.toPandas()
                problems = compare(pdf, con.execute(oracle).df())
                if problems:
                    entry["ok"] = False
                    entry[f"problems_{tag}"] = problems[:3]
                entry[f"hash_{tag}"] = output_hash(pdf)
            else:
                # rows-only entries: ONE bounded execution per ts type —
                # limit().toPandas() keeps the real Arrow dtype path (the
                # driver canonicalizes via pandas; an array-typed column
                # crashes its sort_values with "unhashable type: 'list'"
                # — approx_aggs, CORRECTNESS_r03) while capping driver
                # transfer for pair-generating outputs.
                pdf = df.limit(CANON_CAP).toPandas()
                entry[f"rows_only_{tag}"] = len(pdf)
                try:
                    pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
                    entry[f"hash_{tag}"] = output_hash(pdf)
                except Exception:
                    entry["ok"] = False
                    entry[f"err_canon_{tag}"] = err_tail()
        except Exception:
            entry["ok"] = False
            entry[f"err_{tag}"] = err_tail()
    entry["sec"] = round(time.time() - t0, 2)
    return entry
