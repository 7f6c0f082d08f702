"""One table-rewrite protocol in the engine: only ``sources/sinks.py``
renames or deletes directories. Every writer that replaces a stored
table goes through its ``heal_table`` / ``rewrite_table``, so all of
them share one staging/backup name pair per path and any writer heals
another's crashed swap."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
OWNER = ROOT / "airflow_kafka_spark_spark" / "sources" / "sinks.py"
FORBIDDEN = re.compile(r"\bos\.rename\(|\bos\.replace\(|\bshutil\.rmtree\(")


def test_one_table_rewrite_protocol():
    hits = [
        f"{path.relative_to(ROOT)}:{lineno}: {line.strip()}"
        for path in sorted((ROOT / "airflow_kafka_spark_spark").rglob("*.py"))
        if path != OWNER
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "rewrite tables via sources.sinks:\n" + "\n".join(hits)
