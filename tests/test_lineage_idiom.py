"""One lineage-cut idiom in the engine and the examples:
``df.localCheckpoint(eager=False)``. No ``persist()`` or ``cache()`` (a
cache entry nobody releases), no eager or bare ``localCheckpoint()``
(an extra job per cut). The exception is ``streaming/drift_monitor.py``,
whose scoped persists keep lineage so a long-lived monitor survives
executor loss."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
EXEMPT = ROOT / "airflow_kafka_spark_spark" / "streaming" / "drift_monitor.py"
FORBIDDEN = re.compile(r"\.persist\(|\.cache\(\)|eager=True|localCheckpoint\(\)")


def test_one_lineage_cut_idiom():
    hits = [
        f"{path.relative_to(ROOT)}:{lineno}: {line.strip()}"
        for top in ("airflow_kafka_spark_spark", "examples")
        for path in sorted((ROOT / top).rglob("*.py"))
        if path != EXEMPT
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "use localCheckpoint(eager=False):\n" + "\n".join(hits)
