"""Every SparkSession comes from session.get_spark: no entry point,
tool, test or benchmark builds one by hand. Pure source scan, no Spark."""

from __future__ import annotations

import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
FACTORY = REPO / "clinical_vector_search_spark" / "session.py"
HAND_BUILT = re.compile(r"SparkSession\s*\.\s*builder")


def _sources():
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    for d in ("tools", "tests", "perfbench", "clinical_vector_search_spark"):
        for root, _dirs, files in os.walk(REPO / d):
            yield from (Path(root) / f for f in files if f.endswith(".py"))


def test_only_session_py_builds_a_session():
    offenders = [
        str(p.relative_to(REPO))
        for p in _sources()
        if p != FACTORY and HAND_BUILT.search(p.read_text())
    ]
    assert offenders == [], (
        f"hand-built SparkSession in {offenders}; use session.get_spark"
    )
