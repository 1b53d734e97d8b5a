"""Every SparkSession comes from session.get_spark: no entry point,
tool, test or benchmark builds one by hand (a pure source scan), and no
package module needs a session to be imported (one fresh interpreter)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
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


def test_every_package_module_imports_without_a_session():
    code = (
        "import importlib, pkgutil\n"
        "from pyspark.sql import SparkSession\n"
        "import clinical_vector_search_spark as pkg\n"
        "bad = []\n"
        "for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + '.'):\n"
        "    try:\n"
        "        importlib.import_module(m.name)\n"
        "    except Exception as e:\n"
        "        bad.append(f'{m.name}: {e!r}')\n"
        "assert not bad, bad\n"
        "assert SparkSession.getActiveSession() is None\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
