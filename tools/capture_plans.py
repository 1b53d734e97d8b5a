"""Capture .explain("formatted") for every bench family into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [family ...]
Writes plans/<tag>/<family>_<suffix>.txt (suffix defaults to "before").
The tag is required, so a bare run never overwrites committed plans.
Families default to all. The families are bench.families on bench's
session settings, so the captured plan is the benched plan;
persisted-state families run their prebuild first, as bench does outside
its timed region.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    tag = argv[0]
    suffix = argv[1] if len(argv) > 1 else "before"
    only = set(argv[2:])

    import bench
    from clinical_vector_search_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("cvs-spark-capture-plans", extra_conf=bench.BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, (run, prebuild) in bench.families(spark, sf_dir).items():
        if only and name not in only:
            continue
        try:
            if prebuild:
                prebuild()
            buf = io.StringIO()
            with redirect_stdout(buf):
                run().explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as ex:  # noqa: BLE001
            print(f"FAILED {name}: {ex}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
