"""Per-job wall-time profile of bench families via the Spark event log.

Usage: python tools/profile_family.py <family> [family ...] [--reps N]

Runs each family from bench.families exactly like bench.py (same session
config, same noop materialization, state prebuild and warmup first),
labelling every rep with a job description, then parses the event log
to print per-job and per-stage durations — the local stand-in for the
Spark UI's stage table (optimization guide §1.1/§7.1).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = [a for a in sys.argv[1:] if not a.startswith("--")]
reps = 3
for a in sys.argv[1:]:
    if a.startswith("--reps"):
        reps = int(a.split("=")[1])

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
evdir = tempfile.mkdtemp(prefix="cvs_evlog_")

import bench
from clinical_vector_search_spark.session import get_spark

spark = get_spark(
    "cvs-spark-profile",
    extra_conf={
        **bench.BENCH_CONF,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": evdir,
    },
)
spark.sparkContext.setLogLevel("ERROR")

bench.warm(spark, sf_dir)
fams = bench.families(spark, sf_dir)

# one throwaway run per family after its state prebuild, like bench.py
sc = spark.sparkContext
for name in args:
    run, prebuild = fams[name]
    if prebuild:
        sc.setJobDescription(f"{name}|prebuild")
        prebuild()
    sc.setJobDescription(f"{name}|warmup")
    t0 = time.time()
    bench.materialize(run())
    print(f"{name} warmup: {time.time()-t0:.3f}s", file=sys.stderr)
    for r in range(reps):
        sc.setJobDescription(f"{name}|rep{r}")
        t0 = time.time()
        bench.materialize(run())
        print(f"{name} rep{r}: {time.time()-t0:.3f}s", file=sys.stderr)
    sc.setJobDescription(None)

spark.stop()

# ---- parse the event log ----
logf = None
for root, _dirs, files in os.walk(evdir):
    for f in files:
        if f.startswith("events_"):
            logf = os.path.join(root, f)
assert logf, f"no event log in {evdir}"


def _open(path):
    if path.endswith(".zstd"):
        import zstandard

        fh = zstandard.ZstdDecompressor().stream_reader(open(path, "rb"))
        import io as _io

        return _io.TextIOWrapper(fh)
    return open(path)

jobs: dict[int, dict] = {}
stages: dict[int, dict] = {}
for line in _open(logf):
    try:
        ev = json.loads(line)
    except json.JSONDecodeError:
        continue
    e = ev.get("Event")
    if e == "SparkListenerJobStart":
        jid = ev["Job ID"]
        jobs[jid] = {
            "desc": ev.get("Properties", {}).get(
                "spark.job.description", ""
            ),
            "t0": ev["Submission Time"],
            "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
        }
    elif e == "SparkListenerJobEnd":
        jid = ev["Job ID"]
        if jid in jobs:
            jobs[jid]["t1"] = ev["Completion Time"]
    elif e == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        sid = si["Stage ID"]
        stages[sid] = {
            "name": si.get("Stage Name", "")[:60],
            "dur": (si.get("Completion Time", 0)
                    - si.get("Submission Time", 0)) / 1000.0,
            "tasks": si.get("Number of Tasks"),
        }

per_desc: dict[str, list] = {}
for jid in sorted(jobs):
    j = jobs[jid]
    if "t1" not in j:
        continue
    per_desc.setdefault(j["desc"], []).append((jid, j))

for desc, js in per_desc.items():
    if "|rep" not in desc and "|warmup" not in desc:
        continue
    tot = sum(j["t1"] - j["t0"] for _, j in js) / 1000.0
    t_first = min(j["t0"] for _, j in js)
    t_last = max(j["t1"] for _, j in js)
    span = (t_last - t_first) / 1000.0
    print(f"\n== {desc}: {len(js)} jobs, sum {tot:.3f}s, span {span:.3f}s")
    for jid, j in js:
        d = (j["t1"] - j["t0"]) / 1000.0
        ss = [
            (sid, stages.get(sid)) for sid in j["stages"]
            if sid in stages
        ]
        stage_str = "; ".join(
            f"s{sid} {info['dur']:.2f}s/{info['tasks']}t {info['name']}"
            for sid, info in ss
        )
        print(f"  job {jid}: {d:6.3f}s  [{stage_str}]")
