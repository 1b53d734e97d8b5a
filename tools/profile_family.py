"""Per-job wall-time profile of bench families via the Spark event log.

Usage: python tools/profile_family.py <family> [family ...] [--reps N]

Runs each family from bench.families exactly like bench.py (same session
config, same noop materialization, state prebuild and warmup first),
labelling every rep with a job description, then parses the event log
with perfbench's parser to print per-job durations and per-stage tasks,
task time and CPU time — the local stand-in for the Spark UI's stage
table (optimization guide §1.1/§7.1).
"""

from __future__ import annotations

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
from perfbench.layers import event_files, parse_event_log

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
jobs, stages = parse_event_log(event_files(evdir))
assert jobs, f"no event log in {evdir}"

per_desc: dict[str, list] = {}
for jid in sorted(jobs):
    j = jobs[jid]
    if j.end:
        per_desc.setdefault(j.description or "", []).append(j)

for desc, js in per_desc.items():
    if "|rep" not in desc and "|warmup" not in desc:
        continue
    tot = sum(j.end - j.submit for j in js)
    span = max(j.end for j in js) - min(j.submit for j in js)
    print(f"\n== {desc}: {len(js)} jobs, sum {tot:.3f}s, span {span:.3f}s")
    for j in js:
        stage_str = "; ".join(
            f"s{sid} {st.tasks}t run {st.run_s:.2f}s cpu {st.cpu_s:.2f}s"
            for sid in j.stages
            if (st := stages.get(sid))
        )
        print(f"  job {j.job_id}: {j.end - j.submit:6.3f}s  [{stage_str}]")
