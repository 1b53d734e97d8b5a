"""Benchmark driver: one seeded workload through the package's public API.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also writes
a Spark event log and reports the per-layer metrics instead. The line
before it holds the session facts. Everything the run writes stays under
``.perfbench/`` in the checkout; reports are kept in ``.perfbench/reports``.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clinical_vector_search_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
# no round starts after this much process wall time, so a slow host
# cannot push a run past its time limit
WALL_LIMIT_S = 140.0


class Ctx:
    """What a workload needs from the driver."""

    def __init__(self, spark, gen, rec, ledger, work):
        self.spark, self.gen, self.rec, self.ledger = spark, gen, rec, ledger
        self.work = work
        self.units = 0  # work items completed by timed operations


def start_spark(work: str, nproc: int, trace: bool):
    from clinical_vector_search_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:CompileThresholdScaling: JIT-compile hot methods after 1/20
        # of the default invocation counts, so compilation finishes during
        # warm-up instead of speeding requests up through the timed window.
        # -Xms + AlwaysPreTouch: a pre-sized, pre-touched heap, so peak
        # memory does not vary with the collector's heap-growth decisions.
        # -UsePerfData: no hsperfdata files outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:CompileThresholdScaling=0.05"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "events"),
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_facts(spark, args, nproc: int) -> dict:
    conf = spark.conf
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark": spark.version, "python": platform.python_version(),
    }


def round_metrics(wl, ctx) -> dict:
    """``round_s`` and ``throughput_per_s`` from the timed operations."""
    spans = ctx.rec.op_spans()
    round_s = 0.0
    for op, weight in wl.round_weights.items():
        lat = [s.dur for s in spans if s.name == op]
        if not lat:
            raise RuntimeError(f"no successful timed {op} operation")
        round_s += weight * median(lat)
    timed = sum(s.dur for s in ctx.rec.spans if s.kind == "op" and s.timed)
    return {
        "round_s": (round_s, "s"),
        "throughput_per_s": (ctx.units / timed, "1/s"),
    }


def per_layer(wl, ctx, work: str, session_s: float, setups: list[float]):
    """Attribute the event log to operations; returns (metrics, report)."""
    import layers as T

    jobs, stages = T.parse_event_log(T.event_files(os.path.join(work, "events")))
    per_op, labelled = T.attribute(ctx.rec, jobs, stages)
    rows = [m for _, m in per_op]
    spans = ctx.rec.op_spans()
    metrics = {
        "session.start_s": (session_s, "s"),
        "setup.cold_s": (setups[0], "s"),
        "setup.build_s": (median(setups), "s"),
        "op.wall_s": (sum(s.dur for s in spans) / len(spans), "s"),
        "op.labelled_share": (labelled, "ratio"),
    }
    units = {"jobs": "count", "tasks": "count", "shuffle_bytes": "B",
             "cpu_share": "ratio"}
    for k, v in T.mean_metrics(rows).items():
        metrics[f"op.{k}"] = (v, units.get(k, "s"))
    report = {}
    for op in wl.ops:
        mine = [m for name, m in per_op if name == op]
        if mine:
            report.update({f"{op}.{k}": v for k, v in T.mean_metrics(mine).items()})
            report[f"{op}.count"] = len(mine)
    return metrics, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t_process = time.time()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    reports = os.path.join(base, "reports")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(reports, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    import gen as G
    from host import ProcessTree, stop_spark
    from stats import Ledger, tail_percentile
    from layers import Recorder

    tree = ProcessTree()
    tree.start()
    spark = None
    try:
        nproc = len(os.sched_getaffinity(0))
        t0 = time.time()
        spark = start_spark(work, nproc, bool(args.trace))
        session_s = time.time() - t0
        facts = session_facts(spark, args, nproc)
        label = spark.sparkContext.setJobDescription if args.trace else None
        ctx = Ctx(spark, G.Gen(args.seed), Recorder(label), Ledger(), work)
        if args.workload == "serve":
            from serve import Serve as W
        else:
            from ingest import Ingest as W
        wl = W(ctx)
        wl.generate()
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.time()
            wl.setup()
            setups.append(time.time() - t)
        wl.warmup()
        # whole rounds only, and only those expected to end in time:
        # an ingest round is most of the window, so a round that would
        # overrun it is not started
        start = time.time()
        rnd, longest = 0, 0.0
        while rnd == 0 or (
            time.time() + longest <= start + args.seconds
            and time.time() - t_process < WALL_LIMIT_S
        ):
            t = time.time()
            wl.round(rnd)
            longest = max(longest, time.time() - t)
            rnd += 1
        files, bytes_ratio = wl.index_stats()
        tree.sample()
        peak = tree.peak_bytes
    finally:
        if spark is not None:
            stop_spark(spark)
        tree.stop_sampling()
        tree.wait_all()

    ledger = ctx.ledger
    facts.update(wl.facts())
    facts.update({
        "rounds": rnd, "setup_runs_s": setups, "session_start_s": session_s,
        "error_rate": ledger.error_rate(),
        "failures": [f"{op}: {why}" for op, why in ledger.failures[:10]],
    })
    for op in wl.ops:
        lat = [s.dur for s in ctx.rec.op_spans(op)]
        facts[f"{op}_latency_s"] = {
            "n": len(lat), "p50": median(lat) if lat else None,
            "tail": tail_percentile(lat),
        }
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layer, by_op = per_layer(wl, ctx, work, session_s, setups)
        layer.update({f"trace.{k}": v for k, v in round_metrics(wl, ctx).items()})
        layer["index.files"] = (files, "count")
        layer["index.bytes_per_user_byte"] = (bytes_ratio, "ratio")
        untraced_path = os.path.join(reports, f"{tag}.json")
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                plain = json.load(f)["metrics"]
            facts["tracing_overhead"] = {
                k: layer[f"trace.{k}"][0] / plain[k]["value"] - 1
                for k in ("round_s", "throughput_per_s") if k in plain
            }
        out_metrics = layer
        ctx.rec.dump(os.path.join(reports, f"{tag}-spans.json"))
        with open(os.path.join(reports, f"{tag}-trace.json"), "w") as f:
            json.dump({"facts": facts, "per_op": by_op,
                       "per_layer": {k: v[0] for k, v in layer.items()}}, f, indent=1)
        for k, v in sorted(by_op.items()):
            print(f"perfbench: {k} = {v:.4g}", file=sys.stderr)
    else:
        out_metrics = {
            **round_metrics(wl, ctx),
            "setup_s": (median(setups), "s"),
            "peak_pss_mb": (peak / 2**20, "MB"),
        }
    for why in facts["failures"]:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
    }
    if not args.trace:
        with open(os.path.join(reports, f"{tag}.json"), "w") as f:
            json.dump(result, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"facts": facts}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
