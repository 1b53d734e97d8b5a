"""Spans recorded by the benchmark, the Spark event-log parser, and the
attribution that turns both into per-layer metrics.

Spans come from the benchmark's own files: one span per operation, and one
child span per call into a package function inside it ("plan" for calls
that return a lazy DataFrame, "exec" for actions and for calls that write).
They stay in memory until the run ends. Spark jobs are attributed to the
operation whose span contains the job's submission time; with one
closed-loop client, operations never overlap. Traced runs also label each
operation's jobs with a job description, which the parser records so the
time-window attribution can be cross-checked.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Per-operation layer metrics, in the order they are reported.
LAYER_METRICS = (
    "plan_s", "exec_s", "driver_gap_s", "jobs", "tasks", "task_run_s",
    "exec_cpu_s", "cpu_share", "shuffle_bytes", "py_init_s", "py_run_s",
)


@dataclass
class Span:
    name: str
    kind: str  # "op", "plan" or "exec"
    start: float  # epoch seconds
    end: float
    parent: str | None
    req: int
    ok: bool = True
    timed: bool = True

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span list for one run."""

    def __init__(self, label_jobs=None):
        self.spans: list[Span] = []
        self._op: Span | None = None
        # label_jobs(text or None) sets the Spark job description; traced
        # runs only, since each call is a round trip to the JVM
        self._label = label_jobs

    @contextmanager
    def op(self, name: str, req: int, timed: bool = True):
        """Span one operation; warm-up operations pass ``timed=False``."""
        span = Span(name, "op", time.time(), 0.0, None, req, timed=timed)
        self._op = span
        if self._label:
            self._label(f"perfbench:{name}:{req}")
        try:
            yield span
        except BaseException:
            span.ok = False
            raise
        finally:
            span.end = time.time()
            self._op = None
            if self._label:
                self._label(None)
            self.spans.append(span)

    def _call(self, kind: str, fn, args, kwargs):
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"
            op = self._op
            self.spans.append(Span(
                name, kind, start, time.time(),
                op.name if op else None, op.req if op else -1,
            ))

    def plan(self, fn, *args, **kwargs):
        """Call a package function that builds a lazy DataFrame."""
        return self._call("plan", fn, args, kwargs)

    def exec(self, fn, *args, **kwargs):
        """Run an action, or a package call that writes."""
        return self._call("exec", fn, args, kwargs)

    def op_spans(self, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.kind == "op" and s.ok and s.timed
            and (name is None or s.name == name)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    description: str | None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    py_init_s: float = 0.0
    py_run_s: float = 0.0


_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain files, and the parts of
    Spark's rolling ``eventlog_v2_*`` directories in order."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            out += sorted(parts, key=lambda s: int(os.path.basename(s).split("_")[1]))
        elif not p.endswith(".inprogress"):
            out.append(p)
    return out


def parse_event_log(paths: list[str]) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs and per-stage task totals from uncompressed JSON-lines event
    logs. Task times are summed over every task attempt that ended, so work
    wasted on failed attempts is counted."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = Job(
                        jid, ev["Submission Time"] / 1000.0, 0.0,
                        props.get("spark.job.description"),
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += tm.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == _PY_INIT:
                            st.py_init_s += float(upd) / 1e3
                        elif name == _PY_RUN:
                            st.py_run_s += float(upd) / 1e3
    return jobs, stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(rec: Recorder, jobs: dict[int, Job], stages: dict[int, StageTotals]):
    """Layer metrics for every successful operation span.

    Returns (per_op, labelled_share): per_op is a list of (op name, metrics)
    and labelled_share the fraction of attributed jobs whose description
    names the same operation."""
    ops = sorted(rec.op_spans(), key=lambda s: s.start)
    children: dict[tuple[str, int], list[Span]] = {}
    for s in rec.spans:
        if s.kind != "op" and s.parent is not None:
            children.setdefault((s.parent, s.req), []).append(s)
    by_op: dict[int, list[Job]] = {i: [] for i in range(len(ops))}
    starts = [o.start for o in ops]
    for job in jobs.values():
        i = bisect.bisect_right(starts, job.submit) - 1
        if i >= 0 and job.submit <= ops[i].end:
            by_op[i].append(job)
    out, matched, total = [], 0, 0
    for i, op in enumerate(ops):
        kids = children.get((op.name, op.req), [])
        mine = by_op[i]
        st = [stages[s] for j in mine for s in j.stages if s in stages]
        run_s = sum(x.run_s for x in st)
        cpu_s = sum(x.cpu_s for x in st)
        spans = [
            (max(j.submit, op.start), min(j.end or op.end, op.end)) for j in mine
        ]
        out.append((op.name, {
            "plan_s": sum(k.dur for k in kids if k.kind == "plan"),
            "exec_s": sum(k.dur for k in kids if k.kind == "exec"),
            "driver_gap_s": op.dur - union_length(spans),
            "jobs": len(mine),
            "tasks": sum(x.tasks for x in st),
            "task_run_s": run_s,
            "exec_cpu_s": cpu_s,
            "cpu_share": cpu_s / run_s if run_s > 0 else 0.0,
            "shuffle_bytes": sum(x.shuffle_bytes for x in st),
            "py_init_s": sum(x.py_init_s for x in st),
            "py_run_s": sum(x.py_run_s for x in st),
        }))
        total += len(mine)
        tag = f"perfbench:{op.name}:{op.req}"
        matched += sum(1 for j in mine if j.description == tag)
    return out, (matched / total if total else 0.0)


def mean_metrics(rows: list[dict]) -> dict:
    """Per-operation means of each layer metric; cpu_share is recomputed
    from the summed times, so long tasks weigh more than short ones."""
    n = len(rows)
    out = {k: sum(r[k] for r in rows) / n for k in LAYER_METRICS}
    run = sum(r["task_run_s"] for r in rows)
    out["cpu_share"] = sum(r["exec_cpu_s"] for r in rows) / run if run > 0 else 0.0
    return out
