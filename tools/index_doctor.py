"""Operator-facing diagnosis CLI for a maintained index directory.

``python tools/index_doctor.py <path> [<path> ...]`` prints, per path,
everything ``io.tables.maintenance_state`` knows — lease holder/age,
live ingest markers, ``__old_*`` move-aside siblings, fenced batch
names, batch subdirectories, the trained-state sidecar geometry — plus
the SUGGESTED NEXT ACTION per the crash table in README "Crash &
concurrency protocol". Read-only: takes no lease, never mutates
(self-heal is suggested, not performed — the doctor diagnoses, the
protocol's own readers/compactors heal).

The diagnosis logic lives in :func:`diagnose` so the pytest
(tests/test_index_doctor.py) can drive it over injected stuck states
without subprocess plumbing; ``main`` only adds the SparkSession and
formatting.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def diagnose(spark, path: str) -> dict:
    """maintenance_state + sidecar geometry + batch listing + the
    suggested next action. Returns a plain dict (CLI renders it)."""
    from clinical_vector_search_spark.io.tables import (
        _list_batch_subdirs,
        maintenance_state,
        TRAINED_SIDECAR,
    )

    st = maintenance_state(spark, path)
    st["path"] = path

    st["batch_subdirs"] = []
    st["sidecar"] = None
    if st["path_exists"]:
        st["batch_subdirs"] = sorted(_list_batch_subdirs(spark, path))
        try:
            import json

            from clinical_vector_search_spark.io.tables import (
                _hadoop_fs,
                _read_small_file,
            )

            jvm, fs, _ = _hadoop_fs(spark, path)
            p = jvm.org.apache.hadoop.fs.Path(
                f"{path.rstrip('/')}/{TRAINED_SIDECAR}"
            )
            if fs.exists(p):
                raw = json.loads(_read_small_file(fs, p))
                st["sidecar"] = {
                    k: v
                    for k, v in raw.items()
                    # geometry summary only — centroid/codebook payloads
                    # are big and useless in a terminal
                    if not isinstance(v, list)
                } | {
                    k: f"<{len(v)} rows>"
                    for k, v in raw.items()
                    if isinstance(v, list)
                }
        except Exception as e:  # noqa: BLE001 — diagnosis never raises
            st["sidecar"] = f"<unreadable: {e}>"

    # suggested next action, per the README crash table (first match
    # wins — orderings mirror how the protocol itself prioritizes)
    def _age(a):
        # maintenance_state reports age_sec=None when the stat raced a
        # releasing holder — the doctor must render that, not crash
        return "?" if a is None else round(a, 1)

    lease_age = (st["lease"] or {}).get("age_sec")
    marker_ages = [m["age_sec"] for m in st["markers"]]
    if not st["path_exists"] and len(st["old_siblings"]) == 1:
        act = (
            "crashed mid-swap: data intact at the __old sibling; any "
            "read, ingest or compaction of this path self-heals "
            "(recover_interrupted_swap) — or just re-run the job"
        )
    elif not st["path_exists"] and len(st["old_siblings"]) > 1:
        act = (
            "ambiguous crash state: multiple __old siblings and no live "
            "directory — the protocol refuses to guess; inspect which "
            "copy is complete and rename it back manually"
        )
    elif not st["path_exists"] and (st["lease"] or st["markers"]):
        # the lease/marker paths are SIBLINGS of the data directory, so
        # a writer that crashed before its first build strands them
        # next to a path that does not exist — every later writer then
        # refuses with no data in sight
        act = (
            "no data directory, but a stranded "
            + ("lease" if st["lease"] else "ingest marker")
            + " sits next to this path — a writer crashed before its "
            "first build ever landed; re-run it with "
            "break_stale_lease_after_sec to reclaim"
        )
    elif not st["path_exists"]:
        act = "no directory here: nothing maintained at this path (yet)"
    elif st["old_siblings"]:
        act = (
            "crash after the swap's second rename: live data is intact, "
            "the __old sibling is a leftover; the next leased "
            "compaction's deep pass deletes it"
        )
    elif st["lease"] and st["markers"]:
        act = (
            "both a lease and ingest markers are live — a writer and a "
            "compactor are (or died) in flight; if both ages keep "
            "growing with no progress, both holders crashed: re-run "
            "either job with break_stale_lease_after_sec longer than "
            "any legitimate run"
        )
    elif st["lease"]:
        act = (
            f"compaction lease held ({_age(lease_age)}s): a "
            "compactor/upserter is running, or crashed hard. If the age "
            "exceeds any legitimate compaction, re-run with "
            "break_stale_lease_after_sec to reclaim (the breaker "
            "re-verifies freshness before stealing)"
        )
    elif st["markers"]:
        act = (
            f"live ingest markers (ages {[_age(a) for a in marker_ages]}"
            "s): batch writers in flight, or crashed. Stale markers are "
            "reclaimed by the next compaction run with "
            "break_stale_lease_after_sec; sinks are idempotent batch-id "
            "overwrites, so re-running the crashed ingest is always safe"
        )
    elif st["fenced_batches"] and any(
        b in st["fenced_batches"] for b in st["batch_subdirs"]
    ):
        act = (
            "fenced batch names still have live subdirectories — a "
            "compaction crashed after its fence fragment but before the "
            "swap: RE-RUN the compaction (it folds the surviving "
            "directories and makes the fence accurate); do not "
            "re-ingest under a fresh id"
        )
    else:
        act = "healthy: no lease, no markers, no crash residue"
    st["suggested_action"] = act
    return st


def render(st: dict) -> str:
    def _age(a):
        return "?" if a is None else round(a, 1)

    lease = st["lease"]
    lease_s = (
        "none"
        if lease is None
        else f"held {_age(lease['age_sec'])}s by {lease['holder']}"
    )
    lines = [
        f"== {st['path']}",
        f"  exists:          {st['path_exists']}",
        f"  lease:           {lease_s}",
        f"  ingest markers:  "
        + (
            ", ".join(
                f"{m['name']} ({_age(m['age_sec'])}s)"
                for m in st["markers"]
            )
            or "none"
        ),
        f"  __old siblings:  {st['old_siblings'] or 'none'}",
        f"  batch subdirs:   {len(st['batch_subdirs'])}"
        + (
            f" ({st['batch_subdirs'][0]} .. {st['batch_subdirs'][-1]})"
            if st["batch_subdirs"]
            else ""
        ),
        f"  fenced batches:  {len(st['fenced_batches'])}",
        f"  trained sidecar: {st['sidecar'] or 'none'}",
        f"  -> {st['suggested_action']}",
    ]
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    from clinical_vector_search_spark.session import get_spark

    spark = get_spark("index_doctor", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    for path in argv:
        print(render(diagnose(spark, path)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
