"""The benchmark's own process tree: peak memory sampled from /proc, and
shutdown that waits for every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _start_time(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times. Python workers are forked from one daemon
    and share most of their pages with it, so summing RSS would count the
    same memory once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited while we sampled
        pass
    return 0


class ProcessTree:
    """Samples the summed PSS of this process and its descendants (the
    driver JVM and its Python workers) every ``interval`` seconds, and
    remembers every descendant it saw so shutdown can wait for them."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict[int, int | None] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def descendants(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            for c in kids.get(pid, []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        pids = self.descendants()
        for p in pids:
            if p not in self.seen:
                self.seen[p] = _start_time(p)
        total = _pss_bytes(os.getpid()) + sum(_pss_bytes(p) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _alive(self) -> list[int]:
        return [
            p for p, st in self.seen.items()
            if st is not None and _start_time(p) == st
        ]

    def wait_all(self, timeout: float = 20.0) -> None:
        """Wait until every descendant seen has exited; kill stragglers."""
        self.seen.update({p: _start_time(p) for p in self.descendants()})
        deadline = time.time() + timeout
        while self._alive() and time.time() < deadline:
            time.sleep(0.1)
        for p in self._alive():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while self._alive() and time.time() < deadline:
            time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched. Closing the JVM's
    stdin is how PySpark tells its gateway to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:  # the JVM ignored the EOF
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
