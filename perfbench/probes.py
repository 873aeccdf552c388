"""Measurement helpers of the benchmark: spans, plan metrics, process RSS
and the process tree.

Nothing here reaches inside ``sassy_spark``: spans wrap calls into its
public functions from the outside, plan metrics are read from a
DataFrame's own ``queryExecution`` after the action that ran it, and
memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import contextlib
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: name, start, end, parent span and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": end,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, start: float | None = None):
        span = self.add(name, time.time() if start is None else start, float("nan"))
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.time()

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def duration(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.get(name)
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
        )
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return (s["end"] - s["start"]) - covered

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def run_and_read_plan(df):
    """Execute ``df`` once under its own QueryExecution and return
    (checkpointed frame, [(node name, {metric: value})]).

    ``localCheckpoint(eager=True)`` runs exactly the frame's executed
    plan, so the SQL metrics of that plan (readable with the UI off)
    describe the work just done. AQE plans are walked through their
    final physical plan and query stages; a reused exchange is a leaf,
    so a reused broadcast is counted once.
    """
    out = df.localCheckpoint(eager=True)
    nodes = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        nodes.append((node.nodeName(), metrics))
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
    return out, nodes


def metric_sum(nodes, metric: str, node_name: str | None = None) -> int:
    """Sum of one SQL metric over the plan's nodes (of one name, if given)."""
    return sum(m.get(metric, 0) for n, m in nodes if node_name in (None, n))


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (Spark JVM, Python worker daemon and workers), sampled from /proc by
    one sleeping thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, start time in clock ticks, state) from /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "pid (comm) ": state, ppid, ..., starttime (22nd)
        rest = stat[stat.rfind(")") + 2 :].split()
        table[int(entry)] = (int(rest[1]), int(rest[19]), rest[0])
    return table


def descendants(root: int) -> dict[int, int]:
    """pid -> start time of every live process below ``root``."""
    table = proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Make processes orphaned below this one (such as the launcher shell
    the Spark JVM never reaps) children of this process, so that
    ``wait_gone`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def wait_gone(procs: dict[int, int], timeout: float) -> dict[int, int]:
    """Wait until each (pid, start time) has ended, reaping those that
    are zombie children of this process; returns those still running at
    ``timeout``. A zombie of another parent counts as ended."""
    deadline = time.monotonic() + timeout
    while True:
        table = proc_table()
        alive = {}
        for pid, start in procs.items():
            if pid not in table or table[pid][1] != start:
                continue
            ppid, _, state = table[pid]
            if state != "Z":
                alive[pid] = start
            elif ppid == os.getpid():
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(pid, os.WNOHANG)
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.05)
