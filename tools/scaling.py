"""N-vs-4N throughput scaling of the ER ``link()`` job on this machine.

BASELINE's north rule compares throughput at N and 4N executors; here
lo = cores // 4 and hi = 4 * lo local cores (local[1] vs local[4] on 4
cores, local[8] vs local[32] on 32). Below 4 cores the block reports
``not_measurable`` and runs nothing. Each rep runs one fresh child per
side, in alternating order; the child builds the seeded pages (untimed),
runs ``link(pages, k=None, k_frac=0.05).count()`` once to warm up and
once timed, and prints pairs/s. A rep whose sides count different pairs
is an error, not a sample. Reported: every sample, both medians,
``efficiency = median_hi / (4 * median_lo)`` and the wall; no gate.

Run: python tools/scaling.py [n_pages]    (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
REPS = 3
CHILD_TIMEOUT_SEC = 600


def lo_hi(cores: int) -> tuple[int, int] | None:
    lo = cores // 4
    return (lo, 4 * lo) if lo >= 1 else None


def _child(cores: int, n_pages: int) -> None:
    sys.path.insert(0, str(REPO))
    from sassy_spark import build_spark
    from sassy_spark.operators import linkage
    from sassy_spark.sources.pages import generate_pages

    spark = build_spark(app_name=f"scaling_{cores}", cores=cores)
    pages = generate_pages(spark, n_pages, seed=42).drop("cluster_id").persist()
    pages.count()
    linkage.link(pages, k=None, k_frac=0.05).count()  # warm-up
    t0 = time.perf_counter()
    pairs = linkage.link(pages, k=None, k_frac=0.05).count()
    sec = time.perf_counter() - t0
    print("RESULT " + json.dumps({"pairs": pairs, "pairs_per_sec": pairs / sec}))
    spark.stop()


def _end_group(p: subprocess.Popen) -> None:
    """End a child that is still running, with its JVM and Python workers
    (they share its process group): SIGTERM, so the JVM's shutdown hooks
    delete its scratch dirs, then SIGKILL after 30 s."""
    os.killpg(p.pid, signal.SIGTERM)
    try:
        p.communicate(timeout=30)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()


def _side(cores: int, n_pages: int) -> dict:
    p = subprocess.Popen(
        [sys.executable, __file__, "--child", str(cores), str(n_pages)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=REPO,
        start_new_session=True,
    )
    try:
        # stdout closes when the child's JVM has exited too
        out, _ = p.communicate(timeout=CHILD_TIMEOUT_SEC)
    finally:
        if p.poll() is None:  # timed out or interrupted
            _end_group(p)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT ") :])
    raise RuntimeError(f"local[{cores}] child exited {p.returncode}, no result")


def measure(cores: int, n_pages: int, out: dict | None = None) -> dict:
    """Fill ``out`` (and return it) rep by rep, so an interrupted run
    keeps the samples it has."""
    out = {} if out is None else out
    sides = lo_hi(cores)
    if sides is None:
        out["not_measurable"] = f"{cores} cores: N-vs-4N needs at least 4"
        return out
    lo, hi = sides
    samples = {lo: [], hi: []}
    out.update(lo_cores=lo, hi_cores=hi, n_pages=n_pages, pairs=None)
    out.update(samples_lo=samples[lo], samples_hi=samples[hi])
    t0 = time.time()
    try:
        for rep in range(REPS):
            order = (lo, hi) if rep % 2 == 0 else (hi, lo)
            try:
                res = {c: _side(c, n_pages) for c in order}
                if res[lo]["pairs"] != res[hi]["pairs"]:
                    raise RuntimeError(
                        f"local[{lo}] counted {res[lo]['pairs']} pairs, "
                        f"local[{hi}] {res[hi]['pairs']}"
                    )
            except (RuntimeError, subprocess.TimeoutExpired) as exc:
                out.setdefault("errors", []).append(f"rep {rep}: {exc}"[:300])
                continue
            out["pairs"] = res[lo]["pairs"]
            for c in order:
                samples[c].append(round(res[c]["pairs_per_sec"], 1))
            out["median_lo"] = statistics.median(samples[lo])
            out["median_hi"] = statistics.median(samples[hi])
            out["efficiency"] = round(out["median_hi"] / (4 * out["median_lo"]), 3)
    finally:
        out["wall_sec"] = round(time.time() - t0, 1)
    return out


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        _child(int(sys.argv[2]), int(sys.argv[3]))
    else:
        n = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
        print(json.dumps(measure(len(os.sched_getaffinity(0)), n)))
