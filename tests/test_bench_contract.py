"""The driver-facing bench contract (round-4 VERDICT #1): bench.py must
print exactly one parseable JSON line and exit 0 NO MATTER WHAT — a
phase failure (bad input dir) or a SIGTERM mid-run becomes an "errors"
field, never a traceback. Plus the scaling protocol's N-vs-4N core
choice."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tools.scaling import lo_hi

REPO = Path(__file__).resolve().parent.parent


def test_bench_json_survives_phase_failure_and_unmeasurable_scaling():
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/nonexistent/sfX",  # queries phase fails
            # below 4 cores N-vs-4N cannot be measured: the scaling block
            # must say so without starting a child session
            "SPARK_GRAFT_CPUS": "2",
            "SASSY_BENCH_PAGES": "200",
            "SASSY_BENCH_F1": "0",
            # skip the sf0.001 query warmup: not under test here
            "SASSY_BENCH_WARMUP": "0",
            "SASSY_BENCH_ORACLE_SUITE": "0",
        }
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # last stdout line is the JSON record
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["cpus"] == 2
    # the failed queries phase is recorded, not fatal
    assert "queries" in out["errors"]
    # the ER phase still produced numbers (it does not depend on SF_DIR)
    assert out["queries"].get("er_pipeline", 0) > 0
    assert out["er_candidate_pairs_scored"] > 0
    # not measurable, and no child ran: no samples, no phase wall
    assert list(out["scaling"]) == ["not_measurable"], out["scaling"]
    assert "scaling" not in out["errors"]
    assert out["bench_wall_sec"] > 0


@pytest.mark.parametrize(
    "cores, sides",
    [(1, None), (2, None), (3, None), (4, (1, 4)), (6, (1, 4)), (32, (8, 32))],
)
def test_scaling_lo_hi_choice(cores, sides):
    assert lo_hi(cores) == sides


def test_bench_json_survives_sigterm(tmp_path):
    """A supervisor soft-kill (SIGTERM) mid-run must still yield one
    parseable JSON line and rc=0 — completed blocks survive, the
    truncation is recorded under errors.terminated — and the bench's
    Spark session (JVM, Python worker daemon and workers) must be gone
    by the time it exits."""
    import signal
    import time

    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": "8",
            "SASSY_BENCH_PAGES": "200",
            "SASSY_BENCH_WARMUP": "0",
            "SASSY_BENCH_F1": "0",
            "SASSY_BENCH_ORACLE_SUITE": "0",
            "SASSY_BENCH_SCALING": "0",
        }
    )
    # stdout to a file, not a pipe: the JVM inherits it, and a pipe's
    # EOF would wait for the JVM too, hiding one that outlives the bench
    out_path = tmp_path / "bench.out"
    with open(out_path, "w") as out_f:
        proc = subprocess.Popen(
            [sys.executable, "bench.py"],
            cwd=REPO,
            env=env,
            stdout=out_f,
            stderr=subprocess.DEVNULL,
            start_new_session=True,
        )
        time.sleep(20)  # inside the queries phase (JVM up, work running)
        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=120)
    out = out_path.read_text()
    # every process the bench started is in its session; a zombie
    # (ended, not yet reaped by its new parent) does not run
    left = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == proc.pid and fields[0] != "Z":
            left.append(stat[: stat.rfind(")") + 1])
    assert not left, left
    assert proc.returncode == 0, f"rc={proc.returncode}"
    lines = [ln for ln in out.strip().splitlines() if ln.startswith("{")]
    assert len(lines) == 1, out
    rec = json.loads(lines[0])
    assert rec["errors"]["terminated"].startswith("SIGTERM")
    assert "bench_wall_sec" in rec
