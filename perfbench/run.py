"""Benchmark of the sassy_spark entity-resolution engine.

    python3 perfbench/run.py --workload er_longtext --seed 42 --seconds 8 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a separate traced run
(see perfbench/README.md). The last line of stdout is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
the exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import workload as wl  # first: its import time is the process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

from probes import become_subreaper  # noqa: E402

SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_REPS = 2  # timed jobs per run, at least


def run_end_to_end(spark, ledger, inputs, run_dir, seconds, setups):
    # warm-up, outside timing: the job once in full, whose outputs are
    # checked against the planted truth and are the reference for every
    # timed job
    wl.log("warm-up job")
    scored, ents = str(run_dir / "scored"), str(run_dir / "ents")
    wl.er_job(spark, inputs.pages, scored, ents)
    wl.log("checks")
    ref, pf1, cf1 = wl.quality_checks(spark, ledger, inputs, scored, ents)
    wl.log("timed jobs")
    walls, t_loop = [], time.perf_counter()
    while len(walls) < MIN_REPS or time.perf_counter() - t_loop < seconds:
        t0 = time.perf_counter()
        try:
            wl.er_job(spark, inputs.pages, scored, ents)
        except Exception as e:  # noqa: BLE001 — counted, then reported
            ledger.op(False, f"timed job raised {type(e).__name__}: {e}")
            if not walls:
                raise
            break
        walls.append(time.perf_counter() - t0)
        covered, content = wl.outputs_digest(spark, inputs, scored, ents)
        ledger.op(
            covered and content == ref,
            f"timed job {len(walls)}: urls once={covered} "
            f"same outputs as the warm-up job={content == ref}",
        )
    wl.log(f"job walls {[round(w, 3) for w in walls]}")
    return {
        "pages_per_s": (inputs.n_pages / statistics.median(walls), "pages/s"),
        "pair_f1": (pf1, "ratio"),
        "cluster_f1": (cf1, "ratio"),
        "setup_s": (statistics.median(setups), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (wl.ROOT / "sassy_spark" / "__init__.py").is_file():
        print(f"perfbench: no sassy_spark package under {wl.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(wl.ROOT))
    become_subreaper()

    run_dir = wl.WORK / f"run-{os.getpid()}"
    wl.isolate(run_dir)
    cores = len(os.sched_getaffinity(0))
    ledger = wl.Ledger()
    spark = None
    try:
        spark = wl.start_session(cores)
        setups = [time.time() - wl.T_START]
        if not args.trace:
            for _ in range(SETUPS - 1):
                spark.stop()
                t0 = time.time()
                spark = wl.start_session(cores)
                setups.append(time.time() - t0)
        wl.log(f"set-ups {[round(s, 3) for s in setups]}")
        inputs = wl.Inputs(spark, args.workload, args.seed)
        wl.log(f"input ready: {inputs.n_pages} pages")
        if args.trace:
            from layers import run_traced

            metrics = run_traced(spark, ledger, inputs, run_dir, setups[0], args)
        else:
            metrics = run_end_to_end(
                spark, ledger, inputs, run_dir, args.seconds, setups
            )
    finally:
        wl.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(ledger.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": ledger.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
