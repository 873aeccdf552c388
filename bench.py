"""Per-round benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec}, "sf": ..., plus engine-specific extras}.

Headline queries: the relational/kernel set from __spark_entry__ at
$SPARK_GRAFT_SF_DIR, plus the flagship ER pipeline (blocking -> candidate
pairs -> banded Myers scoring) on deterministic synthetic pages, reported
as candidate-pairs-scored/sec (the north metric).

Every reported number is MEASURED in this run: the F1 block runs
tools/evaluate_f1.evaluate on 2000 synthetic pages, and the scaling
block runs tools/scaling.py's N-vs-4N protocol on this machine's cores
(not measurable below 4) — no hardcoded claims.

CRASH-PROOF BY CONSTRUCTION (round-4 VERDICT #1: a child timeout inside
the scaling phase destroyed the whole round's bench record): every phase
runs inside its own try/except that records {"errors": {phase: ...}}
instead of raising, the final JSON is emitted from a finally block, and
the process exits 0.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
# probes: the benchmark's process-tree helpers, reused for the shutdown
sys.path.insert(0, str(Path(__file__).resolve().parent / "perfbench"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
ER_PAGES = int(os.environ.get("SASSY_BENCH_PAGES", "12000"))
F1_PAGES = 2000
ER_REPS = 3
ORACLE_SUITE_BUDGET_SEC = 300

BENCH_QUERIES = [
    "q02_agg_partial_final",
    "q06_window_top1",
    "q12_lag_window",
    "q13_edit_distance_adjacent",
    "q14_search_occurrences",
    "q15_ngram_jaccard",
    "q19_cosine_topk",
    "q20_minhash_near_dup",
    "q22_connected_components",
    "q29_nonascii_search",
    "q31_search_end_filter",
    # round-5 ER additions: JW kernel scoring, distributed as-of join,
    # cross-table linkage — new lines, the rows above keep their
    # cross-round comparability
    "q60_jaro_winkler_adjacent",
    "q66_asof_join",
    "q68_cross_table_linkage",
    # late round-5: unsupervised EM fit (pattern-count reduction) and
    # comparative blocking-scheme stats — again new lines only
    "q84_em_fellegi_sunter",
    "q87_scheme_comparison",
    # final round-5: the two LOSSLESS edit-distance joins (segment
    # pigeonhole and positional q-gram count filter) — new lines, the
    # rows above keep cross-round comparability
    "q109_passjoin",
    "q116_qgram_count_join",
]


def _guard(out: dict, phase: str, fn) -> None:
    """Run one bench phase; a failure becomes out['errors'][phase], never
    an exception — the driver must ALWAYS receive the final JSON line.
    Its wall goes to out['phase_sec'][phase]."""
    t0 = time.time()
    try:
        fn()
    except BaseException as exc:  # noqa: BLE001 — includes TimeoutExpired
        if isinstance(exc, (KeyboardInterrupt, SystemExit)):
            # SIGTERM raises SystemExit via _die_printably: stop the run
            # NOW (the supervisor will escalate to SIGKILL) — main()
            # records the truncation and still prints the JSON
            raise
        out.setdefault("errors", {})[phase] = (
            f"{type(exc).__name__}: {exc}"[:500]
        )
    finally:
        out.setdefault("phase_sec", {})[phase] = round(time.time() - t0, 1)


def _end_jvm(spark) -> None:
    """Stop Spark, end its JVM (it exits when its stdin closes) and wait
    for every process that was below this one (JVM, Python worker daemon
    and workers), killing any left after 30 s, so none outlives the
    bench and the scaling phase's child sessions have the machine to
    themselves. SIGTERM is ignored until the shutdown is done."""
    import signal

    from probes import descendants, wait_gone
    from pyspark import SparkContext

    prev = signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        procs = descendants(os.getpid())
        try:
            spark.stop()
        finally:
            jvm = SparkContext._gateway.proc
            jvm.stdin.close()
            jvm.wait(timeout=60)
            for pid in wait_gone(procs, timeout=30):
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
    finally:
        signal.signal(signal.SIGTERM, prev)


def _run(out: dict) -> None:
    from sassy_spark import build_spark

    spark = build_spark(app_name="sassy_bench", cores=CPUS)
    try:
        _phases(out, spark)
    finally:
        # also on SIGTERM (SystemExit), which skips the scaling phase
        _guard(out, "spark_stop", lambda: _end_jvm(spark))
    if os.environ.get("SASSY_BENCH_SCALING", "1") == "1":
        from scaling import measure

        block = out.setdefault("scaling", {})
        _guard(out, "scaling", lambda: measure(CPUS, ER_PAGES, out=block))


def _phases(out: dict, spark) -> None:
    import __spark_entry__ as E
    from sassy_spark.operators import linkage
    from sassy_spark.sources.pages import generate_pages

    def phase_queries() -> None:
        qs = E.queries()
        # steady-state warmup at the smallest sf: JVM JIT, codegen caches,
        # Python worker daemon fork pool, shuffle service — all per-process
        # one-time costs that would otherwise be charged to whichever query
        # runs first (measured: q22 31s cold vs 10.5s warm)
        if os.environ.get("SASSY_BENCH_WARMUP", "1") == "1":
            for name in BENCH_QUERIES:
                try:
                    qs[name](spark, "/root/testdata/sf0.001").count()
                except Exception:  # noqa: BLE001 — warmup is best-effort
                    pass
        # best-of-2 per query, both samples disclosed: identical queries
        # swing 2-4x under this host's co-tenant waves (measured q02 0.4 vs
        # 19.5 s on identical code in round 3), and the steady-state
        # capability is the smaller number — same rule as the ER block
        timings: dict[str, float] = {}
        query_samples: dict[str, list[float]] = {}
        for name in BENCH_QUERIES:
            samples = []
            for _ in range(2):
                # q22 memoizes its labels per (session, sf) for downstream
                # queries (q61/q76/q78/q80); a timed sample must measure the
                # computation, not the memo read — clear it so both samples
                # (and therefore the reported min) are real CC runs
                E._Q22_LABEL_MEMO.clear()
                t0 = time.time()
                qs[name](spark, SF_DIR).count()
                samples.append(round(time.time() - t0, 3))
            query_samples[name] = samples
            timings[name] = min(samples)
            out["queries"] = timings  # incremental: partial survives
            out["query_samples"] = query_samples
            out["value"] = round(sum(timings.values()), 3)

    def phase_er() -> None:
        # flagship: ER candidate scoring throughput on synthetic pages —
        # best-of-3, all samples reported (co-tenancy swings
        # 2-4x and the first rep pays JVM/worker warmup at this sf)
        pages = generate_pages(spark, ER_PAGES, seed=42).drop("cluster_id")
        pages = pages.persist()
        n_pages = pages.count()
        er_samples = []
        n_pairs = 0
        for _ in range(ER_REPS):
            t0 = time.time()
            scored = linkage.link(pages, k=None, k_frac=0.05)
            n_pairs = scored.count()
            er_samples.append(round(time.time() - t0, 3))
        er_sec = min(er_samples)
        out["queries"]["er_pipeline"] = er_sec
        out["value"] = round(sum(out["queries"].values()), 3)
        out["er_pages"] = n_pages
        out["er_candidate_pairs_scored"] = n_pairs
        out["er_pairs_per_sec"] = round(n_pairs / er_sec, 1)
        out["er_samples_sec"] = er_samples
        pages.unpersist()

    def phase_f1() -> None:
        # measured pairwise F1 vs planted truth (north metric #1)
        from evaluate_f1 import evaluate

        t0 = time.time()
        f1 = evaluate(spark, n_pages=F1_PAGES, k_frac=0.05)
        out["f1_eval_sec"] = round(time.time() - t0, 1)
        out["f1_evaluation"] = f1

    def phase_oracle_suite() -> None:
        # wall-clock of the full driver correctness suite (spark
        # side only — the driver's dominant fixed cost; tracked so query
        # additions stay budgeted). Uses .count() per query: the driver's
        # toPandas + DuckDB adds on top, but the Spark side is what this
        # repo controls.
        qs = E.queries()
        # Hard wall budget:
        # the suite grew past 79 queries, and a loaded box can stretch
        # the ~10s queries 3-4x — truncate and report rather than risk
        # blowing the driver's whole-bench timeout. Untimed queries are
        # listed so a truncated run is visibly partial, never silent.
        t0 = time.time()
        n_ok = 0
        skipped = []
        for name, fn in qs.items():
            if time.time() - t0 > ORACLE_SUITE_BUDGET_SEC:
                skipped.append(name)
                continue
            try:
                fn(spark, "/root/testdata/sf0.01").count()
                n_ok += 1
            except Exception:  # noqa: BLE001
                out.setdefault("errors", {})[f"oracle_suite:{name}"] = "failed"
        out["oracle_suite_sec"] = round(time.time() - t0, 1)
        out["oracle_suite_queries_ok"] = n_ok
        out["oracle_suite_queries_total"] = len(qs)
        if skipped:
            out["oracle_suite_truncated"] = skipped

    _guard(out, "queries", phase_queries)
    _guard(out, "er_pipeline", phase_er)
    if os.environ.get("SASSY_BENCH_F1", "1") == "1":
        _guard(out, "f1", phase_f1)
    if os.environ.get("SASSY_BENCH_ORACLE_SUITE", "1") == "1":
        _guard(out, "oracle_suite", phase_oracle_suite)


def _die_printably(signum, frame):  # noqa: ARG001 — signal signature
    """SIGTERM -> SystemExit so main()'s finally still emits the JSON
    accumulated so far. A supervisor that soft-kills a long run (e.g.
    during the scaling phase) then still gets every completed block;
    only SIGKILL can lose the record."""
    raise SystemExit(143)


def main() -> None:
    import signal

    signal.signal(signal.SIGTERM, _die_printably)
    t_bench = time.time()
    out: dict = {
        "metric": "headline queries + ER candidate scoring (total wall sec)",
        "value": None,
        "unit": "sec",
        "queries": {},
        "sf": SF_DIR,
        "cpus": CPUS,
    }
    try:
        _guard(out, "bench", lambda: _run(out))
    except SystemExit:
        # SIGTERM mid-run: record the truncation and exit 0 with every
        # block completed so far (the record is valid, just partial)
        out.setdefault("errors", {})["terminated"] = (
            "SIGTERM mid-run; completed blocks emitted"
        )
    finally:
        out["bench_wall_sec"] = round(time.time() - t_bench, 1)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
