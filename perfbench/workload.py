"""Workloads of the benchmark: session, inputs, the measured job and the
checks on its outputs. Shared by the end-to-end and the traced run."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

T_START = time.time()  # imported first thing by run.py: the process start

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

K_FRAC = 0.05  # fractional k of every job: k = ceil(0.05 * max_len)
MAX_BLOCK = 256  # link()'s default max_block_size
F1_FLOOR = 0.99

# name -> (pages kept, text cut divisor or None)
WORKLOADS = {
    "er_longtext": (2400, None),
    "er_shortrec_skew": (8000, 12),
}
POOL = 1.25  # pages generated per page kept
INPUT_COLS = ["url", "warc_ts", "html", "text", "lang"]


def log(msg: str) -> None:
    print(f"perfbench: {time.time() - T_START:7.2f}s {msg}", file=sys.stderr)


def isolate(run_dir: Path) -> None:
    """Point every scratch location of Spark, the engine and Python at
    ``run_dir``, so a run reads and writes only inside the checkout."""
    for var, sub in (
        ("SASSY_LOCAL_DIR", "spark-local"),
        ("SASSY_SCRATCH_DIR", "scratch"),
        ("SASSY_WAREHOUSE_DIR", "warehouse"),
        ("TMPDIR", "tmp"),
    ):
        d = run_dir / sub
        d.mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(d)
    tempfile.tempdir = None
    # the JVM's temp files, and no hsperfdata file (it ignores tmpdir)
    os.environ["SASSY_JVM_FLAGS"] = (
        f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    )
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(cores: int):
    """build_spark plus one trivial Python job, which covers the JVM and
    the Python worker daemon."""
    from sassy_spark import build_spark

    spark = build_spark(cores=cores)
    # a lambda pickles by value, so workers need not import this file
    spark.range(0, cores, 1, cores).mapInPandas(lambda b: b, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until every process started below
    this one (the JVM, the Python worker daemon and its workers) has
    ended, killing any that outlive the wait."""
    from pyspark import SparkContext

    from probes import descendants, wait_gone

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the shutdown
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs.update(descendants(os.getpid()))
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            # the JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
        left = wait_gone(procs, timeout=30)
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        left = wait_gone(left, timeout=30)
        if left:
            log(f"processes still running after SIGKILL: {sorted(left)}")


class Inputs:
    """One workload input: the pages parquet the program reads (contract
    columns only) and the planted (url, cluster_id) truth kept beside it.

    ``generate_pages(n, seed)`` gives n pages give or take 7%; the job's
    wall is mostly fixed costs at these sizes, so pages/s would follow
    that count. The input is instead the first whole clusters, in a
    seeded order, of ``generate_pages(POOL * n, seed)`` that fit in n
    pages: the same page count (to within one cluster) for every seed.
    """

    def __init__(self, spark, workload: str, seed: int):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from sassy_spark.sources.pages import generate_pages

        n_pages, cut = WORKLOADS[workload]
        d = WORK / "inputs" / f"{workload}-s{seed}-n{n_pages}"
        self.pages, self.truth = str(d / "pages"), str(d / "truth")
        if not (d / "_READY").exists():
            shutil.rmtree(d, ignore_errors=True)
            pool = generate_pages(spark, int(POOL * n_pages), seed=seed)
            if cut:
                pool = pool.withColumn(
                    "text",
                    F.expr(
                        f"substring(text, 1, cast(length(text) / {cut} as int))"
                    ),
                )
            pool = pool.localCheckpoint(eager=True)
            order = Window.orderBy(F.xxhash64("cluster_id", F.lit(seed)), "cluster_id")
            kept = (
                pool.groupBy("cluster_id")
                .count()
                .withColumn("upto", F.sum("count").over(order))
                .where(F.col("upto") <= n_pages)
                .select("cluster_id")
            )
            full = pool.join(F.broadcast(kept), "cluster_id")
            full.select(*INPUT_COLS).write.parquet(self.pages)
            full.select("url", "cluster_id").write.parquet(self.truth)
            (d / "_READY").write_text("")
        self.n_pages, _, self.url_hash, _ = digest(spark, self.pages, ["url"])


def er_job(spark, pages_path: str, scored_path: str, ents_path: str) -> None:
    """The measured job: read the pages, link them, keep the scored pairs
    (as run_pipeline does), resolve entities and write the entity table."""
    from sassy_spark.operators import cluster, linkage

    pages = spark.read.parquet(pages_path)
    linkage.link(pages, k=None, k_frac=K_FRAC).write.mode("overwrite").parquet(
        scored_path
    )
    scored = spark.read.parquet(scored_path)
    cluster.resolve_entities(pages, scored).write.mode("overwrite").parquet(
        ents_path
    )


# ------------------------------------------------------------------ checks


def digest(spark, path: str, cols: list[str]) -> tuple[int, int, int, int]:
    """(rows, distinct urls, url-set hash, content hash) of a parquet."""
    from pyspark.sql import functions as F

    r = (
        spark.read.parquet(path)
        .agg(
            F.count("*"),
            F.countDistinct(cols[0]),
            F.expr(f"coalesce(bit_xor(xxhash64({cols[0]})), 0)"),
            F.expr(f"coalesce(bit_xor(xxhash64({', '.join(cols)})), 0)"),
        )
        .first()
    )
    return int(r[0]), int(r[1]), int(r[2]), int(r[3])


def outputs_digest(spark, inputs: Inputs, scored: str, ents: str):
    """(every input url once in the entity table, content hash of the
    scored pairs and the entity table), in one Spark job."""
    from pyspark.sql import functions as F

    r = (
        spark.read.parquet(ents)
        .agg(
            F.count("*"),
            F.countDistinct("url"),
            F.expr("coalesce(bit_xor(xxhash64(url)), 0)"),
            F.expr("coalesce(bit_xor(xxhash64(url, cluster_id)), 0)"),
        )
        .crossJoin(
            spark.read.parquet(scored).agg(
                F.expr("coalesce(bit_xor(xxhash64(url_a, url_b, cost, is_match)), 0)")
            )
        )
        .first()
    )
    n = inputs.n_pages
    covered = (r[0], r[1], r[2]) == (n, n, inputs.url_hash)
    return covered, (int(r[4]), int(r[3]))


def pair_f1(spark, inputs: Inputs, scored_path: str) -> float:
    """Pair F1 of ``is_match`` against the planted clusters. Recall is over
    the findable intra-cluster pairs (true distance <= k_eff), as
    tools/evaluate_f1 defines it."""
    from pyspark.sql import functions as F

    from sassy_spark.operators import linkage

    truth = spark.read.parquet(inputs.truth)
    ta = truth.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
    tb = truth.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
    positives = ta.join(tb, F.col("ca") == F.col("cb")).where("url_a < url_b")
    findable = (
        linkage.score_pairs(
            positives.select("url_a", "url_b"),
            spark.read.parquet(inputs.pages),
            k=None,
            k_frac=K_FRAC,
        )
        .where("cost <= k_eff")
        .select("url_a", "url_b")
    )
    pred = (
        spark.read.parquet(scored_path)
        .where("is_match")
        .select("url_a", "url_b", F.lit(1).alias("hit"))
    )
    n_findable, tp = findable.join(pred, ["url_a", "url_b"], "left").agg(
        F.count("*"), F.coalesce(F.sum("hit"), F.lit(0))
    ).first()
    n_pred, fp = (
        pred.join(ta, "url_a")
        .join(tb, "url_b")
        .agg(F.count("*"), F.coalesce(F.sum((F.col("ca") != F.col("cb")).cast("long")), F.lit(0)))
        .first()
    )
    precision = (n_pred - fp) / max(n_pred, 1)
    recall = tp / max(n_findable, 1)
    return 2 * precision * recall / max(precision + recall, 1e-12)


def cluster_f1(spark, inputs: Inputs, ents_path: str) -> float:
    """Pairwise F1 of the entity table against the planted clusters, from
    contingency counts: sums of C(n, 2) over predicted clusters, true
    clusters and their intersections (no quadratic self-join)."""
    cells = (
        spark.read.parquet(ents_path)
        .join(
            spark.read.parquet(inputs.truth).withColumnRenamed("cluster_id", "t"),
            "url",
        )
        .groupBy("cluster_id", "t")
        .count()
        .collect()
    )
    pred, true = Counter(), Counter()
    both = 0
    for c in cells:
        pred[c["cluster_id"]] += c["count"]
        true[c["t"]] += c["count"]
        both += c["count"] * (c["count"] - 1) // 2
    n_pred = sum(n * (n - 1) // 2 for n in pred.values())
    n_true = sum(n * (n - 1) // 2 for n in true.values())
    precision = both / n_pred if n_pred else 1.0
    recall = both / n_true if n_true else 1.0
    return 2 * precision * recall / max(precision + recall, 1e-12)


class Ledger:
    """Operations attempted and failed, with the reason of each failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            log(f"check failed: {what}")


def quality_checks(spark, ledger: Ledger, inputs: Inputs, scored: str, ents: str):
    """Entity coverage and both F1 floors on one job's outputs; returns
    (output hash, pair F1, cluster F1)."""
    covered, content = outputs_digest(spark, inputs, scored, ents)
    pf1 = pair_f1(spark, inputs, scored)
    cf1 = cluster_f1(spark, inputs, ents)
    ledger.op(
        covered and pf1 >= F1_FLOOR and cf1 >= F1_FLOOR,
        f"urls once={covered} pair_f1={pf1:.4f} cluster_f1={cf1:.4f}",
    )
    return content, pf1, cf1
