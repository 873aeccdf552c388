"""The traced run: one span around each call into a layer's public
function, the SQL metrics of the plan each call executed, the kernel on
one core, and the checkpointed path of run_pipeline.

Each layer's output is materialized under its span and handed to the
next layer as a parquet of its own, so no span re-executes upstream
work. Staging the layers gives them the plan shape of a checkpointed
``link`` (no fused dedup/fan-out exchange); ``trace.overhead_s`` is what
tracing and staging add to the untraced job's wall.
"""

from __future__ import annotations

import contextlib
import math
import sys
import time
from pathlib import Path

import numpy as np

import workload as wl
from probes import RssSampler, Tracer, metric_sum, run_and_read_plan

KERNEL_SAMPLE = 2000  # candidate pairs timed through the kernel
KERNEL_CHUNK = 512  # pairs per edit_distances call, as score_pairs uses


def block_counts(spark, keys_path: str) -> tuple[int, int, int]:
    """(largest block, blocks over the cap, sum of bs * ceil(bs/cap)^2 over
    over-cap blocks): the sizes in-array salting works through."""
    from pyspark.sql import functions as F

    bs = F.col("count")
    over = bs > wl.MAX_BLOCK
    r = (
        spark.read.parquet(keys_path)
        .groupBy("block_key")
        .count()
        .agg(
            F.max(bs),
            F.sum(over.cast("long")),
            F.sum(F.when(over, bs * F.pow(F.ceil(bs / wl.MAX_BLOCK), 2)).otherwise(0)),
        )
        .first()
    )
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def kernel_bench(spark, inputs, scored_path: str, seed: int):
    """``myers.edit_distances`` on a seeded sample of the scored candidate
    pairs, in this process on one core, in score_pairs' chunking.
    Returns (seconds, pairs, word steps, costs match the scorer)."""
    from pyspark.sql import functions as F

    from sassy_spark.kernel import myers

    texts = spark.read.parquet(inputs.pages).select("url", "text")
    rows = (
        spark.read.parquet(scored_path)
        .orderBy(F.xxhash64("url_a", "url_b", F.lit(seed)))
        .limit(KERNEL_SAMPLE)
        .join(texts.toDF("url_a", "text_a"), "url_a")
        .join(texts.toDF("url_b", "text_b"), "url_b")
        .select("text_a", "text_b", "len_a", "len_b", "k_eff", "cost")
        .collect()
    )
    rows.sort(key=lambda r: r["len_b"])

    def as_units(t: str):
        # ASCII texts reach the kernel as uint8 views, as in score_pairs
        return np.frombuffer(t.encode(), dtype=np.uint8) if t.isascii() else t

    a = [as_units(r["text_a"]) for r in rows]
    b = [as_units(r["text_b"]) for r in rows]
    k = np.array([r["k_eff"] for r in rows], dtype=np.int64)
    myers.edit_distances(a[:8], b[:8], k=k[:8])  # first-call costs, untimed
    cost = np.empty(len(rows), dtype=np.int64)
    t0 = time.perf_counter()
    for lo in range(0, len(rows), KERNEL_CHUNK):
        hi = lo + KERNEL_CHUNK
        cost[lo:hi] = myers.edit_distances(a[lo:hi], b[lo:hi], k=k[lo:hi])
    wall = time.perf_counter() - t0
    steps = sum(
        math.ceil((2 * r["k_eff"] + 1) / 64) * max(r["len_a"], r["len_b"])
        for r in rows
    )
    same = all(int(c) == r["cost"] for c, r in zip(cost, rows))
    return wall, len(rows), steps, same


def run_pipeline_main(inputs, ckpt: Path, out: Path) -> None:
    """``run_pipeline.main`` on the workload input."""
    from sassy_spark import run_pipeline

    argv = [
        "run_pipeline", "--input", inputs.pages, "--output", str(out),
        "--checkpoint", str(ckpt), "--k-frac", str(wl.K_FRAC),
    ]
    saved, sys.argv = sys.argv, argv
    try:
        # it prints its metrics line; stdout is kept for the result line
        with contextlib.redirect_stdout(sys.stderr):
            run_pipeline.main()
    finally:
        sys.argv = saved


def dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def run_traced(spark, ledger, inputs, run_dir: Path, setup_cold: float, args):
    from pyspark.sql import functions as F

    from sassy_spark.operators import cluster, linkage

    p = lambda name: str(run_dir / name)  # noqa: E731
    tr = Tracer(f"{args.workload}-s{args.seed}-{int(wl.T_START)}")
    with tr.span("run", start=wl.T_START), RssSampler() as rss:
        tr.add("setup", wl.T_START, wl.T_START + setup_cold)
        with tr.span("warm-up"):
            wl.er_job(spark, inputs.pages, p("scored"), p("ents"))
        with tr.span("checks"):
            ref, _, _ = wl.quality_checks(spark, ledger, inputs, p("scored"), p("ents"))
        with tr.span("job.untraced"):
            wl.er_job(spark, inputs.pages, p("scored"), p("ents"))
        wl.log("untraced job done")

        pages = spark.read.parquet(inputs.pages)
        with tr.span("job.traced"):
            with tr.span("sketch"):
                keys, sketch_plan = run_and_read_plan(
                    linkage.blocking_keys(pages, "text", with_len=True)
                )
            keys.write.parquet(p("t-keys"))
            with tr.span("pairs"):
                pairs, pairs_plan = run_and_read_plan(
                    linkage.candidate_pairs(
                        spark.read.parquet(p("t-keys")),
                        max_block_size=wl.MAX_BLOCK,
                        k=None,
                        k_frac=wl.K_FRAC,
                    )
                )
            pairs.write.parquet(p("t-pairs"))
            with tr.span("score"):
                scored, score_plan = run_and_read_plan(
                    linkage.score_pairs(
                        spark.read.parquet(p("t-pairs")), pages, k=None, k_frac=wl.K_FRAC
                    )
                )
            scored.write.parquet(p("t-scored"))
            with tr.span("cluster"):
                cluster.resolve_entities(
                    pages, spark.read.parquet(p("t-scored"))
                ).write.parquet(p("t-ents"))
        wl.log("traced job done")
        covered, content = wl.outputs_digest(spark, inputs, p("t-scored"), p("t-ents"))
        ledger.op(
            covered and content == ref,
            f"traced job: urls once={covered} same outputs as untraced={content == ref}",
        )

        with tr.span("kernel"):
            k_wall, k_pairs, k_steps, k_same = kernel_bench(
                spark, inputs, p("t-scored"), args.seed
            )
        ledger.op(k_same, f"kernel costs equal the scorer's: {k_same}")

        ckpt = run_dir / "ckpt"
        with tr.span("ckpt.cold"):
            run_pipeline_main(inputs, ckpt, run_dir / "ck-ents")
        ck_bytes, ck_files = dir_size(ckpt)
        with tr.span("resume"):
            run_pipeline_main(inputs, ckpt, run_dir / "ck-ents-resume")
        wl.log("checkpointed runs done")
        for name in ("ck-ents", "ck-ents-resume"):
            ents_hash = wl.digest(spark, p(name), ["url", "cluster_id"])[3]
            ledger.op(
                ents_hash == ref[1],
                f"{name}: same entities as the untraced job={ents_hash == ref[1]}",
            )

        # counts, read from the staged layer outputs outside every span
        n_keys = spark.read.parquet(p("t-keys")).count()
        n_pairs = spark.read.parquet(p("t-pairs")).count()
        n_scored, n_match = (
            spark.read.parquet(p("t-scored"))
            .agg(F.count("*"), F.sum(F.col("is_match").cast("long")))
            .first()
        )
        n_entities = (
            spark.read.parquet(p("t-ents")).select("cluster_id").distinct().count()
        )
        max_block, overcap, salt_evals = block_counts(spark, p("t-keys"))
    tr.dump(wl.WORK / "traces" / f"{args.workload}-s{args.seed}.json")

    # the pair expansion is the widest Generate of the pairs plan
    pre_dedup = max(
        (m.get("numOutputRows", 0) for n, m in pairs_plan if n == "Generate"),
        default=0,
    )
    untraced = tr.duration("job.untraced")
    score_s = tr.self_time("score")
    return {
        "setup.cold_s": (setup_cold, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "sketch.self_s": (tr.self_time("sketch"), "s"),
        "sketch.python_s": (metric_sum(sketch_plan, "pythonTotalTime") / 1000, "s"),
        "sketch.keys_out": (n_keys, "count"),
        "pairs.self_s": (tr.self_time("pairs"), "s"),
        "pairs.pre_dedup": (pre_dedup, "count"),
        "pairs.out": (n_pairs, "count"),
        "pairs.dedup_ratio": (n_pairs / max(pre_dedup, 1), "ratio"),
        "pairs.shuffle_bytes": (
            metric_sum(pairs_plan, "shuffleBytesWritten", "Exchange"),
            "bytes",
        ),
        "pairs.max_block": (max_block, "count"),
        "pairs.overcap_blocks": (overcap, "count"),
        "pairs.salt_evals": (salt_evals, "count"),
        "score.self_s": (score_s, "s"),
        "score.pairs_per_s": (n_scored / score_s, "pairs/s"),
        "score.python_s": (metric_sum(score_plan, "pythonTotalTime") / 1000, "s"),
        "score.python_bytes_in": (metric_sum(score_plan, "pythonDataSent"), "bytes"),
        "score.broadcast_bytes": (
            metric_sum(score_plan, "dataSize", "BroadcastExchange"),
            "bytes",
        ),
        "score.match_ratio": (n_match / max(n_scored, 1), "ratio"),
        "kernel.pairs_per_s": (k_pairs / k_wall, "pairs/s"),
        "kernel.word_steps": (k_steps, "count"),
        "kernel.word_steps_per_s": (k_steps / k_wall, "1/s"),
        "cluster.self_s": (tr.self_time("cluster"), "s"),
        "cluster.edges_in": (n_match, "count"),
        "cluster.entities": (n_entities, "count"),
        "ckpt.cold_s": (tr.duration("ckpt.cold"), "s"),
        "ckpt.overhead_s": (tr.duration("ckpt.cold") - untraced, "s"),
        "ckpt.bytes_written": (ck_bytes, "bytes"),
        "ckpt.files": (ck_files, "count"),
        "resume.self_s": (tr.self_time("resume"), "s"),
        "trace.overhead_s": (tr.duration("job.traced") - untraced, "s"),
    }
