"""Stage-level wall breakdown for q22 (connected components over the
adjacent-documents chain graph) — same diagnose-before-optimizing recipe
that cracked q20 (the sketch UDFs were riding a 1-file scan's single
partition).

Phases timed separately, each forced with its own action:
  1. edge build  — adjacent self-join + score_pairs(k=220) + is_match
  2. cc          — large-star/small-star iterations (per-iteration walls
                   printed by instrumenting the loop via a monkeypatched
                   stage_parquet)
  3. label join  — _labels_from_stars + left join back to all docs

Usage: python tools/profile_q22.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from sassy_spark.operators import linkage
    from sassy_spark.operators.cluster import connected_components
    from sassy_spark.session import build_spark

    spark = build_spark(app_name="profile_q22", cores=32)
    t0 = time.time()
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    pages = d.select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("url"), "text"
    )
    adj = (
        d.alias("a")
        .join(d.alias("b"), F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.lpad(F.col("a.doc_id").cast("string"), 8, "0").alias("url_a"),
            F.lpad(F.col("b.doc_id").cast("string"), 8, "0").alias("url_b"),
        )
    )
    scored = linkage.score_pairs(adj, pages, k=220)
    edges = scored.where("is_match").select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    )
    # materialize the edge set once so phase 2 doesn't re-run the kernel
    import tempfile

    scratch = tempfile.mkdtemp(prefix="q22prof_", dir="/dev/shm")
    edges.write.mode("overwrite").parquet(f"{scratch}/edges")
    n_edges = spark.read.parquet(f"{scratch}/edges").count()
    t1 = time.time()
    print(f"phase1 edge-build+score: {t1 - t0:.2f}s  ({n_edges} edges)")

    # instrument per-iteration walls
    from sassy_spark.operators import staging as staging_mod

    orig_stage = staging_mod.stage_parquet
    iter_walls = []
    last = [time.time()]

    def timed_stage(df, ckdir, name):
        out = orig_stage(df, ckdir, name)
        now = time.time()
        iter_walls.append((name, round(now - last[0], 2)))
        last[0] = now
        return out

    # connected_components does `from .staging import stage_parquet`
    # at call time, so the patch must land on the staging module —
    # patching cluster_mod would never be seen
    staging_mod.stage_parquet = timed_stage
    e = spark.read.parquet(f"{scratch}/edges")
    t2 = time.time()
    last[0] = t2
    cc = connected_components(e)
    n_cc = cc.count()
    t3 = time.time()
    staging_mod.stage_parquet = orig_stage
    print(f"phase2 cc iterations:    {t3 - t2:.2f}s  ({n_cc} labeled rows)")
    for name, w in iter_walls:
        print(f"    {name}: {w}s")

    t4 = time.time()
    all_docs = pages.select("url").join(cc, "url", "left")
    out = all_docs.select(
        F.col("url").cast("long").alias("doc_id"),
        F.coalesce(F.col("cluster_id"), F.col("url"))
        .cast("long")
        .alias("cluster_id"),
    )
    n = out.count()
    t5 = time.time()
    print(f"phase3 label join:       {t5 - t4:.2f}s  ({n} rows)")
    print(f"total:                   {t5 - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
