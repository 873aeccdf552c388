"""spark-submit entry point for the full ER pipeline.

    spark-submit --py-files sassy_spark.zip \
        sassy_spark/run_pipeline.py \
        --input  <pages parquet/iceberg table> \
        --output <entities dir> \
        --checkpoint <checkpoint dir> \
        --k-frac 0.05

Resumable: a rerun with the same --checkpoint, in the same process or
a new spark-submit, resumes from the latest valid snapshot under it:
link()'s block-key, candidate-pair and scored stages
(<checkpoint>/stage=*) and then the connected-components iterations
(<checkpoint>/cc/iter=*). Every snapshot is fingerprinted by the
content of its input (rows + hash) and the parameters and re-verified
against the data on disk before it is trusted (operators/staging
write_snapshot/read_snapshot); a rewritten input or other parameters
rebuild. When no --input is given, generates a deterministic synthetic
corpus (for dry-runs/CI).

Metrics: per-stage row counts and wall times + candidate-pairs/sec are
written to <checkpoint>/metrics.json and logged.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet path or table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--k", type=int, default=None)
    ap.add_argument("--k-frac", type=float, default=0.05)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--n-hashes", type=int, default=128)
    ap.add_argument("--max-block-size", type=int, default=256)
    ap.add_argument("--synthetic-pages", type=int, default=20000)
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        # spark-submit provides the session config; local fallback builds one
        from sassy_spark.session import build_spark

        spark = build_spark(app_name="sassy_link")

    from sassy_spark.operators import cluster, linkage
    from sassy_spark.sources.pages import generate_pages

    metrics: dict = {"stages": {}}
    t_all = time.time()

    if args.input:
        if args.input.endswith(".parquet") or os.path.isdir(args.input):
            pages = spark.read.parquet(args.input)
        else:
            pages = spark.read.table(args.input)
    else:
        pages = generate_pages(spark, args.synthetic_pages, seed=42).drop(
            "cluster_id"
        )
    pages = pages.persist()
    n_pages = pages.count()
    metrics["n_pages"] = n_pages

    t = time.time()
    scored = linkage.link(
        pages,
        k=args.k,
        k_frac=args.k_frac if args.k is None else None,
        text_col=args.text_col,
        max_block_size=args.max_block_size,
        bands=args.bands,
        n_hashes=args.n_hashes,
        checkpoint_dir=args.checkpoint,
    )
    n_scored = scored.count()
    dt = time.time() - t
    metrics["stages"]["score"] = {
        "pairs_scored": n_scored,
        "sec": round(dt, 2),
        "pairs_per_sec": round(n_scored / max(dt, 1e-9), 1),
    }

    t = time.time()
    ents = cluster.resolve_entities(
        pages, scored, checkpoint_dir=os.path.join(args.checkpoint, "cc")
    )
    ents.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n_entities = out.select("cluster_id").distinct().count()
    metrics["stages"]["cluster"] = {
        "rows": out.count(),
        "n_entities": n_entities,
        "sec": round(time.time() - t, 2),
    }
    metrics["total_sec"] = round(time.time() - t_all, 2)

    # every output is on disk — release the input cache (the only persist
    # this pipeline takes; stages go through parquet staging) so a run
    # leaves no persisted RDDs behind
    pages.unpersist()

    # metrics go through the Hadoop FS API so they land on the same
    # filesystem as the checkpoints (HDFS/S3 safe, not driver-local)
    from sassy_spark.operators.staging import fs_write_text

    fs_write_text(
        spark,
        os.path.join(args.checkpoint, "metrics.json"),
        json.dumps(metrics, indent=2),
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
