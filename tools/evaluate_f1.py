"""Pairwise-F1 evaluation against planted ground truth — the north pin.

Runs the full pipeline on a deterministic synthetic corpus, evaluates:
  * pair-level precision/recall/F1 of is_match vs same-cluster labels
    (recall counted only over pairs whose TRUE edit distance <= k_eff —
    the reference-searcher-findable set, per the F1 pin definition);
  * cluster-level pairwise agreement after transitive closure.
Appends to BENCH/BASELINE.md and prints one JSON line.

``evaluate(spark, n_pages, k_frac)`` is importable (bench.py reports a
MEASURED F1 each round instead of a hardcoded claim).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def evaluate(spark, n_pages: int = 4000, k_frac: float = 0.05) -> dict:
    from pyspark.sql import functions as F

    from sassy_spark.operators import cluster, linkage
    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, n_pages, seed=42).persist()
    pages.count()
    inp = pages.drop("cluster_id")

    scored = linkage.link(inp, k=None, k_frac=k_frac).persist()
    scored.count()

    truth = pages.select("url", "cluster_id")
    # all intra-cluster pairs with their exact kernel distance (the
    # reference-findable set: distance <= k_eff)
    a = truth.alias("a")
    b = truth.alias("b")
    pos_pairs = (
        a.join(b, F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))
    )
    pos_scored = linkage.score_pairs(
        pos_pairs, inp, k=None, k_frac=k_frac
    ).persist()
    findable = pos_scored.where("cost <= k_eff").select("url_a", "url_b")
    n_findable = findable.count()

    pred = scored.where("is_match").select("url_a", "url_b").persist()
    n_pred = pred.count()
    tp = findable.join(pred, ["url_a", "url_b"], "left_semi").count()
    # false positives: predicted matches across different clusters
    t2 = truth
    fp = (
        pred.join(
            t2.withColumnRenamed("url", "url_a").withColumnRenamed(
                "cluster_id", "ca"
            ),
            "url_a",
        )
        .join(
            t2.withColumnRenamed("url", "url_b").withColumnRenamed(
                "cluster_id", "cb"
            ),
            "url_b",
        )
        .where("ca != cb")
        .count()
    )
    precision = (n_pred - fp) / max(n_pred, 1)
    recall = tp / max(n_findable, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-9)

    # cluster-level agreement
    ents = cluster.resolve_entities(inp, scored)
    j = ents.join(truth.withColumnRenamed("cluster_id", "t"), "url").persist()
    agree = (
        j.alias("x")
        .join(j.alias("y"), F.col("x.url") < F.col("y.url"))
        .select(
            (F.col("x.cluster_id") == F.col("y.cluster_id")).alias("p"),
            (F.col("x.t") == F.col("y.t")).alias("t"),
        )
    )
    ctp = agree.where("p and t").count()
    cfp = agree.where("p and not t").count()
    cfn = agree.where("t and not p").count()
    cprec = ctp / max(ctp + cfp, 1)
    crec = ctp / max(ctp + cfn, 1)
    cf1 = 2 * cprec * crec / max(cprec + crec, 1e-9)

    for df in (pages, scored, pos_scored, pred, j):
        df.unpersist()
    return {
        "n_pages": n_pages,
        "k_frac": k_frac,
        "findable_pairs": n_findable,
        "predicted_pairs": n_pred,
        "pair_precision": round(precision, 4),
        "pair_recall": round(recall, 4),
        "pair_f1": round(f1, 4),
        "cluster_pair_f1": round(cf1, 4),
    }


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    k_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05

    from sassy_spark import build_spark

    spark = build_spark(app_name="f1_eval")
    out = evaluate(spark, n_pages, k_frac)
    print(json.dumps(out))
    with open(REPO / "BENCH" / "BASELINE.md", "a") as f:
        f.write(
            f"\n## F1 evaluation {time.strftime('%Y-%m-%d %H:%M:%S')}\n\n"
            f"{n_pages} pages, k_frac={k_frac}: pair F1 "
            f"**{out['pair_f1']:.4f}** (precision {out['pair_precision']:.4f}, "
            f"recall {out['pair_recall']:.4f} over the "
            f"{out['findable_pairs']} reference-findable pairs, i.e. true "
            f"distance <= k); cluster-level pairwise F1 after transitive "
            f"closure **{out['cluster_pair_f1']:.4f}**.\n"
        )
    spark.stop()


if __name__ == "__main__":
    main()
