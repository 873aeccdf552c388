"""Deterministic curation operators: hash splits/samples and the
skew-safe per-key cap (operators/sampling.py), plus the incremental
new-vs-old near-dup gate (operators/dedup.py)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def test_deterministic_split_fractions_coverage_stability(spark):
    from sassy_spark.operators.sampling import deterministic_split

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = deterministic_split(
        df, fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # every row assigned to exactly one split
    assert sum(counts.values()) == 20000
    assert set(counts) == {"train", "val", "test"}
    # fractions hit within binomial noise (sigma ~ 0.3% at n=20000)
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.02
    assert abs(counts["test"] / 20000 - 0.1) < 0.02
    # the assignment is a pure function of the key: a different physical
    # partitioning of the same input yields the identical assignment
    out2 = deterministic_split(
        df.repartition(13), fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert out.exceptAll(out2).count() == 0
    assert out2.exceptAll(out).count() == 0


def test_deterministic_split_salt_gives_independent_partitioning(spark):
    from sassy_spark.operators.sampling import deterministic_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = deterministic_split(df, salt="")
    b = deterministic_split(df, salt="exp2")
    moved = (
        a.alias("a")
        .join(b.alias("b"), "doc_id")
        .where(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert moved > 0  # a salt derives a genuinely different partitioning


def test_deterministic_split_validates_fractions(spark):
    from sassy_spark.operators.sampling import deterministic_split

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum"):
        deterministic_split(df, fractions={"a": 0.5, "b": 0.3})


def test_cap_per_key_equals_naive_window_on_skewed_keys(spark):
    from sassy_spark.operators.sampling import cap_per_key

    # one hot key with 4000 rows, many cold keys with 1-30 rows, and
    # duplicate order-values so the unique tiebreaker matters
    df = spark.range(5000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") < 4000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 37).cast("string")))
        .alias("key"),
        (F.col("id") % 97).alias("score"),
    )
    got = cap_per_key(
        df,
        key_col="key",
        order_by=[("score", "desc"), ("row_id", "asc")],
        n=5,
        n_salts=8,
    )
    w = Window.partitionBy("key").orderBy(
        F.col("score").desc(), F.col("row_id").asc()
    )
    want = df.withColumn("rank_in_key", F.row_number().over(w)).where(
        F.col("rank_in_key") <= 5
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # and the hot key was actually capped
    assert got.where(F.col("key") == "hot").count() == 5


def test_cap_per_key_rejects_empty_order(spark):
    from sassy_spark.operators.sampling import cap_per_key

    df = spark.range(10).select(F.lit("k").alias("key"), "id")
    with pytest.raises(ValueError, match="order_by"):
        cap_per_key(df, "key", [], 3)
    with pytest.raises(ValueError, match="asc|desc"):
        cap_per_key(df, "key", [("id", "down")], 3).count()


def test_hex_threshold_exact_bounds():
    from sassy_spark.operators.sampling import hex_threshold

    assert hex_threshold(0.0) == "000000000000"
    assert hex_threshold(1.0) == "ffffffffffff"
    # 0.5 is exactly the midpoint hex string
    assert hex_threshold(0.5) == "800000000000"
    with pytest.raises(ValueError):
        hex_threshold(1.5)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_minhash_pairs_cross_side_only(spark):
    from sassy_spark.operators.dedup import incremental_minhash_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow waltz in the old town square and the evening crowd gathers "
        "around the fountain to watch the lights come on one by one "
    ) * 3
    other = (
        "completely different subject matter entirely about submarine "
        "navigation protocols and the maintenance of ballast tanks under "
        "pressure at depth with periodic inspection schedules and logs "
    ) * 3
    # new 1 ~ old 2 (near-identical, one edit); new 3 ~ new 5 (cross-side
    # MUST NOT pair them); old 4 unrelated to everything new
    new = _mk_docs(
        spark,
        [
            (1, base + " extra tail one"),
            (3, other + " variant a"),
            (5, other + " variant b"),
        ],
    )
    old = _mk_docs(
        spark,
        [
            (2, base + " extra tail two"),
            (4, "short unrelated text about gardening tips for spring"),
        ],
    )
    got = incremental_minhash_pairs(
        new, old, jaccard_threshold=0.4, max_block_size=64
    )
    rows = {(r["new_id"], r["old_id"]) for r in got.collect()}
    assert (1, 2) in rows  # the planted cross-side near-dup is found
    # every emitted pair is new-side id x old-side id — never new-new
    assert all(a in {1, 3, 5} and b in {2, 4} for a, b in rows)
    assert (3, 5) not in rows and (5, 3) not in rows
    # jaccard values are the exact verify, not the sketch estimate
    j = {
        (r["new_id"], r["old_id"]): r["jaccard"] for r in got.collect()
    }
    assert j[(1, 2)] >= 0.9


def test_incremental_minhash_pairs_empty_sides(spark):
    from sassy_spark.operators.dedup import incremental_minhash_pairs

    docs = _mk_docs(spark, [(1, "some document text " * 20)])
    empty = docs.limit(0)
    assert incremental_minhash_pairs(docs, empty).count() == 0
    assert incremental_minhash_pairs(empty, docs).count() == 0


def test_review_queue_equals_naive_window(spark):
    """The salted two-stage queue must equal the naive one-window
    formulation exactly (the oracle's shape), respect the per-stratum
    quota on a planted hot stratum, and rank by closeness to LR=1."""
    from sassy_spark.operators.sampling import review_queue

    rows = []
    # hot stratum: 40 pairs, lr fanning out around the 1e6 pivot
    for i in range(40):
        rows.append(("en", 2 * i, 2 * i + 1, 1_000_000 + (i - 20) * 7_000))
    # sparse stratum: 3 pairs, all far from the pivot
    for i in range(3):
        rows.append(("fr", 1000 + i, 2000 + i, 90_000_000 + i))
    df = spark.createDataFrame(
        rows, "lang string, doc_a long, doc_b long, lr_qmicros long"
    )
    got = review_queue(
        df, stratum_col="lang", per_stratum=5
    ).collect()
    w = Window.partitionBy("lang").orderBy(
        "uncertainty_qmicros", "doc_a", "doc_b"
    )
    naive = (
        df.withColumn(
            "uncertainty_qmicros",
            F.abs(F.col("lr_qmicros") - F.lit(1_000_000)).cast("long"),
        )
        .withColumn("queue_rank", F.row_number().over(w))
        .where(F.col("queue_rank") <= 5)
        .collect()
    )
    key = lambda r: (r.lang, r.queue_rank)
    assert sorted(
        [(r.lang, r.queue_rank, r.doc_a, r.uncertainty_qmicros) for r in got]
    ) == sorted(
        [(r.lang, r.queue_rank, r.doc_a, r.uncertainty_qmicros)
         for r in naive]
    )
    en = sorted([r for r in got if r.lang == "en"], key=key)
    assert len(en) == 5  # quota holds on the hot stratum
    # rank 1 = the pair closest to the indifference point
    assert en[0].uncertainty_qmicros == 0 and en[0].doc_a == 40
    assert len([r for r in got if r.lang == "fr"]) == 3  # under quota
