"""Structured Streaming: streaming exact dedup, stateful incremental
candidate pairs, as-of enrichment and cluster maintenance, each with a
checkpoint (exactly-once)."""

from pyspark.sql import functions as F

from sassy_spark.streaming import ingest


def test_streaming_exact_dedup(spark, pages, tmp_path):
    src = str(tmp_path / "src")
    # write the same rows twice (re-crawl): dedup keeps one per content hash
    p = pages.drop("cluster_id").limit(50)
    p.write.mode("overwrite").parquet(src + "/f1")
    p.write.mode("overwrite").parquet(src + "/f2")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = ingest.streaming_exact_dedup(spark, src + "/*", out, ck)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    n_distinct = p.select("text").distinct().count()
    assert got.count() == n_distinct


def test_streaming_candidate_pairs_stateful_incremental(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-band member
    state emits each candidate pair exactly once ACROSS restarts — new
    arrivals pair against remembered members, never re-emitting old
    pairs."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    # two near-identical docs share LSH bands; the third arrives later
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the wide green field toward the shallow river crossing "
        "where the old wooden bridge still stands beside the mill"
    )
    rows1 = [("u1", base), ("u2", base + " extra tail")]
    rows2 = [("u3", base + " другой tail")]

    def write(rows, name):
        spark.createDataFrame(rows, ["url", "text"]).select(
            "url",
            F.current_timestamp().alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit("en").alias("lang"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    write(rows1, "b1")
    q = ingest.streaming_candidate_pairs(spark, src, out, ck)
    q.awaitTermination(180)
    got1 = {
        (r.url_a, r.url_b)
        for r in spark.read.parquet(out).select("url_a", "url_b").distinct().collect()
    }
    assert got1 == {("u1", "u2")}
    # second batch: restart with same checkpoint; only NEW pairs appear
    write(rows2, "b2")
    q2 = ingest.streaming_candidate_pairs(spark, src, out, ck)
    q2.awaitTermination(180)
    all_rows = spark.read.parquet(out).select("url_a", "url_b").collect()
    pair_set = {(r.url_a, r.url_b) for r in all_rows}
    assert pair_set == {("u1", "u2"), ("u1", "u3"), ("u2", "u3")}
    # exactly-once per band: (u1,u2) was NOT re-emitted in batch 2 — its
    # row count equals its band multiplicity from batch 1 only
    from collections import Counter

    c = Counter((r.url_a, r.url_b) for r in all_rows)
    assert c[("u1", "u2")] <= c[("u1", "u3")] + c[("u2", "u3")]


def test_streaming_asof_enrich_order_adversarial(spark, tmp_path):
    """ALL purchases arrive in snapshot 0, ALL views in snapshot 1 —
    every answer must come from the re-emission path and still converge
    to the batch as-of result."""
    from datetime import datetime

    T = datetime
    purchases = [
        (100, T(2024, 1, 1, 11, 0), 10, "purchase", 0.0),
        (101, T(2024, 1, 1, 12, 0), 10, "purchase", 0.0),
        (102, T(2024, 1, 1, 8, 0), 10, "purchase", 0.0),  # before any view
    ]
    views = [
        (1, T(2024, 1, 1, 9, 0), 10, "view", 1.0),
        (2, T(2024, 1, 1, 10, 0), 10, "view", 2.0),
        (3, T(2024, 1, 1, 11, 30), 10, "view", 3.0),
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    spark.createDataFrame(purchases, cols).coalesce(1).write.parquet(
        str(tmp_path / "src" / "snap0")
    )
    spark.createDataFrame(views, cols).coalesce(1).write.parquet(
        str(tmp_path / "src" / "snap1")
    )
    q = ingest.streaming_asof_enrich(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    final = {
        r["event_id"]: r
        for r in got.groupBy("event_id")
        .agg(
            F.max_by(
                F.struct("asof_value", "asof_ts_us"), F.col("asof_ts_us")
            ).alias("m")
        )
        .select("event_id", "m.asof_value", "m.asof_ts_us")
        .collect()
    }
    assert set(final) == {100, 101}          # 102 precedes every view
    assert final[100]["asof_value"] == 2.0   # 10:00 view
    assert final[101]["asof_value"] == 3.0   # 11:30 view


def test_streaming_cluster_maintenance_equals_batch(spark, tmp_path):
    """Edges split across 3 snapshot dirs (one micro-batch each) fold
    into exactly the from-scratch CC labels; a second stream run over
    the same source+checkpoint replays nothing and leaves the state
    pointer unchanged (exactly-once)."""
    from sassy_spark.operators.cluster import connected_components
    from sassy_spark.streaming.ingest import (
        read_maintained_clusters,
        streaming_cluster_maintenance,
    )

    # two components whose pieces are deliberately interleaved across
    # snapshots: {1..5} glued only by the cross-batch edge (2,3), and
    # {10,11,12}; plus a singleton-ish late edge (20,21)
    snaps = [
        [(1, 2), (10, 11)],
        [(3, 4), (4, 5), (11, 12)],
        [(2, 3), (20, 21)],
    ]
    src = tmp_path / "src"
    for i, es in enumerate(snaps):
        spark.createDataFrame(es, "src long, dst long").write.parquet(
            str(src / f"snap{i:02d}")
        )
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    q = streaming_cluster_maintenance(spark, str(src), state, ck)
    q.awaitTermination()
    got = {
        (r.url, r.cluster_id)
        for r in read_maintained_clusters(spark, state).collect()
    }
    all_edges = spark.createDataFrame(
        [e for es in snaps for e in es], "src long, dst long"
    )
    want = {
        (r.url, r.cluster_id)
        for r in connected_components(all_edges).collect()
    }
    assert got == want
    assert {c for _, c in got} == {1, 10, 20}

    from sassy_spark.operators.staging import fs_read_text

    ptr_before = fs_read_text(spark, f"{state}/_LATEST")
    q2 = streaming_cluster_maintenance(spark, str(src), state, ck)
    q2.awaitTermination()
    assert fs_read_text(spark, f"{state}/_LATEST") == ptr_before
    got2 = {
        (r.url, r.cluster_id)
        for r in read_maintained_clusters(spark, state).collect()
    }
    assert got2 == want
