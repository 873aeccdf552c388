"""Structured-Streaming ingest: incremental crawl snapshots.

The reference is batch-only (files in, TSV out); the engine's streaming
extension covers the pipeline's ingest face: new page snapshots arrive as
parquet files in a directory (the sandbox stand-in for an Iceberg
incremental read / Kafka topic) and are deduplicated, blocked into
candidate pairs, enriched as-of, or folded into maintained clusters —
with exactly-once file-sink semantics from checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def streaming_candidate_pairs(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    bands: int = 8,
    n_hashes: int = 64,
    ngram: int = 5,
    seed: int = 42,
    max_block_size: int = 64,
):
    """Incremental ER blocking — a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState``): as page snapshots stream in, each LSH
    band key keeps the set of members seen so far as group state; every
    new member emits candidate pairs against the existing members (and
    the other arrivals of its batch), so downstream scoring sees each
    candidate pair exactly once across restarts (state lives in the
    streaming checkpoint).

    Skew safety carries over from the batch design: a band's state is
    capped at ``max_block_size`` members — a hot boilerplate band stops
    yielding pairs instead of exploding quadratically. Cross-band
    duplicate pairs are left to the downstream batch dedup (same as the
    batch pipeline's dropDuplicates).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.linkage import minhash_band_keys

    src = (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        # snapshots arrive as one directory per crawl batch
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    keys = minhash_band_keys(
        src, text_col="text", n_hashes=n_hashes, bands=bands, ngram=ngram,
        seed=seed,
    )

    def emit(key, pdfs, state: GroupState):
        seen = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        new: list[str] = []
        for pdf in pdfs:
            new.extend(pdf["url"].tolist())
        rows = []
        for u in new:
            if u in seen_set:
                continue  # re-crawled page: already paired, keep state flat
            if len(seen) >= max_block_size:
                break
            for v in seen:
                a, b = (u, v) if u < v else (v, u)
                rows.append((a, b, key[0]))
            seen.append(u)
            seen_set.add(u)
        state.update((seen[:max_block_size],))
        yield pd.DataFrame(rows, columns=["url_a", "url_b", "block_key"])

    pairs = keys.groupBy("block_key").applyInPandasWithState(
        emit,
        outputStructType="url_a string, url_b string, block_key bigint",
        stateStructType="urls array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming exact dedup: drop re-crawled pages whose content hash was
    already seen (state kept by dropDuplicates within the watermark)."""
    src = (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        # snapshots arrive as one directory per crawl batch
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
        .withColumn("content_hash", F.xxhash64("text"))
        .withWatermark("warc_ts", "1 day")
        .dropDuplicates(["content_hash"])
    )
    return (
        src.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def streaming_asof_enrich(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    left_type: str = "purchase",
    right_type: str = "view",
    max_state: int = 128,
):
    """Streaming as-of enrichment — the streaming face of
    ``operators.events.asof_join``, ARRIVAL-ORDER ROBUST: each left-type
    event (purchase) is enriched with the most recent right-type event
    (view) at or before it for the same user, converging to exactly the
    batch as-of answer no matter how the micro-batches interleave.

    Mechanism (``applyInPandasWithState`` per user): state keeps the
    views and the open purchases (with each purchase's best match ts so
    far). A purchase emits its best-so-far answer on arrival; a LATER
    view that improves an open purchase's answer re-emits it. Downstream
    takes max_by(asof_ts) per purchase — the improvement filter makes
    emissions monotone, so the last emission IS the batch answer.
    Per-user state is capped at ``max_state`` rows per side (the skew
    rule every stateful operator here follows); outputs carry event-time
    as epoch micros (converted back with timestamp_micros downstream) so
    state stays primitive arrays.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .where(F.col("event_type").isin(left_type, right_type))
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.col("event_type") == left_type).alias("is_left"),
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )

    cols = ["event_id", "user_id", "ts_us", "asof_value", "asof_ts_us"]

    def enrich(key, pdfs, state: GroupState):
        if state.exists:
            v_ts, v_val, p_id, p_ts, p_best = (
                list(state.get[0]), list(state.get[1]),
                list(state.get[2]), list(state.get[3]), list(state.get[4]),
            )
        else:
            v_ts, v_val, p_id, p_ts, p_best = [], [], [], [], []
        out = []

        def best_view(ts):
            bi = -1
            for i, vt in enumerate(v_ts):
                if vt <= ts and (bi < 0 or vt > v_ts[bi]):
                    bi = i
            return bi

        for pdf in pdfs:
            # views of this batch first: same-batch views are visible to
            # same-batch purchases (batch as-of semantics)
            for r in pdf[~pdf["is_left"]].itertuples():
                if len(v_ts) >= max_state:
                    break
                v_ts.append(int(r.ts_us))
                v_val.append(float(r.value) if pd.notna(r.value) else None)
                # a later-arriving view may improve an OPEN purchase
                for j in range(len(p_id)):
                    if p_ts[j] >= r.ts_us and r.ts_us > p_best[j]:
                        p_best[j] = int(r.ts_us)
                        out.append(
                            (p_id[j], key[0], p_ts[j], v_val[-1], int(r.ts_us))
                        )
            for r in pdf[pdf["is_left"]].itertuples():
                if len(p_id) >= max_state:
                    break
                bi = best_view(int(r.ts_us))
                p_id.append(int(r.event_id))
                p_ts.append(int(r.ts_us))
                p_best.append(v_ts[bi] if bi >= 0 else -1)
                if bi >= 0:
                    out.append(
                        (int(r.event_id), key[0], int(r.ts_us),
                         v_val[bi], v_ts[bi])
                    )
        state.update((v_ts, v_val, p_id, p_ts, p_best))
        yield pd.DataFrame(out, columns=cols)

    enriched = src.groupBy("user_id").applyInPandasWithState(
        enrich,
        outputStructType=(
            "event_id long, user_id long, ts_us long, "
            "asof_value double, asof_ts_us long"
        ),
        stateStructType=(
            "v_ts array<long>, v_val array<double>, p_id array<long>, "
            "p_ts array<long>, p_best array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


EDGES_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ]
)


def streaming_cluster_maintenance(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Continuously maintained entity table over a match-edge stream —
    the streaming face of q70's incremental fold: matched pairs arrive
    as parquet snapshots (the sandbox stand-in for the Kafka topic a
    streaming scorer emits into), and every micro-batch folds them into
    a persistent (url, cluster_id) state with
    ``CC(star(previous labels) UNION batch edges)`` — the star edges
    (node -> label) preserve all previously discovered connectivity, so
    after the last batch the state equals from-scratch connected
    components over the full edge set REGARDLESS of how edges were
    split across batches (pinned by q103's exact batch-equivalence
    oracle).

    State discipline: labels are written to a VERSIONED directory
    ``labels_v{batch_id}`` and a ``_LATEST`` pointer file is updated
    through the Hadoop FS API afterwards — never overwrite-in-place
    (Spark truncates the target before the lazy read of the previous
    state would run). Restart replay of an already-applied batch is a
    no-op (the pointer is monotone in batch_id), giving exactly-once
    folds on top of the sink checkpoint's at-least-once replay.

    Scale: each fold shuffles (long, long) star + batch edges only; the
    historical PAIR SET is never re-read — exactly the property that
    makes nightly-crawl folding tractable when history is 10^12 pages.
    """
    from ..operators.cluster import connected_components
    from ..operators.staging import fs_read_text, fs_write_text

    def fold(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        ptr = fs_read_text(s, f"{state_dir}/_LATEST")
        if ptr is not None and int(ptr) >= batch_id:
            return  # replayed batch already folded — exactly-once
        e = batch.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        if ptr is not None:
            prev = s.read.parquet(f"{state_dir}/labels_v{ptr}")
            star = prev.select(
                F.col("url").cast("long").alias("src"),
                F.col("cluster_id").cast("long").alias("dst"),
            )
            e = star.unionByName(e)
        cc = connected_components(e)
        cc.write.mode("overwrite").parquet(
            f"{state_dir}/labels_v{batch_id}"
        )
        fs_write_text(s, f"{state_dir}/_LATEST", str(batch_id))

    src = (
        spark.readStream.schema(EDGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # snapshots arrive as one directory per scorer batch
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    return (
        src.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_maintained_clusters(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Read the current (url, cluster_id) state written by
    :func:`streaming_cluster_maintenance` (the _LATEST pointer)."""
    from ..operators.staging import fs_read_text

    ptr = fs_read_text(spark, f"{state_dir}/_LATEST")
    if ptr is None:
        raise FileNotFoundError(f"no _LATEST pointer under {state_dir}")
    return spark.read.parquet(f"{state_dir}/labels_v{ptr}")
