"""Deduplication operators over a documents table — the training-data-
pipeline companions to the linkage pipeline.

All operators take a DataFrame with (id, text) (or embeddings) and
return either per-document verdicts or duplicate pairs/groups. The
near-dup family reuses the engine's sketch functions (MinHash-LSH,
SimHash, winnowing) and the n-gram Jaccard verifier. Designed so the
expensive verify only sees LSH-gated candidates — the same
cheap-gate/expensive-verify shape as the reference's hierarchical
prefilter (src/pattern_tiling/general.rs:60-102).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    hamming64,
    make_fingerprint_udf,
    make_simhash_udf,
)
from ..functions.text import char_ngrams, normalize


# ----------------------------------------------------------------- minhash


def minhash_sketch(
    src: DataFrame, n_hashes: int = 128, ngram: int = 5, seed: int = 42
) -> DataFrame:
    """The one minhash sketch UDF. ``src`` holds ``_norm`` (normalized
    text) plus the columns to keep; the output is those columns plus
    ``sig array<bigint>``: one-permutation minhash signatures over char
    n-grams of ``_norm``, one Arrow pass per batch (prefix-sum shingle
    hashing + one scatter for the whole batch). Rows whose ``_norm`` is
    empty or null are dropped. Deterministic (seeded), so band keys
    derived from it are stable across runs and checkpoints."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from ..functions.hashing import oph_signatures_batch, shingle_hashes_batch

    seed_mix = np.uint64(seed * 0x9E3779B97F4A7C15 % (1 << 63))
    schema = src.drop("_norm").schema.add("sig", T.ArrayType(T.LongType()))

    def sketch_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            norm = batch.column("_norm")
            idx = np.flatnonzero(
                pc.fill_null(pc.utf8_length(norm), 0).to_numpy() > 0
            )
            if len(idx) == 0:
                continue
            h_all, doc_idx, _ = shingle_hashes_batch(
                norm.take(idx).to_pylist(), ngram
            )
            h_all ^= seed_mix
            sigs = oph_signatures_batch(h_all, doc_idx, len(idx), n_hashes)
            offsets = np.arange(0, sigs.size + 1, n_hashes, dtype=np.int32)
            sig = pa.ListArray.from_arrays(
                offsets, pa.array(sigs.view(np.int64).ravel())
            )
            cols = [batch.column(n).take(idx) for n in schema.names[:-1]]
            yield pa.RecordBatch.from_arrays(cols + [sig], names=schema.names)

    return src.mapInArrow(sketch_batches, schema)


def band_keys(sig, n_hashes: int = 128, bands: int = 16) -> Column:
    """``array<bigint>`` of the ``bands`` LSH band keys of a minhash
    signature column: band ``bi`` is ``xxhash64(bi, its n_hashes/bands
    slice of sig)``. Two signatures share a key iff all rows of that band
    agree — the classic LSH S-curve."""
    rows_per_band = n_hashes // bands
    return F.array(*[
        F.xxhash64(
            F.lit(bi), F.slice(sig, bi * rows_per_band + 1, rows_per_band)
        )
        for bi in range(bands)
    ])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    ngram: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>): :func:`minhash_sketch` over normalized
    ``text_col``, keyed by ``id_col`` (its type kept) — the sketch
    linkage uses, so :func:`band_keys` of these signatures gate the same
    pairs."""
    from .linkage import _fan_out_small_input

    src = df.select(
        F.col(id_col).alias("id"), normalize(F.col(text_col)).alias("_norm")
    )
    # the sketch UDF is the CPU-bound stage: never let a few-file scan
    # serialize it onto a handful of tasks (q20 at sf0.1 arrives as ONE
    # parquet file -> one task -> 17s single-threaded vs 2s fanned out)
    src = _fan_out_small_input(src, "id")
    return minhash_sketch(src, n_hashes=n_hashes, ngram=ngram, seed=seed)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    jaccard_threshold: float = 0.7,
    max_block_size: int = 512,
    candidates_out: str | None = None,
    est_margin: float | None = 0.2,
) -> DataFrame:
    """The GATE of :func:`minhash_lsh_pairs` alone: staged candidate pairs
    (id_a, id_b) after band-bucket grouping + signature-estimate
    pre-filter, before the exact verify. Exposed so recall pins (q35) can
    audit the production gate directly. Leaves no persisted RDDs behind.

    Candidate pairs come from ONE shuffle: ``groupBy(bucket)
    .collect_list(id)`` + the JVM-side in-array expansion of
    :func:`~sassy_spark.operators.linkage.block_pairs`, with buckets over
    ``max_block_size`` dropped (<= cap^2/2 transient structs per bucket).
    The one cost it accepts: an over-cap bucket materializes its id array
    once before the size filter drops it — pathological only when
    millions of documents share an identical 8-hash minhash slice, i.e.
    near-identical boilerplate that exact dedup (run before near-dup in
    the pipeline) already removes."""
    from pyspark import StorageLevel

    from .linkage import block_pairs, broadcast_fits
    from .staging import stage_parquet

    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        ngram=ngram, seed=seed,
    )
    # When the signature table plausibly fits the broadcast threshold
    # (gate: 4x the docs-scan estimate — a 128-hash signature row is
    # ~1 KB, roughly 4x a zstd-parquet text row), skip the persist +
    # count barrier entirely: the estimate pre-filter joins take
    # explicit broadcast hints on the sigs subtree (one build, exchange
    # reuse) and the whole gate collapses into the single staging job
    # (round 6; one fewer job + barrier, measured ~0.5s at sf0.1). Big
    # signature tables must not be broadcast.
    sigs_small = broadcast_fits(df, 4)
    # Small: a LAZY persist (round 6). Executed-plan evidence
    # showed the sketch UDF running 3x inside the one staging job (band
    # path + both estimate-prefilter broadcast builds — exchange reuse
    # does NOT fire across alias-renamed subtrees, verified with a
    # minimal repro). Lazily, the first stage that touches sigs (a
    # broadcast build) populates the cache and every later stage reads
    # it — sketch runs once, no barrier. Big: an eager persist, since the
    # band keys AND the estimate pre-filter joins read sigs. Released
    # after the candidate set is staged.
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    if not sigs_small:
        sigs.count()
    keys = sigs.select(
        "id", F.explode(band_keys("sig", n_hashes, bands)).alias("bucket")
    )
    groups = keys.groupBy("bucket").agg(
        F.collect_list("id").alias("ids")
    ).where(F.size("ids") <= max_block_size)
    cand = block_pairs(groups, "ids").select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    ).dropDuplicates(["id_a", "id_b"])
    if est_margin is not None:
        agree = F.aggregate(
            F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        maybe_bcast = F.broadcast if sigs_small else (lambda x: x)
        cand = (
            cand.join(
                maybe_bcast(
                    sigs.select(
                        F.col("id").alias("id_a"), F.col("sig").alias("sa")
                    )
                ),
                "id_a",
            )
            .join(
                maybe_bcast(
                    sigs.select(
                        F.col("id").alias("id_b"), F.col("sig").alias("sb")
                    )
                ),
                "id_b",
            )
            .where(
                agree / F.lit(float(n_hashes))
                >= F.lit(jaccard_threshold - est_margin)
            )
            .select("id_a", "id_b")
        )
    cand = stage_parquet(cand, candidates_out, "minhash_cand")
    sigs.unpersist()
    return cand


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    jaccard_threshold: float = 0.7,
    max_block_size: int = 512,
    candidates_out: str | None = None,
    est_margin: float | None = 0.2,
) -> DataFrame:
    """Near-duplicate pairs via shingle->minhash->band->bucket, with an
    exact n-gram Jaccard verify on candidates. Output:
    (id_a, id_b, jaccard).

    Physical shape (all shuffles on narrow columns):
      1. signatures once per doc (Python, one Arrow pass), band keys
         derived JVM-side (xxhash64 over signature slices);
      2. one bucket grouping + in-array pair expansion -> candidate
         pairs, buckets over ``max_block_size`` dropped;
      3. signature-estimate pre-filter: the minhash agreement fraction
         estimates Jaccard with sigma ~ sqrt(j(1-j)/n_hashes) (~0.044 at
         128 hashes), so candidates whose estimate falls below
         ``jaccard_threshold - est_margin`` (default margin 0.2 ~ 4.5
         sigma) cannot plausibly pass the exact verify and are dropped
         BEFORE the gram explosion — the dominant cost. ``est_margin=None``
         disables the pre-filter.
      4. exact n-gram Jaccard verify on the surviving candidates.

    ``candidates_out``: optional parquet path that receives the gated
    candidate pair set (post pre-filter) BEFORE the exact verification —
    the audit handoff that lets an external engine (the DuckDB oracle)
    recompute the exact-Jaccard verify stage on the same candidates.

    Leaves no persisted RDDs behind: the signature cache is released once
    the candidate set is staged to parquet (handoff path or RAM scratch).
    """
    cand = minhash_lsh_candidates(
        df, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        bands=bands, ngram=ngram, seed=seed,
        jaccard_threshold=jaccard_threshold, max_block_size=max_block_size,
        candidates_out=candidates_out, est_margin=est_margin,
    )
    return ngram_jaccard_verify(
        cand, df, id_col=id_col, text_col=text_col, ngram=ngram
    ).where(F.col("jaccard") >= jaccard_threshold)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    jaccard_threshold: float = 0.7,
    max_block_size: int = 512,
    candidates_out: str | None = None,
    est_margin: float | None = 0.2,
) -> DataFrame:
    """Incremental-ingestion near-dup: for a NEW batch of documents
    against an EXISTING corpus, emit (new_id, old_id, jaccard) for every
    cross-side near-duplicate — the nightly-crawl primitive ("which of
    tonight's pages already exist, approximately, in the lake"). Unlike
    :func:`minhash_lsh_pairs` on the union, new-vs-new and old-vs-old
    pairs are never generated: the bucket join is DIRECTIONAL, so a
    hot boilerplate cluster fully inside the old corpus costs nothing.

    Contract: ids must be unique across BOTH frames (they address one
    logical document space).

    Physical shape — the dominant cost at 100 TB is the old-corpus
    sketch pass, which is one Arrow scan producing narrow (id, sig)
    rows (and on a real deployment would be persisted once and reused
    across nightly batches; the operator accepts any ``old_docs`` and
    re-sketches for self-containment):

      1. one-permutation minhash signatures per side (one Arrow pass
         each, same sketch family/seed as :func:`minhash_lsh_pairs`);
      2. per-side ``groupBy(bucket).collect_list(id)`` (ids only) with
         the ``max_block_size`` cap applied per side, then ONE bucket
         equi-join of the two bucket tables and a JVM-side in-array
         cross expansion (bounded by cap^2 transient structs/bucket);
      3. optional signature-agreement pre-filter (``est_margin``, same
         4.5-sigma logic as the self-join gate) before
      4. the exact n-gram Jaccard verify on surviving candidates.

    ``candidates_out``: parquet handoff of the gated candidate set
    (new_id, old_id) before the exact verify — the q59 DuckDB oracle
    recomputes the verify stage on these candidates from raw text."""
    from pyspark import StorageLevel

    from .staging import stage_parquet

    # one sketch pass per side; persisted because each side feeds its
    # bucket table AND (optionally) the estimate pre-filter joins
    sigs_n = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        ngram=ngram, seed=seed,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs_o = minhash_signatures(
        old_docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        ngram=ngram, seed=seed,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def _bucket_lists(sigs: DataFrame, out: str) -> DataFrame:
        keys = sigs.select(
            "id", F.explode(band_keys("sig", n_hashes, bands)).alias("bucket")
        )
        return keys.groupBy("bucket").agg(
            F.collect_list("id").alias(out)
        ).where(F.size(out) <= max_block_size)

    gn = _bucket_lists(sigs_n, "new_ids")
    go = _bucket_lists(sigs_o, "old_ids")
    cross = F.flatten(
        F.transform(
            F.col("new_ids"),
            lambda x: F.transform(
                F.col("old_ids"),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        gn.join(go, "bucket")
        .select(F.explode(cross).alias("p"))
        .select("p.id_a", "p.id_b")
        # ids are unique across sides by contract, but a document
        # ingested into BOTH frames would pair with itself at
        # jaccard 1.0 — drop it, matching the self-join gate's strict <
        .where(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    docs_union = new_docs.select(id_col, text_col).unionByName(
        old_docs.select(id_col, text_col)
    )
    if est_margin is not None:
        agree = F.aggregate(
            F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        cand = (
            cand.join(
                sigs_n.select(
                    F.col("id").alias("id_a"), F.col("sig").alias("sa")
                ),
                "id_a",
            )
            .join(
                sigs_o.select(
                    F.col("id").alias("id_b"), F.col("sig").alias("sb")
                ),
                "id_b",
            )
            .where(
                agree / F.lit(float(n_hashes))
                >= F.lit(jaccard_threshold - est_margin)
            )
            .select("id_a", "id_b")
        )
    cand = stage_parquet(cand, candidates_out, "incr_minhash_cand")
    sigs_n.unpersist()
    sigs_o.unpersist()
    return (
        ngram_jaccard_verify(
            cand, docs_union, id_col=id_col, text_col=text_col, ngram=ngram
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("old_id"),
            "jaccard",
        )
    )


def ngram_jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
) -> DataFrame:
    """Exact character-n-gram Jaccard for candidate pairs — pure Catalyst
    (array_distinct + array_intersect sizes), no Python.

    Gram arrays are built only for documents that actually appear in a
    candidate pair (semi-join first): candidates are typically <<1% of the
    corpus, and the gram explosion is ~100x the text size. Grams are
    64-bit-hashed before the set ops: intersecting long arrays costs a
    fraction of intersecting ~n-char strings (equality + hashing per
    element), and the Jaccard value is identical up to 2^-64 collisions
    (~1e-12 per doc pair at 5k grams).

    Physical shape (round-6, guide §2.4/§3.1): when the corpus is small
    enough that the gram table plausibly fits the broadcast threshold
    (gate: 32x the docs-scan size estimate — hashed grams are ~8 bytes
    per text character and parquet text compresses ~4x, so the scan
    estimate understates the built array by ~32x), BOTH pair-join sides
    take an explicit broadcast hint on the SAME gram subtree; exchange
    reuse then computes the gram build once and the whole verify is one
    job with zero extra materializations (was: persist + count barrier
    + a parquet stage write + read-back — three extra jobs, measured
    0.7s of the 2.3s verify at sf0.1). Above the gate the original
    persist + staged-parquet path runs unchanged — grams for a big
    candidate set must not be broadcast."""
    from pyspark import StorageLevel

    from .linkage import broadcast_fits
    from .staging import stage_parquet

    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # normalize is bound in its OWN projection before the gram transform:
    # inlined into the higher-order-function lambda (via text.substr),
    # Catalyst re-evaluates the regexp PER GRAM ELEMENT — measured 10x the
    # whole gram-build cost at sf0.1 (20.2s -> 2.0s). CollapseProject keeps
    # the split because _norm is non-cheap and referenced more than once
    # (sequence length + lambda body).
    g = docs.join(
        ids, docs[id_col] == ids["id"], "left_semi"
    ).select(
        F.col(id_col).alias("id"),
        normalize(F.col(text_col)).alias("_norm"),
    ).select(
        "id",
        F.array_distinct(
            F.transform(
                char_ngrams(F.col("_norm"), ngram),
                lambda s: F.xxhash64(s),
            )
        ).alias("grams"),
    )
    small = broadcast_fits(docs, 32)
    if not small:
        g = g.persist(StorageLevel.MEMORY_AND_DISK)
    maybe_bcast = F.broadcast if small else (lambda x: x)
    out = (
        pairs.join(
            maybe_bcast(
                g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
            ),
            "id_a",
        )
        .join(
            maybe_bcast(
                g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            (
                F.col("inter")
                / F.greatest(
                    F.size("ga") + F.size("gb") - F.col("inter"), F.lit(1)
                )
            ).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if small:
        return out
    staged = stage_parquet(out, None, "jaccard_verify")
    g.unpersist()
    return staged


# ----------------------------------------------------------------- simhash


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    candidates_out: str | None = None,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash within Hamming distance d, using
    the standard banding trick: split the fingerprint into (d+1) chunks —
    any pair within distance d agrees exactly on >= 1 chunk (pigeonhole),
    so candidates come from equi-joins on chunk values, then an exact
    popcount verify. Output: (id_a, id_b, hamming).

    ``candidates_out``: optional parquet path receiving the chunk-join
    candidates (id_a, id_b, fp_a, fp_b) BEFORE the popcount verify, so an
    external engine can recompute the Hamming verify on the same set."""
    from pyspark import StorageLevel

    from .staging import stage_parquet

    n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    from .linkage import _fan_out_small_input

    sh = make_simhash_udf(seed=seed)
    src = _fan_out_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "id",
    )
    fp = src.select("id", sh(F.col("_t")).alias("fp"))
    # eager persist for the verify job only (the fingerprint UDF feeds
    # both self-join sides); released once the candidates are staged
    fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    fp.count()
    # shiftrightunsigned needs a literal shift — build the chunk-key array
    # with a Python loop over the (statically known) chunk count
    chunk_cols = [
        F.concat(
            F.lit(f"{c}:"),
            F.shiftrightunsigned(F.col("fp"), c * bits)
            .bitwiseAND(F.lit((1 << bits) - 1))
            .cast("string"),
        )
        for c in range(n_chunks)
    ]
    chunks = fp.select(
        "id", "fp", F.explode(F.array(*chunk_cols)).alias("bucket")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = stage_parquet(cand, candidates_out, "simhash_cand")
    fp.unpersist()
    return (
        cand.select(
            "id_a",
            "id_b",
            hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------------- fingerprint


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    window: int = 16,
    min_shared: int = 3,
    index_out: str | None = None,
) -> DataFrame:
    """Winnowing-fingerprint containment: pairs sharing >= min_shared
    selected hashes (catches partial-copy / quote-level duplication that
    whole-document sketches miss).

    ``index_out``: optional parquet path receiving the exploded
    (id, hash) inverted index, so an external engine can recompute the
    overlap join + threshold on the same fingerprints."""
    from .staging import stage_parquet

    from .linkage import _fan_out_small_input

    fpu = make_fingerprint_udf(ngram=ngram, window=window)
    src = _fan_out_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "id",
    )
    fps = src.select("id", fpu(F.col("_t")).alias("fp"))
    inv = fps.select("id", F.explode("fp").alias("h"))
    # always staged: the inverted index feeds the df-cap agg + both join
    # sides (the fingerprint UDF would otherwise run 3x), and the staged
    # path doubles as the audit handoff
    inv = stage_parquet(inv, index_out, "fp_index")
    sizes = inv.groupBy("h").agg(F.count("*").alias("df_"))
    inv2 = inv.join(sizes, "h").where(F.col("df_") <= 64)  # stop-hash cap
    a, b = inv2.alias("a"), inv2.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_hashes"))
        .where(F.col("shared_hashes") >= min_shared)
    )


# -------------------------------------------------------- embedding cosine


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    candidates_out: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: random-hyperplane LSH buckets ->
    exact cosine verify inside buckets. Cosine is computed JVM-side with
    F.aggregate/zip_with (no Python).

    ``candidates_out``: optional parquet path receiving the bucket-join
    candidate pairs BEFORE the cosine verify (external verify handoff)."""
    from .similarity import cosine_expr, hyperplane_bucket

    from .staging import stage_parquet

    # the bucket table is staged WITHOUT the vectors (narrow self-join:
    # id + bucket only — the verify re-joins vectors from the source
    # table), and the staging makes the bucketing UDF run exactly once
    # with nothing left persisted
    bkt = stage_parquet(
        hyperplane_bucket(emb, vec_col, n_planes=n_planes, seed=seed).select(
            F.col(id_col).alias("id"), F.col("bucket")
        ),
        None,
        "emb_buckets",
    )
    a, b = bkt.alias("a"), bkt.alias("b")
    cand = (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = stage_parquet(cand, candidates_out, "emb_cand")
    vecs = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    return (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            cosine_expr(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ------------------------------------------------------------ canonical URL


def canonical_url_groups(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Stage-0 web dedup: group pages by canonical URL (scheme/www/
    tracking-param/fragment-insensitive — functions/text.py::
    normalize_url). Returns (canon_url, n_docs, first_doc). Shuffles
    only (canon_url, id) — the page payload never moves, and the
    aggregate is partial-combined, so the stage is scan-bound at 100 TB.
    Runs BEFORE any text or sketch stage in the ER pipeline, the web
    analog of the reference's exact-match prefilter
    (src/search.rs:129-140)."""
    from ..functions.text import normalize_url

    return (
        df.select(
            normalize_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _word_ngram_expr(toks_col: str, n: int):
    """Word n-grams from token-array column ``toks_col``, space-joined;
    empty array for docs shorter than ``n`` tokens (sequence(1, k) is
    invalid for k < 1, so the size gate is required — same shape as
    textstats.dup_ngram_stats)."""
    return F.when(
        F.size(toks_col) < n, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(1, greatest(size({toks_col}) - {n} + 1,"
            f" 1)), i -> concat_ws(' ', slice({toks_col}, i, {n})))"
        )
    )


def eval_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram with a held-out evaluation set (the GPT-3 appendix-C
    / Llama "13-gram overlap" rule, re-expressed relationally).

    ``eval_docs`` is the eval corpus (same ``text_col``); its distinct
    n-gram set is built once and BROADCAST — eval sets are tiny
    (thousands of documents) next to a 10^12-doc training corpus, so the
    corpus-side plan is one scan + one map-side hash-semi-join keyed on
    the gram string: no corpus shuffle at all. Output per training doc:
    ``n_eval_hits`` (distinct n-grams also in the eval set, exact) and
    ``contaminated``. Docs shorter than ``n`` tokens keep a row with a
    zero count.
    """
    from ..functions.text import tokens

    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    eval_grams = (
        eval_docs.select(tokens(F.col(text_col)).alias("toks"))
        .select(F.explode(_word_ngram_expr("toks", n)).alias("ng"))
        .distinct()
    )
    dng = base.select(
        "doc_id", F.explode(_word_ngram_expr("toks", n)).alias("ng")
    ).dropDuplicates(["doc_id", "ng"])
    hits = (
        dng.join(F.broadcast(eval_grams), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_hits"))
    )
    out = base.select("doc_id").join(hits, "doc_id", "left")
    n_hits = F.coalesce(F.col("n_eval_hits"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        n_hits.alias("n_eval_hits"),
        (n_hits > 0).alias("contaminated"),
    )


def duplicate_paragraph_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Paragraph-level exact cross-document dedup signals (the CCNet /
    Dolma paragraph-hash pass): split on blank lines, hash each trimmed
    paragraph, count paragraphs whose hash occurs in >= ``min_docs``
    DISTINCT documents, and report the character fraction they cover.

    Shuffle footprint: (doc_id, 64-bit hash, length) rows plus a
    hash-keyed doc-frequency aggregate — the paragraph text itself never
    moves (only xxhash64 digests do), so at 100 TB the shuffled bytes
    are ~1% of the corpus. Repeated paragraphs WITHIN one document count
    once toward doc-frequency (dropDuplicates on (doc, hash) before the
    frequency agg) but each occurrence counts in the per-doc totals.
    Output: ``n_paras``, ``n_dup_paras``, ``dup_char_frac`` (rounded,
    0.0 for documents with no paragraphs).
    """
    paras = F.filter(
        F.transform(
            F.split(F.col(text_col), r"\n{2,}"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    base = docs.select(F.col(id_col).alias("doc_id"), paras.alias("paras"))
    pp = base.select(
        "doc_id", F.explode("paras").alias("para")
    ).select(
        "doc_id",
        F.xxhash64("para").alias("ph"),
        F.length("para").alias("plen"),
    )
    freq = pp.dropDuplicates(["doc_id", "ph"]).groupBy("ph").agg(
        F.count("*").alias("df")
    )
    per_doc = (
        pp.join(freq, "ph")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_paras"),
            F.sum("plen").alias("total_chars"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.col("plen")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_chars"),
        )
    )
    out = base.select("doc_id").join(per_doc, "doc_id", "left")
    total = F.coalesce(F.col("n_paras"), F.lit(0)).cast("long")
    dup = F.coalesce(F.col("n_dup_paras"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        total.alias("n_paras"),
        dup.alias("n_dup_paras"),
        F.round(
            F.when(
                F.coalesce(F.col("total_chars"), F.lit(0)) > 0,
                F.col("dup_chars") / F.col("total_chars"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_char_frac"),
    )


def weighted_jaccard_pairs(
    pairs: DataFrame,
    tokens: DataFrame,
    id_col: str = "id",
    token_col: str = "token",
    scale: int = 1_000_000,
) -> DataFrame:
    """Rarity-weighted token overlap for candidate pairs — the
    exact-arithmetic cousin of TF-IDF cosine (q56): each token weighs
    ``scale // df`` (integer reciprocal document frequency, so a
    corpus-unique token weighs ``scale`` and boilerplate weighs ~0),
    and the pair score is weighted Jaccard, floor-quantized —

        wj_qmicros = (1_000_000 * W(A ∩ B)) // W(A ∪ B)
        where W(S) = sum of scale // df(t) over t in S

    Integer weights end-to-end: unlike log-idf variants there is no
    libm call anywhere, so a SQL oracle reproduces the score exactly.
    The union weight is computed as W(A) + W(B) - W(A ∩ B) — per-doc
    totals from one groupBy, intersection from one equi-join on
    (pair, token) — no full-outer join, no per-pair token material
    beyond the shared tokens.

    pairs: (id_a, id_b); tokens: (id, token), duplicates dropped.
    Returns pairs + ``wj_qmicros`` (long; 0 for disjoint or empty
    sides). Pairs whose ids have no tokens at all score 0.

    Scale notes (100 TB audit): the df table is vocabulary-sized and
    joined on token (broadcast when small); per-doc weight totals are
    one map-side-combining groupBy; the intersection join ships only
    tokens of docs that appear in pairs (semi-join pushdown via the
    pair join itself), keyed on (id_b, token) — skew follows shared-
    token counts of CANDIDATE pairs, which blocking already bounded.
    """
    tok = tokens.select(
        F.col(id_col).alias("_id"), F.col(token_col).alias("_tok")
    ).dropDuplicates(["_id", "_tok"])
    dfreq = tok.groupBy("_tok").agg(F.count("*").alias("_df"))
    tw = tok.join(dfreq, "_tok").withColumn(
        "_w", F.expr(f"{scale} div _df")
    )
    docw = tw.groupBy("_id").agg(F.sum("_w").alias("_tw"))

    ta = tw.select(
        F.col("_id").alias("id_a"), "_tok", F.col("_w").alias("_wa")
    )
    tb = tw.select(F.col("_id").alias("id_b"), "_tok")
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "_tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("_wa").alias("_iw"))
    )
    z = F.lit(0).cast("long")
    out = (
        pairs.join(
            docw.select(F.col("_id").alias("id_a"), F.col("_tw").alias("_twa")),
            "id_a",
            "left",
        )
        .join(
            docw.select(F.col("_id").alias("id_b"), F.col("_tw").alias("_twb")),
            "id_b",
            "left",
        )
        .join(inter, ["id_a", "id_b"], "left")
        .withColumn("_iw", F.coalesce("_iw", z))
        .withColumn(
            "_uw",
            F.coalesce("_twa", z) + F.coalesce("_twb", z) - F.col("_iw"),
        )
    )
    return out.withColumn(
        "wj_qmicros",
        F.when(
            F.col("_uw") > 0, F.expr("(1000000 * _iw) div _uw")
        ).otherwise(z),
    ).drop("_twa", "_twb", "_iw", "_uw")


def repeated_substring_spans(
    docs: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "text",
) -> DataFrame:
    """Cross-document repeated-substring detection — the span-level
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (ACL 2022): find, per document, every maximal span
    whose ``min_len``-char windows ALL occur in at least one other
    document. Exact-duplicate and near-duplicate dedup both miss the
    boilerplate case (one license header / nav bar pasted into
    millions of otherwise-distinct pages); span-level dedup is the
    operator that catches it, and the paper's suffix-array formulation
    re-expressed relationally:

    * every ``min_len``-char window of every document (stride 1) is a
      shingle row (doc, pos, window);
    * windows seen in >= 2 distinct documents are "covered";
    * per document, runs of CONSECUTIVE covered positions merge into
      maximal spans (gaps-and-islands), reported as
      (doc, span_start, span_end, span_len, n_windows) with 1-based
      inclusive char offsets — a span of k consecutive covered windows
      covers ``k + min_len - 1`` chars.

    ``key='text'`` groups windows on the literal string — exact, what
    the DuckDB oracle replays. ``key='hash'`` groups on
    ``xxhash64(window)`` instead: the 100 TB path (the shuffle carries
    8-byte keys, not min_len-char strings) at a ~n^2/2^64 collision
    false-positive risk, the standard large-scale trade.

    Scale notes (100 TB audit): the window explode is pure Catalyst
    (sequence + substring — no UDF) and multiplies rows by ~doc_len,
    the inherent cost of stride-1 shingling (the suffix array pays the
    same L factor in memory); the covered-window set comes from one
    combining groupBy on the window key + one equi-join back; the
    island merge windows per DOC (bounded by document length, never by
    corpus size). Cap text length upstream for pathological documents.
    """
    L = int(min_len)
    t = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    wins = t.select(
        "_id",
        F.explode(
            F.expr(
                f"CASE WHEN length(_t) >= {L} THEN"
                f" sequence(1, length(_t) - {L} + 1)"
                " ELSE array() END"
            )
        ).alias("pos"),
        F.col("_t"),
    ).select(
        "_id", "pos", F.expr(f"substring(_t, pos, {L})").alias("_w")
    )
    if key == "hash":
        wins = wins.withColumn("_w", F.xxhash64("_w"))
    covered_keys = (
        wins.groupBy("_w")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("_w")
    )
    cov = wins.join(covered_keys, "_w").select("_id", "pos")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = cov.withColumn(
        "_isl", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy("_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .withColumn(
            "span_len",
            (F.col("span_end") - F.col("span_start") + 1).cast("long"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            "span_len",
            "n_windows",
        )
    )
