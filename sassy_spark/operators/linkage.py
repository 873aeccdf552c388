"""Record-linkage pipeline: blocking -> candidate pairs -> pairwise scoring.

This re-bases the reference engine's two-stage shape — cheap hierarchical
prefilter gating an expensive exact verify (sassy's hierarchical_search,
reference src/pattern_tiling/general.rs:60-102) — onto Spark:

  stage 1 (blocking)    = candidate *generation*: URL-host keys + char
                          n-gram MinHash-LSH band keys. Hot keys (the
                          skew problem: one host with 10^6 pages would
                          imply 10^12 pairs) are capped with explicit
                          accounting, the analog of sassy's batch-size
                          bounds (bin/input_iterator.rs:7-9).
  stage 2 (scoring)     = candidate *verification*: banded Myers global
                          edit distance in an Arrow-batched UDF (a
                          compiled per-pair loop; numpy as fallback),
                          with the cheap length-difference prefilter
                          |len_a - len_b| <= k pushed BEFORE the text
                          join/UDF (the relational analog of sassy's
                          early row termination, src/search.rs:1131-1162).

Every shuffle is on an equi-join key. The one hand-placed broadcast is
score_pairs' text attach, taken only when :func:`broadcast_fits` says
Catalyst's own size estimate fits the session threshold. AQE handles
skew splits; we handle the quadratic self-join skew at the algorithmic
level (caps/refinement), which AQE cannot.
"""

from __future__ import annotations

import functools
import logging
import os
from typing import Callable

import numpy as np
from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize, url_host
from ..kernel import myers
from .staging import content_state, read_snapshot, write_snapshot


def input_file_count(df: DataFrame) -> int:
    """Number of files behind ``df``, read from plan metadata
    (inputFiles) — NEVER df.rdd.getNumPartitions(), which converts and
    executes the plan. 0 for frames no file backs (generators, local
    data, streams); a plan Spark cannot list also counts as 0, with a
    warning."""
    if df.isStreaming:  # Spark refuses inputFiles on a stream
        return 0
    try:
        return len(df.inputFiles())
    except (Py4JError, CapturedException) as e:
        logging.getLogger(__name__).warning(
            "no input file list, treating the frame as not file-backed: %s", e
        )
        return 0


def _fan_out_small_input(df: DataFrame, key: str) -> DataFrame:
    """Few-file inputs arrive as few partitions and would run Python
    stages on a handful of cores. Non-file-backed frames (generators,
    joins) keep their existing partitioning."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n_files = input_file_count(df)
    if 0 < n_files < par:
        return df.repartition(par, key)
    return df


def broadcast_fits(df: DataFrame, factor: float = 1) -> bool:
    """True when ``factor`` times Catalyst's size estimate of ``df`` fits
    the session's broadcast threshold (the value Spark parsed, so "64MB"
    and "1KB" mean what they say; -1 disables). ``factor`` scales a
    scan-sized estimate up to the table actually built from it. An
    estimate Spark cannot give counts as too big."""
    thr = (
        df.sparkSession._jsparkSession.sessionState()
        .conf().autoBroadcastJoinThreshold()
    )
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Py4JError as e:
        logging.getLogger(__name__).warning(
            "no size estimate for the broadcast gate, not broadcasting: %s", e
        )
        return False
    return 0 < est * factor <= thr


def block_pairs(
    blocks: DataFrame,
    members: str,
    key: Callable[[Column], Column] = lambda m: m,
    keep: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Every i<j pair of the ``members`` array of each row of ``blocks``,
    expanded JVM-side in the array (no self-join), as columns ``a`` and
    ``b`` ordered so that ``key(a) < key(b)``. Two elements with the same
    key never pair: duplicate ids in one block would otherwise yield
    self-pairs. ``keep(x, y)``, when given, filters candidates inside the
    array, before any pair row exists. Pairs are not deduplicated across
    blocks; over-cap policy is the caller's."""

    def pairs_of(x, i):
        tail = F.slice(
            F.col(members), i + F.lit(2), F.size(F.col(members)) - i - F.lit(1)
        )
        if keep is not None:
            tail = F.filter(tail, lambda y: keep(x, y))
        return F.transform(
            tail,
            lambda y: F.struct(
                F.when(key(x) < key(y), x).otherwise(y).alias("a"),
                F.when(key(x) < key(y), y).otherwise(x).alias("b"),
            ),
        )

    pairs_arr = F.flatten(F.transform(F.col(members), pairs_of))
    return (
        blocks.where(F.size(members) >= 2)
        .select(F.explode(pairs_arr).alias("_p"))
        .where(key(F.col("_p.a")) < key(F.col("_p.b")))
        .select("_p.a", "_p.b")
    )


# --------------------------------------------------------------- stage 1


def host_block_keys(
    pages: DataFrame, url: str = "url", len_of: str | None = None
) -> DataFrame:
    """(url, block_key) from the URL host — the cheap structural block,
    keyed as ``xxhash64("host", host)`` so it shares the bigint type of
    the band keys.

    ``len_of``: name of a text column whose length should ride along as
    ``_l`` for candidate_pairs' length prefilter (computed in the same
    scan that reads the url anyway)."""
    cols = [
        F.col(url).alias("url"),
        F.xxhash64(F.lit("host"), url_host(F.col(url))).alias("block_key"),
    ]
    if len_of is not None:
        cols.append(F.length(F.col(len_of)).cast("long").alias("_l"))
    return pages.select(*cols)


def minhash_band_keys(
    pages: DataFrame,
    text_col: str = "text",
    url: str = "url",
    n_hashes: int = 128,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    with_len: bool = False,
) -> DataFrame:
    """(url, block_key) LSH band keys: :func:`dedup.band_keys` of the
    :func:`dedup.minhash_sketch` signature, one bigint key per band.
    Deterministic across runs (seeded) so checkpoints are resumable.

    ``with_len=True`` adds a ``_l`` column (codepoint length of the RAW
    text, computed JVM-side and passed through the sketch UDF) so
    candidate_pairs can push the |len_a-len_b| prefilter without a
    separate length join."""
    from .dedup import band_keys, minhash_sketch

    cols = [F.col(url).alias("url"), normalize(F.col(text_col)).alias("_norm")]
    if with_len:
        cols.append(F.length(F.col(text_col)).cast("long").alias("_l"))
    src = _fan_out_small_input(pages.select(*cols), "url")
    sigs = minhash_sketch(src, n_hashes=n_hashes, ngram=ngram, seed=seed)
    return sigs.select(
        "url",
        F.explode(band_keys("sig", n_hashes, bands)).alias("block_key"),
        *(["_l"] if with_len else []),
    )


def blocking_keys(
    pages: DataFrame,
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    with_len: bool = False,
) -> DataFrame:
    """(url, block_key bigint[, _l]): every page's host key and its
    ``bands`` minhash band keys."""
    return host_block_keys(
        pages, len_of=text_col if with_len else None
    ).unionByName(
        minhash_band_keys(
            pages,
            text_col,
            n_hashes=n_hashes,
            bands=bands,
            ngram=ngram,
            seed=seed,
            with_len=with_len,
        )
    )


# --------------------------------------------------------------- stage 1.5


def candidate_pairs(
    keys: DataFrame,
    max_block_size: int = 256,
    k: int | None = None,
    k_frac: float | None = None,
    out_partitions: int | None = None,
) -> DataFrame:
    """Canonical (url_a < url_b) pairs within block keys.

    Skew strategy (explicit, per north rule):
      * block keys with more than ``max_block_size`` members are *refined*,
        not joined: members are salted into ceil(bs/max_block_size)^2
        deterministic sub-blocks, capping any single block's pair yield at
        ~max_block_size^2 regardless of its size — a zipf-hot host with
        10^6 pages contributes 65k pairs, not 10^12 (recall loss is
        confined to hot boilerplate blocks and is recovered by the other
        ~bands+1 keys every page carries).
      * singleton blocks are dropped before pairing (no pairs possible).
      * the pair set is deduped across keys (a pair found under 5 band
        keys is scored once).

    Pairs come from ONE shuffle of the key table —
    ``groupBy(block_key).collect_list(struct(url, _l))`` + the JVM
    in-array expansion of :func:`block_pairs`. Over-cap salting also
    happens in-array: a big block's members split into ceil(bs/cap)^2
    sub-arrays by the deterministic xxhash64(url) salt and each sub-array
    expands on its own, so the grouped table has one consumer and the
    sketch UDF upstream runs once per job. Trade-off: an over-cap block
    materializes its member array once before refinement (a 10^6-member
    host block is ~100 MB in one reducer row — acceptable transiently).

    When ``keys`` carries ``_l`` (``blocking_keys(with_len=True)``) and
    k/k_frac is given, the |len_a - len_b| <= k prefilter runs INSIDE the
    expansion, before the dedup shuffle (at 200k pages this cuts the
    deduped pair set 6x, 3.1M -> ~0.5M), and len_a/len_b ride along in
    the output so score_pairs skips its length joins.

    ``out_partitions``: hash-repartition the PRE-dedup pair stream to
    exactly this many partitions on (url_a, url_b) and run the dedup
    aggregation in place (its required distribution is then already
    satisfied, so no second exchange) — the output arrives partitioned
    for a downstream scorer that asks for the same count, letting it
    skip its own fan-out exchange entirely (``link`` wires this to
    score_pairs' 1-task/core kernel fan-out: one exchange of the pair
    stream instead of dedup-exchange + repartition-exchange).
    """
    has_len = "_l" in keys.columns
    member = F.struct("url", *(["_l"] if has_len else []))
    grouped = keys.groupBy("block_key").agg(
        F.collect_list(member).alias("ms")
    ).where(F.size("ms") >= 2)
    # over-cap refinement IN-ARRAY: pairs agree on the salt
    # xxhash64(url) mod ceil(bs/cap)^2 iff they share a salted sub-block.
    # A bs-member over-cap block pays bs * ns interpreted membership
    # evals (bounded, hot blocks only).
    n_salt = F.ceil(F.size("ms") / F.lit(max_block_size))
    n_salt = (n_salt * n_salt).cast("long")
    sub_arrays = F.when(
        F.size("ms") <= max_block_size, F.array(F.col("ms"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_salt - F.lit(1)),
            lambda s: F.filter(
                F.col("ms"),
                lambda m: F.pmod(F.xxhash64(m["url"]), n_salt) == s,
            ),
        )
    )

    keep = None
    if has_len and (k is not None or k_frac is not None):
        # a discarded pair costs one predicate eval instead of a struct
        # allocation + an exploded row + a row filter (measured 49% of
        # pre-dedup pairs discarded at 12k pages)
        def keep(x, y):
            la, lb = x["_l"], y["_l"]
            if k_frac is not None:
                bound = F.ceil(F.greatest(la, lb) * F.lit(k_frac))
            else:
                bound = F.lit(int(k))
            return F.abs(la - lb) <= bound

    pairs = block_pairs(
        grouped.select(F.explode(sub_arrays).alias("ms")),
        "ms",
        key=lambda m: m["url"],
        keep=keep,
    )
    cols = [F.col("a")["url"].alias("url_a"), F.col("b")["url"].alias("url_b")]
    if has_len:
        cols += [
            F.col("a")["_l"].cast("int").alias("len_a"),
            F.col("b")["_l"].cast("int").alias("len_b"),
        ]
    pairs = pairs.select(*cols)
    if out_partitions:
        # one exchange serves both the dedup and the downstream scorer's
        # fan-out (REPARTITION_BY_NUM is exempt from AQE coalescing; the
        # dedup agg's ClusteredDistribution on the same keys is
        # satisfied, so it adds no exchange of its own)
        pairs = pairs.repartition(
            out_partitions, F.col("url_a"), F.col("url_b")
        )
    return pairs.dropDuplicates(["url_a", "url_b"])


# --------------------------------------------------------------- stage 2


def score_pairs(
    pairs: DataFrame,
    pages: DataFrame,
    k: int | None = 8,
    k_frac: float | None = None,
    text_col: str = "text",
    url: str = "url",
    score_partitions: int | None = None,
    score_mode: str = "global",
    alpha: float | None = None,
    max_overhang: int | None = None,
) -> DataFrame:
    """Attach texts and score each candidate pair with the Myers kernel.

    Output: url_a, url_b, len_a, len_b, k_eff, cost, normalized_cost,
    is_match. ``k_frac`` resolves k per pair as ceil(k_frac * max_len)
    (the reference's fractional-k eval mode,
    evals/src/sassy2/text_scaling.rs:9-13).

    score_mode:
      'global'      — full-document Levenshtein (near-duplicate pages);
      'containment' — best semi-global cost of the shorter text inside the
        longer (free longer-text prefix/suffix): catches partial copies /
        quoted inclusions that global distance misses — the pair-scoring
        form of the reference's free-end-gap semantics (search K5 best +
        overhang K12). k_frac then resolves against the SHORTER length,
        and no length-difference prefilter applies. ``alpha`` /
        ``max_overhang`` additionally let the SHORTER text hang over the
        longer's ends at cost floor(alpha * overhang) (reference
        src/search.rs:1694-1748) — substring-overlap tolerance at the
        pair level.

    For 'global' the length-difference prefilter runs BEFORE the expensive
    UDF — Catalyst evaluates it as a plain WHERE on already-joined ints.
    """
    # two-phase join: the narrow length table joins first and the
    # |len_a - len_b| <= k prefilter runs on it, so the wide text payload
    # is only shuffled for surviving pairs (at web scale the raw candidate
    # set is ~10x the survivor set — this is the difference between
    # shuffling 10x the corpus and 1x)
    texts = pages.select(F.col(url), F.col(text_col).alias("_t"))
    if "len_a" in pairs.columns and "len_b" in pairs.columns:
        df = pairs  # lengths already rode along from candidate generation
    else:
        lens = pages.select(F.col(url), F.length(text_col).alias("_l"))
        df = (
            pairs.join(
                lens.select(
                    F.col(url).alias("url_a"), F.col("_l").alias("len_a")
                ),
                "url_a",
            )
            .join(
                lens.select(
                    F.col(url).alias("url_b"), F.col("_l").alias("len_b")
                ),
                "url_b",
            )
        )
    len_base = (
        F.least("len_a", "len_b")
        if score_mode == "containment"
        else F.greatest("len_a", "len_b")
    )
    if k_frac is not None:
        k_eff = F.ceil(len_base * F.lit(k_frac)).cast("int")
    else:
        k_eff = F.lit(int(k)).cast("int")
    df = df.withColumn("k_eff", k_eff)
    if score_mode != "containment":
        df = df.where(F.abs(F.col("len_a") - F.col("len_b")) <= F.col("k_eff"))
    if score_partitions is None:
        # AQE coalesces toward advisory-size partitions — a handful of
        # tasks at small corpus sizes — which starves the CPU-bound kernel
        # stage (measured: 6 of 32 workers busy). Fan out to exactly 1
        # task/core: 2/core measured 1.6x SLOWER here (each extra task
        # wave re-pays Python worker handoff + Arrow buffers, and this
        # box serializes those allocations); at real cluster scale the
        # per-partition row count, not the wave count, evens stragglers.
        score_partitions = df.sparkSession.sparkContext.defaultParallelism
    if score_partitions:
        # fan out BEFORE the text joins, while rows are still narrow
        # (urls + ints): when the text side broadcasts (<= the 64 MB
        # threshold), hash partitioning survives both joins and the wide
        # text payload is never shuffled at all (was: repartition AFTER
        # the joins — an exchange of every attached text, the single
        # largest non-kernel cost of the scoring stage). When the corpus
        # is too big to broadcast, the sort-merge joins re-exchange by
        # url and the kernel inherits the join output's AQE-sized
        # partitioning — task count then follows data volume, which is
        # the right behavior at that scale; the narrow pre-exchange it
        # wastes is rows of ~100 bytes.
        # hash repartition, never round-robin: round-robin repartition
        # locally sorts every column for determinism — on 2 KB text
        # payloads that costs 7x the scoring itself (measured)
        df = df.repartition(score_partitions, F.col("url_a"), F.col("url_b"))
    # score_partitions == 0: inherit upstream partitioning (no exchange)
    # Broadcast the TEXTS side explicitly when Catalyst's own size
    # estimate fits the session threshold: left to itself the planner
    # broadcasts whichever side is SMALLER — usually the narrow pairs —
    # which throws away the pre-partitioning above and leaves the kernel
    # on the text side's layout. The hint is applied only under the same
    # size bound the planner uses, so the at-scale behavior (sort-merge
    # when texts don't fit) is unchanged.
    # (Round 6 measured-and-rejected: replacing these two broadcast
    # joins with a driver-built Python broadcast dict of pre-encoded
    # texts — 10 interleaved A/B reps at 12k pages showed median paired
    # delta ~+0.4 s AGAINST the dict: the join attach is already
    # shuffle-free, and the dict path re-pays the corpus as a driver
    # collect + 24 MB pickle broadcast per job.)
    maybe_bcast = F.broadcast if broadcast_fits(texts) else (lambda x: x)
    df = df.join(
        maybe_bcast(
            texts.select(F.col(url).alias("url_a"), F.col("_t").alias("text_a"))
        ),
        "url_a",
    ).join(
        maybe_bcast(
            texts.select(F.col(url).alias("url_b"), F.col("_t").alias("text_b"))
        ),
        "url_b",
    )

    out_schema = (
        "url_a string, url_b string, len_a int, len_b int, k_eff int, "
        "cost int, normalized_cost double, is_match boolean"
    )
    return df.mapInArrow(
        functools.partial(
            _score_batches, score_mode=score_mode, alpha=alpha,
            max_overhang=max_overhang, chunk_rows=_CHUNK_ROWS,
        ),
        schema=out_schema,
    )


# ~512 pairs per numpy kernel call: the Peq gather tables of a larger
# batch fall out of cache and the numpy kernel goes memory-bound
# (measured 2x slowdown at 4096) — the numpy analog of sassy's 1 MiB
# task-batch bound (bin/input_iterator.rs:7-9). The compiled global
# kernel runs pair by pair on a whole ASCII Arrow batch and takes no
# chunks.
_CHUNK_ROWS = 512


def _utf8_buffer(arr) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 data, offsets) views of an Arrow string array's own
    buffers; a null reads as the empty string."""
    import pyarrow as pa

    if arr.null_count:
        arr = arr.fill_null("")
    bufs = arr.buffers()
    odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] else np.zeros(0, np.uint8)
    return data, offs


def _score_batches(batches, score_mode, alpha, max_overhang, chunk_rows):
    """score_pairs' mapInArrow body: cost, normalized_cost and is_match
    for each Arrow batch of pairs with their texts attached."""
    # Arrow-native scoring: texts reach the kernel as the Arrow string
    # buffers themselves, or for ASCII rows as numpy uint8 views over
    # them — no pandas object columns, no per-pair copies. That object
    # churn (2 PyUnicode + 1 bytes temp per pair, each ~2-4 KB) was
    # measured to triple the per-worker cost at 32 concurrent workers
    # (allocator/bandwidth contention) while being invisible at 8.
    # Non-ASCII rows are decoded to str, keeping codepoint cost units.
    import pyarrow as pa

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        len_a = batch.column("len_a").to_numpy()
        len_b = batch.column("len_b").to_numpy()
        k_eff_arr = batch.column("k_eff").to_numpy().astype(np.int64)
        buf_a = _utf8_buffer(batch.column("text_a"))
        buf_b = _utf8_buffer(batch.column("text_b"))
        if score_mode != "containment":
            cost = myers.banded_edit_distances_utf8(
                *buf_a, *buf_b, k_eff_arr, chunk_rows=chunk_rows
            )
        else:
            texts_a = myers.utf8_rows(*buf_a)
            texts_b = myers.utf8_rows(*buf_b)
            # sort by text length: kernel chunks become length-homogeneous
            # -> less padding waste (the reference's length-sorting
            # advice, src/search.rs:326-334); costs scatter back to input
            # order so the url columns pass through untouched (zero copy)
            order = np.argsort(len_b, kind="stable")
            cost = np.empty(n, dtype=np.int64)
            for lo in range(0, n, chunk_rows):
                sel = order[lo : lo + chunk_rows]
                k_sel = k_eff_arr[sel]
                shorter = [
                    texts_a[i] if len_a[i] <= len_b[i] else texts_b[i]
                    for i in sel
                ]
                longer = [
                    texts_b[i] if len_a[i] <= len_b[i] else texts_a[i]
                    for i in sel
                ]
                res = myers.semiglobal_search(
                    shorter, longer, int(k_sel.max()),
                    mode="best", alpha=alpha, max_overhang=max_overhang,
                )
                cost[sel] = [
                    int(c[0]) if len(c) else int(kk) + 1
                    for (_, c), kk in zip(res, k_sel)
                ]
        denom = (
            np.minimum(len_a, len_b)
            if score_mode == "containment"
            else np.maximum(len_a, len_b)
        ).clip(min=1)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url_a"),
                batch.column("url_b"),
                pa.array(len_a.astype(np.int32)),
                pa.array(len_b.astype(np.int32)),
                pa.array(k_eff_arr.astype(np.int32)),
                pa.array(cost.astype(np.int32)),
                pa.array(cost / denom),
                pa.array(cost <= k_eff_arr),
            ],
            names=[
                "url_a", "url_b", "len_a", "len_b", "k_eff",
                "cost", "normalized_cost", "is_match",
            ],
        )


# --------------------------------------------------------------- pipeline


def link(
    pages: DataFrame,
    k: int | None = 8,
    k_frac: float | None = None,
    text_col: str = "text",
    max_block_size: int = 256,
    bands: int = 16,
    n_hashes: int = 128,
    ngram: int = 5,
    seed: int = 42,
    score_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end: pages -> scored candidate pairs (matches + non-matches;
    filter on is_match for the edge list feeding connected components).

    With ``checkpoint_dir``, the block keys, candidate pairs and scored
    pairs are each a checkpoint snapshot ``<checkpoint_dir>/stage=<name>``
    (``staging.write_snapshot``), fingerprinted by the input's content
    (rows + hash of url and text, one scan) and the parameters: a rerun
    on the same content, in this process or another, resumes from the
    latest valid stage, and a rewritten input rebuilds. A stage is only
    built when its snapshot does not resume, so a resumed later stage
    never touches the earlier ones.
    """
    spark = pages.sparkSession
    fingerprint = None
    if checkpoint_dir is not None:
        n, h = content_state(pages.select("url", text_col))
        fingerprint = {
            "input_rows": n,
            "input_hash": h,
            "params": {
                "k": k,
                "k_frac": k_frac,
                "text_col": text_col,
                "max_block_size": max_block_size,
                "bands": bands,
                "n_hashes": n_hashes,
                "ngram": ngram,
                "seed": seed,
            },
        }

    def staged(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if checkpoint_dir is None:
            return build()
        path = os.path.join(checkpoint_dir, f"stage={name}")
        snap = read_snapshot(spark, path, fingerprint)
        return (snap or write_snapshot(build(), path, fingerprint))[0]

    # On the no-checkpoint path, fuse the dedup exchange with the
    # scorer's fan-out: the pair stream is hash-repartitioned ONCE to
    # the kernel's task count, deduped in place, and score_pairs
    # inherits that partitioning (score_partitions=0) — one exchange of
    # the pair stream instead of dedup-exchange + fan-out-exchange.
    # A checkpointed run reads pairs back from parquet (partitioning
    # lost), so it keeps the explicit scorer-side repartition.
    # Without a checkpoint nothing is staged: the keys feed one groupBy
    # (over-cap refinement is in-array) and the pairs one scoring job,
    # so a scratch stage would only add a write+read (round 6, 5
    # interleaved reps at 12k pages: staged keys median 8.31s, unstaged
    # 7.56s).
    fuse_fanout = checkpoint_dir is None and score_partitions != 0
    eff_parts = score_partitions or spark.sparkContext.defaultParallelism

    def keys() -> DataFrame:
        # lengths ride along on the key table (with_len=True), so
        # candidate_pairs bounds pair lengths in-array
        return staged(
            "block_keys",
            lambda: blocking_keys(
                pages,
                text_col,
                n_hashes=n_hashes,
                bands=bands,
                ngram=ngram,
                seed=seed,
                with_len=True,
            ),
        )

    def pairs() -> DataFrame:
        return staged(
            "candidate_pairs",
            lambda: candidate_pairs(
                keys(),
                max_block_size=max_block_size,
                k=k,
                k_frac=k_frac,
                out_partitions=eff_parts if fuse_fanout else None,
            ),
        )

    return staged(
        "scored",
        lambda: score_pairs(
            pairs(),
            pages,
            k=k,
            k_frac=k_frac,
            text_col=text_col,
            score_partitions=0 if fuse_fanout else score_partitions,
        ),
    )


def reciprocal_best_pairs(
    scored: DataFrame,
    a_col: str = "url_a",
    b_col: str = "url_b",
    score_col: str = "score",
) -> DataFrame:
    """One-to-one linkage by mutual best match (reciprocal argmax).

    After pairwise scoring, many ER deployments need an ASSIGNMENT,
    not a many-to-many match set: each record links to at most one
    counterpart. The standard cheap approximation to the optimal
    bipartite assignment is the reciprocal-best filter (the "mutual
    best hit" rule): keep (a, b) iff b is a's highest-scoring
    candidate AND a is b's. Ties break deterministically toward the
    smaller counterpart id, so the result is unique and
    oracle-reproducible. Guarantees one-to-one output (each a and
    each b appears at most once) while keeping only high-confidence
    links — pairs whose best matches disagree are left for clerical
    review rather than force-assigned.

    scored: (a, b, score) with a NUMERIC score (quantize floats to
    micros upstream — near-ties must rank identically in any engine).
    Returns the mutual pairs with their score.

    Scale notes (100 TB audit): two map-side-combining min(struct)
    aggregations (one per side — ``min(struct(-score, partner))``
    encodes [max score, then min partner id] lexicographically, and
    works for string partner ids where a negate trick would not),
    then two broadcast-or-shuffle equi-joins back; no windows, so a
    hot record with millions of candidates is one combining group.
    """
    s = scored.select(
        F.col(a_col).alias("_a"),
        F.col(b_col).alias("_b"),
        F.col(score_col).cast("long").alias("_sc"),
    )
    best_a = s.groupBy("_a").agg(
        F.min(F.struct((-F.col("_sc")).alias("_neg"), F.col("_b"))).alias(
            "_m"
        )
    ).select(
        "_a", F.col("_m._b").alias("_best_b")
    )
    best_b = s.groupBy("_b").agg(
        F.min(F.struct((-F.col("_sc")).alias("_neg"), F.col("_a"))).alias(
            "_m"
        )
    ).select(
        "_b", F.col("_m._a").alias("_best_a")
    )
    return (
        s.join(best_a, "_a")
        .where(F.col("_b") == F.col("_best_b"))
        .join(best_b, "_b")
        .where(F.col("_a") == F.col("_best_a"))
        .select(
            F.col("_a").alias(a_col),
            F.col("_b").alias(b_col),
            F.col("_sc").alias(score_col),
        )
    )


def group_linkage(
    members: DataFrame,
    group_col: str = "group",
    key_col: str = "key",
    max_df: int = 64,
    min_sim_qmicros: int = 0,
) -> DataFrame:
    """Group linkage (On, Koudas, Lee & Srivastava, ICDE 2007): match
    GROUPS of records — households, author publication lists, the pages
    of one web host — by the rarity-weighted overlap of their member
    keys, not by any single record pair. The two-tier view is the
    standard fix for entities whose records are individually ambiguous
    but collectively distinctive.

    ``members``: (group, key) rows; duplicates within a group are
    collapsed (set semantics). Each distinct key gets an integer
    rarity weight ``w = 1_000_000 div df`` (df = number of groups
    containing the key), so a key shared by every group is worth ~0
    and a unique key 1e6 — the IDF idea in exact integer arithmetic so
    the DuckDB oracle reproduces every value bit-for-bit. Keys with
    ``df > max_df`` are stop keys: dropped from the similarity
    entirely (numerator AND denominator) before any join — they carry
    no discriminating power and would otherwise fan the candidate
    join out by df^2 per key.

    Group-pair similarity is the weighted Jaccard over surviving keys

        sim_q = (1_000_000 * w(A ∩ B)) div w(A ∪ B)

    emitted as ``(group_a, group_b, inter_w, union_w, sim_qmicros)``
    for pairs sharing >= 1 key and ``sim_qmicros >= min_sim_qmicros``.

    Scale notes (100 TB audit): the df table is vocabulary-sized and
    group totals are one row per group; the candidate join keys on
    member keys whose fan-out the stop-key rule bounds by ``max_df``
    groups (so <= max_df^2 pair rows per key, the same cap contract
    as cbs_pairs/suffix_pairs); everything after the join is a
    map-side-combining groupBy on narrow (group_a, group_b, w) rows.
    Pure Catalyst — no UDF, no collect.
    """
    mem = (
        members.select(
            F.col(group_col).alias("_g"), F.col(key_col).alias("_k")
        )
        .dropDuplicates(["_g", "_k"])
    )
    dfreq = mem.groupBy("_k").agg(F.count("*").alias("_df"))
    wk = (
        mem.join(dfreq.where(F.col("_df") <= max_df), "_k")
        .withColumn("_w", F.expr("1000000 div _df"))
    )
    tot = wk.groupBy("_g").agg(F.sum("_w").alias("_tw"))
    a = wk.select(F.col("_g").alias("group_a"), "_k", F.col("_w"))
    b = wk.select(F.col("_g").alias("group_b"), "_k")
    inter = (
        a.join(b, "_k")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.sum("_w").alias("inter_w"))
    )
    return (
        inter.join(
            tot.select(F.col("_g").alias("group_a"), F.col("_tw").alias("_ta")),
            "group_a",
        )
        .join(
            tot.select(F.col("_g").alias("group_b"), F.col("_tw").alias("_tb")),
            "group_b",
        )
        .withColumn("union_w", F.col("_ta") + F.col("_tb") - F.col("inter_w"))
        .withColumn(
            "sim_qmicros", F.expr("(1000000 * inter_w) div union_w")
        )
        .where(F.col("sim_qmicros") >= min_sim_qmicros)
        .select("group_a", "group_b", "inter_w", "union_w", "sim_qmicros")
    )


def collective_promote(
    scored: DataFrame,
    neighbors: DataFrame,
    hi: int,
    lo: int,
    boost: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
) -> DataFrame:
    """One bounded round of COLLECTIVE (relational) entity resolution
    (the Bhattacharya-Getoor idea, bounded to a single propagation
    step so the result is deterministic and oracle-checkable):
    attribute similarity alone leaves a borderline band, but a pair
    whose NEIGHBORS already matched carries relational evidence — two
    author records are likelier the same person if their co-authors
    resolved to the same entities; two pages likelier duplicates if
    the pages they link to did.

    Inputs: ``scored`` (id_a < id_b, integer ``score``); ``neighbors``
    (src, dst) — the relational context, treated as directed (pass
    both directions for symmetric context). Seed matches are pairs
    with ``score >= hi``; borderline pairs (``lo <= score < hi``)
    collect ``n_support`` = the number of (neighbor_of_a,
    neighbor_of_b) combinations that are themselves seed matches
    (canonicalized, so a-b and b-a neighborhoods count once), and are
    PROMOTED when ``score + boost * n_support >= hi``.

    Returns (id_a, id_b, score, n_support, tier) with tier in
    ('seed', 'promoted', 'rejected') for every scored pair in the
    [lo, inf) band.

    Scale notes (100 TB audit): the support count is two equi-joins
    (borderline pair -> a's neighbors -> b's neighbors) closed against
    the seed-match set by a third equi-join on the canonical pair key,
    then one combining groupBy — the neighbor fan-out is degree_a *
    degree_b per borderline pair, the caller bounds degrees upstream
    (same contract as transitivity_audit's max_degree); everything
    shuffles narrow integer tuples.
    """
    s = scored.select(
        F.col(id_a).alias("_a"),
        F.col(id_b).alias("_b"),
        F.col(score_col).cast("long").alias("_sc"),
    )
    seeds = s.where(F.col("_sc") >= hi)
    border = s.where((F.col("_sc") >= lo) & (F.col("_sc") < hi))
    nb = neighbors.select(
        F.col("src").alias("_n_src"), F.col("dst").alias("_n_dst")
    )
    seed_keys = seeds.select(
        F.col("_a").alias("_sa"), F.col("_b").alias("_sb")
    )
    support = (
        border.select("_a", "_b")
        .join(nb.withColumnRenamed("_n_src", "_a"), "_a")
        .withColumnRenamed("_n_dst", "_na")
        .join(
            nb.withColumnRenamed("_n_src", "_b"),
            "_b",
        )
        .withColumnRenamed("_n_dst", "_nb")
        .where(F.col("_na") != F.col("_nb"))
        .select(
            "_a",
            "_b",
            F.least("_na", "_nb").alias("_sa"),
            F.greatest("_na", "_nb").alias("_sb"),
        )
        .distinct()
        .join(seed_keys, ["_sa", "_sb"])
        .groupBy("_a", "_b")
        .agg(F.count("*").cast("long").alias("n_support"))
    )
    z = F.lit(0).cast("long")
    out_border = (
        border.join(support, ["_a", "_b"], "left")
        .select(
            "_a",
            "_b",
            "_sc",
            F.coalesce("n_support", z).alias("n_support"),
        )
        .withColumn(
            "tier",
            F.when(
                F.col("_sc") + F.lit(int(boost)) * F.col("n_support")
                >= hi,
                F.lit("promoted"),
            ).otherwise(F.lit("rejected")),
        )
    )
    out_seed = seeds.select(
        "_a", "_b", "_sc", z.alias("n_support"), F.lit("seed").alias("tier")
    )
    return out_seed.unionByName(out_border).select(
        F.col("_a").alias(id_a),
        F.col("_b").alias(id_b),
        F.col("_sc").alias(score_col),
        "n_support",
        "tier",
    )


def greedy_one_to_one(
    scored: DataFrame,
    a_col: str = "url_a",
    b_col: str = "url_b",
    score_col: str = "score",
    max_rounds: int = 64,
) -> DataFrame:
    """Greedy one-to-one matching: the full sequential greedy matching
    over ALL scored pairs, not just the mutual-best subset.

    ``reciprocal_best_pairs`` keeps only pairs that are each other's
    single best candidate — high precision, but a record whose best
    counterpart was "taken" by a better pair is left unmatched even
    when its second-best candidate is excellent. The classical fix is
    GREEDY matching: walk pairs in (score DESC, a, b) order and admit
    each pair whose endpoints are both still free — the 1/2-approx to
    the maximum-weight assignment that real MDM/ER products ship as
    their one-to-one resolver.

    The sequential walk is driver-side poison at 10^12 pairs, so this
    runs the PARALLEL equivalent: iterated LOCAL DOMINANCE (Preis
    1999; Manne & Bisseling's distributed greedy). Each round admits
    every pair that is the best REMAINING pair for BOTH of its
    endpoints (unique under the strict total order (score DESC, a,
    b)), removes all pairs touching an admitted endpoint, repeats.
    With a strict total order this fixpoint equals the sequential
    greedy matching exactly — pair-for-pair — which is what the
    DuckDB recursive-CTE oracle replays.

    ``scored``: distinct (a, b, score) rows with an integer score
    (quantize floats upstream; a == b rows are dropped). Returns the
    admitted pairs (a, b, score).

    Scale notes (100 TB audit): each round is one map-side-combining
    ``min(struct(-score, a, b))`` per endpoint (hot records with
    millions of candidates are ONE combining group, never a window),
    two equi-joins to test dominance, and two broadcast-sized
    anti-joins on matched endpoints; rounds shrink geometrically —
    quasi-random scores converge in O(log n) rounds expected
    (adversarially ordered chains are the known worst case, bounded
    here by ``max_rounds`` with a loud failure rather than a silent
    partial result). Remaining-edge state is localCheckpointed per
    round to cut lineage, mirroring connected_components.
    """
    s = (
        scored.select(
            F.col(a_col).alias("_a"),
            F.col(b_col).alias("_b"),
            F.col(score_col).cast("long").alias("_sc"),
        )
        .where(F.col("_a") != F.col("_b"))
        .dropDuplicates(["_a", "_b"])
    )
    picked: list[DataFrame] = []
    for _ in range(max_rounds):
        s = s.localCheckpoint(eager=True)
        if s.isEmpty():
            break
        key = F.struct(
            (-F.col("_sc")).alias("_neg"),
            F.col("_a").alias("_ka"),
            F.col("_b").alias("_kb"),
        )
        sk = s.withColumn("_k", key)
        ends = sk.select(F.col("_a").alias("_node"), "_k").unionByName(
            sk.select(F.col("_b").alias("_node"), "_k")
        )
        best = ends.groupBy("_node").agg(F.min("_k").alias("_mk"))
        dom = (
            sk.join(
                best.select(F.col("_node").alias("_a"), F.col("_mk").alias("_ma")),
                "_a",
            )
            .where(F.col("_k") == F.col("_ma"))
            .join(
                best.select(F.col("_node").alias("_b"), F.col("_mk").alias("_mb")),
                "_b",
            )
            .where(F.col("_k") == F.col("_mb"))
            .select("_a", "_b", "_sc")
            .localCheckpoint(eager=True)
        )
        picked.append(dom)
        matched = (
            dom.select(F.col("_a").alias("_node"))
            .unionByName(dom.select(F.col("_b").alias("_node")))
            .distinct()
        )
        s = s.join(
            matched.withColumnRenamed("_node", "_a"), "_a", "left_anti"
        ).join(matched.withColumnRenamed("_node", "_b"), "_b", "left_anti")
    else:
        # a matching that empties the edge set in exactly max_rounds
        # dominance rounds has converged — the loop just never got the
        # max_rounds+1-th top-of-loop emptiness check; only raise when
        # edges genuinely remain
        if not s.isEmpty():
            raise RuntimeError(
                f"greedy_one_to_one did not converge in {max_rounds} "
                "rounds; adversarially ordered score chains need a "
                "larger max_rounds"
            )
    if not picked:
        return s.limit(0).select(
            F.col("_a").alias(a_col),
            F.col("_b").alias(b_col),
            F.col("_sc").alias(score_col),
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, picked).select(
        F.col("_a").alias(a_col),
        F.col("_b").alias(b_col),
        F.col("_sc").alias(score_col),
    )
