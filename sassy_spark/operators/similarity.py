"""Similarity search over embedding columns (array<float>).

Two paths, mirroring the engine-wide cheap-gate/exact-verify design:
  * brute-force cosine top-k — exact baseline, a broadcast join of the
    (small) query set against the corpus with the dot product computed
    JVM-side via zip_with/aggregate (no Python in the scan);
  * LSH-bucketed (random hyperplane signs) — the scale path: corpus and
    queries hash to sign-pattern buckets; candidates only within bucket
    (+ optional multi-probe), exact cosine re-rank after.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .linkage import input_file_count


def cosine_expr(a: Column, b: Column) -> Column:
    """JVM-side cosine similarity of two float arrays (zip_with dot product
    + aggregate norms; stays in codegen, no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return (dot / F.greatest(na * nb, F.lit(1e-12))).cast("double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the query set, window top-k per
    query. One corpus scan, no shuffle of the corpus (only of the
    (n_queries x k)-sized result)."""
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qv")
    )
    scored = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cv")
    ).crossJoin(F.broadcast(q)).select(
        query_id,
        id_col,
        cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def hyperplane_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Append a random-hyperplane sign bucket (int) for cosine LSH.

    Two physical strategies with identical output:
      * small plane matrices (n_planes * dim <= ~4k literals) inline as
        Catalyst literal arrays — sign pattern computed JVM-side with
        zip_with/aggregate, no Python worker in the scan;
      * larger ones (e.g. dim=768 x 16 planes = 12k floats) would bloat
        the Catalyst expression tree and its codegen, so the matrix ships
        once inside an Arrow pandas UDF closure (Spark broadcasts the
        serialized UDF to executors) and the signs come from one numpy
        matmul per batch.
    """
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    planes = _planes(dim, n_planes, seed)
    if n_planes * dim <= 4096:
        bucket = F.lit(0).cast("long")
        for i in range(n_planes):
            arr = F.array(*[F.lit(float(x)) for x in planes[i]])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), arr, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bucket = bucket + F.when(
                dot > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return df.withColumn("bucket", bucket)

    pt = planes.T.astype(np.float64)  # (dim, n_planes)
    # integer bit packing: a float dot product with 2^i weights loses
    # low-order bits past 53 planes (float64 mantissa)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

    @F.pandas_udf(T.LongType())
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (B, dim)
        signs = (mat @ pt > 0).astype(np.uint64)  # (B, n_planes)
        return pd.Series((signs * weights[None, :]).sum(axis=1).astype(np.int64))

    return df.withColumn("bucket", bucket_udf(F.col(vec_col)))


def _reservoir_sample_vectors(
    df: DataFrame, vec_col: str, train_sample: int, seed: int
) -> np.ndarray:
    """Uniform sample of ~``train_sample`` vectors in ONE corpus scan — no
    ``count()`` pre-pass (round-3 "What's wrong" #4 dropped it): each
    partition keeps a vectorized Algorithm-R reservoir (capped at a quota
    sized from the partition count) plus its exact row count, and the
    driver merges reservoirs with largest-remainder apportionment by the
    true per-partition counts. Uniform within each partition by Algorithm
    R's invariant; across partitions, exact as long as no partition's fair
    share exceeds its quota (4x the mean partition size — beyond that the
    overflowing partition is slightly under-weighted, harmless for k-means
    training)."""
    from typing import Iterator

    src = df.select(F.col(vec_col).alias("v"))
    # partition-count estimate from metadata only: .rdd on a plan with
    # exchanges materializes upstream query stages under AQE, i.e. the
    # exact extra scan the reservoir exists to avoid. File-backed frames
    # use the file count; everything else the cluster's default
    # parallelism.
    n_files = input_file_count(df)
    n_parts = max(1, n_files or df.sparkSession.sparkContext.defaultParallelism)
    quota = max(256, -(-4 * train_sample // n_parts))

    def reservoir(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rng = np.random.default_rng([seed, pid])
        res: list[object] = []
        n_seen = 0
        for pdf in batches:
            vals = pdf["v"].to_numpy()
            m = len(vals)
            if m == 0:
                continue
            fill = min(quota - len(res), m) if len(res) < quota else 0
            res.extend(vals[:fill])
            rest = vals[fill:]
            n_seen += fill
            if len(rest):
                # vectorized Algorithm R: element t (1-indexed stream pos)
                # enters with prob quota/t into a uniform slot; in-order
                # fancy assignment == sequential replacement
                t = np.arange(n_seen + 1, n_seen + len(rest) + 1)
                accept = rng.random(len(rest)) < (quota / t)
                slots = rng.integers(0, quota, size=int(accept.sum()))
                taken = rest[accept]
                for s, val in zip(slots, taken):
                    res[s] = val
                n_seen += len(rest)
        yield pd.DataFrame(
            {
                "pid": np.full(len(res), pid, dtype=np.int32),
                "n_local": np.full(len(res), n_seen, dtype=np.int64),
                "v": res,
            }
        )

    vt = df.schema[vec_col].dataType.simpleString()
    pdf = src.mapInPandas(
        reservoir, schema=f"pid int, n_local bigint, v {vt}"
    ).toPandas()
    if len(pdf) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    rng = np.random.default_rng(seed)
    groups = {
        int(pid): g for pid, g in pdf.groupby("pid", sort=True)
    }
    counts = {pid: int(g["n_local"].iloc[0]) for pid, g in groups.items()}
    total = sum(counts.values())
    want = min(train_sample, total)
    # largest-remainder apportionment of `want` draws by true counts
    exact = {pid: want * c / total for pid, c in counts.items()}
    draws = {pid: int(x) for pid, x in exact.items()}
    short = want - sum(draws.values())
    for pid, _ in sorted(
        exact.items(), key=lambda kv: kv[1] - int(kv[1]), reverse=True
    )[:short]:
        draws[pid] += 1
    picked = []
    for pid, g in groups.items():
        d = min(draws.get(pid, 0), len(g))
        if d > 0:
            idx = rng.choice(len(g), size=d, replace=False)
            picked.extend(g["v"].to_numpy()[idx])
    return np.stack(picked).astype(np.float64)


def _train_centroids(
    mat: np.ndarray, n_centroids: int, seed: int, iters: int = 12
) -> np.ndarray:
    """Spherical k-means on a driver-side SAMPLE (the standard IVF coarse-
    quantizer recipe: the quantizer trains on a bounded sample, then the
    full corpus is assigned distributively). Rows and centroids are
    L2-normalized so nearest-centroid-by-dot-product ranks by cosine."""
    rng = np.random.default_rng(seed)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    n = len(mat)
    k = min(n_centroids, n)
    cent = mat[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(k):
            sel = mat[assign == c]
            if len(sel):
                v = sel.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _rerank_pairs(
    pairs: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id: str,
    round_to: int | None = None,
) -> DataFrame:
    """Exact-cosine re-rank of gated (query_id, id) candidate pairs:
    join the embedding payloads back in (only for survivors), score
    JVM-side, window top-k per query. Shared by the LSH and IVF paths.

    ``round_to``: quantize the cosine to this many decimals BEFORE the
    rank window, so an engine recomputing the re-rank with a different
    float summation order (the DuckDB oracle) ranks near-ties at the
    top-k boundary identically (ADVICE r03)."""
    score = cosine_expr(F.col("_qv"), F.col("_cv"))
    if round_to is not None:
        score = F.round(score, round_to)
    cand = (
        pairs.join(
            corpus.select(F.col(id_col), F.col(vec_col).alias("_cv")), id_col
        )
        .join(
            queries.select(F.col(query_id), F.col(vec_col).alias("_qv")),
            query_id,
        )
        .select(query_id, id_col, score.alias("cosine"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    seed: int = 42,
    train_sample: int = 20000,
    candidates_out: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path: a spherical k-means quantizer (trained on a bounded driver-side
    sample) partitions the corpus into cells; each query probes only its
    ``n_probe`` nearest cells and re-ranks by exact cosine there.

    At 100 TB: the corpus scan assigns cells in one broadcast-matmul UDF
    pass (no shuffle), the candidate join is an equi-join on cell id
    (queries explode to n_probe rows — tiny side), and the exact re-rank
    touches ~n_probe/n_centroids of the corpus per query instead of all
    of it. Partition/bucket the assigned table by cell for repeated
    query workloads.

    The quantizer trains on a UNIFORM single-pass reservoir sample of the
    corpus (:func:`_reservoir_sample_vectors`) — NOT ``limit()`` (head
    bias: on data sorted/clustered by region the centroids would see one
    region and recall silently degrades) and NOT ``count()+sample()``
    (a second full corpus scan per quantizer build).

    ``candidates_out``: optional parquet handoff of the gated
    (query_id, id) candidate set before the exact re-rank (q39's oracle
    recomputes the re-rank on the same set).
    """
    mat = _reservoir_sample_vectors(corpus, vec_col, train_sample, seed)
    cent = _train_centroids(mat, n_centroids, seed)
    cent_t = cent.T  # (dim, k)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series((m @ cent_t).argmax(axis=1).astype(np.int32))

    np_ = min(n_probe, len(cent))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([])
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cent_t
        top = np.argpartition(-sims, np_ - 1, axis=1)[:, :np_]
        return pd.Series([row.astype(np.int32) for row in top])

    c = corpus.select(
        F.col(id_col), cell_of(F.col(vec_col)).alias("cell")
    )
    q = queries.select(
        F.col(query_id),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    # candidate join carries IDS ONLY (a query probing n_probe cells can
    # reach the same doc once per cell -> dropDuplicates); the embedding
    # payload joins in afterwards, so the cell shuffle stays narrow — at
    # 100 TB this is the difference between shuffling ids and shuffling
    # the vector column n_probe times
    pairs = (
        c.join(q, "cell")
        .select(query_id, id_col)
        .dropDuplicates([query_id, id_col])
    )
    if candidates_out is not None:
        from .staging import stage_parquet

        pairs = stage_parquet(pairs, candidates_out, "ivf_ann_cand")
    return _rerank_pairs(
        pairs, corpus, queries, k, id_col, vec_col, query_id, round_to
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: int = 1,
    candidates_out: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: equi-join on hyperplane bucket (+ multiprobe:
    also probe every bucket within Hamming distance ``multiprobe`` of the
    query's bucket — all bit-flip combinations, not just single flips),
    exact cosine re-rank within candidates. At 100 TB the bucket join
    replaces the full cross product with a hash shuffle on bucket — and
    the shuffle carries IDS ONLY (the vector payload joins back in for
    the surviving candidates), so multiprobe fan-out never replicates
    embeddings.

    ``candidates_out``: optional parquet path receiving the gated
    (query_id, id) candidate set BEFORE the exact re-rank — the audit
    handoff that lets an external engine recompute the re-rank stage on
    the same candidates (q38's oracle)."""
    from itertools import combinations

    dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    c = hyperplane_bucket(corpus, vec_col, n_planes, seed, dim).select(
        F.col(id_col), "bucket"
    )
    qb = hyperplane_bucket(queries, vec_col, n_planes, seed, dim)
    probes = [F.col("bucket")]
    for d in range(1, min(multiprobe, n_planes) + 1):
        for flips in combinations(range(n_planes), d):
            m = 0
            for i in flips:
                m |= 1 << i
            probes.append(F.col("bucket").bitwiseXOR(F.lit(m)))
    q = qb.select(
        F.col(query_id),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    pairs = (
        c.join(q, "bucket")
        .select(query_id, id_col)
        .dropDuplicates([query_id, id_col])
    )
    if candidates_out is not None:
        from .staging import stage_parquet

        pairs = stage_parquet(pairs, candidates_out, "lsh_ann_cand")
    return _rerank_pairs(
        pairs, corpus, queries, k, id_col, vec_col, query_id, round_to
    )


def tfidf_cosine_topk_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    ngram: int = 2,
    max_df: int = 100,
    round_to: int = 4,
) -> DataFrame:
    """Sparse lexical similarity: the top-``k`` document pairs by TF-IDF
    cosine over word ``ngram`` terms — the sparse-vector companion to
    the dense-embedding ANN family (brute_force/lsh/ivf_topk).

    Relational sparse algebra, no vectors materialized:

    * one scan -> (doc, term, tf) via explode + partial-agg groupBy;
    * doc frequencies from a term-keyed agg; terms with ``df > max_df``
      are PRUNED before the pair join — the standard stopword cut, and
      the scale guarantee: a term with doc-frequency d fans out d^2
      candidate rows, so the cap bounds any term's join yield at
      max_df^2 regardless of corpus skew (the same algorithmic-cap
      argument as the LSH blocking salt, SCALE.md stage 1.5);
    * idf = ln(1 + N/df) with N from a broadcast 1-row aggregate (no
      driver collect);
    * pair dot products from a term-keyed self-join of the pruned
      postings (ids + weights only — text never moves), canonical
      a < b;
    * cosine = dot / (norm_a * norm_b), QUANTIZED to ``round_to``
      decimals BEFORE ranking (both engines rank the identical
      quantized value — same near-tie rule as lsh_topk), ties broken
      deterministically by (doc_a, doc_b).
    """
    from ..functions.text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    )
    if ngram > 1:
        terms_arr = F.when(
            F.size("tk") < ngram, F.array().cast("array<string>")
        ).otherwise(
            F.expr(
                f"transform(sequence(1, greatest(size(tk) - {ngram} + 1,"
                f" 1)), i -> concat_ws(' ', slice(tk, i, {ngram})))"
            )
        )
    else:
        terms_arr = F.col("tk")
    tf = (
        toks.select("doc_id", F.explode(terms_arr).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count("*").cast("double").alias("n_docs")
    )
    weighted = (
        tf.join(dfreq.where(F.col("df") <= max_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df"))
            ).alias("w"),
        )
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a = weighted.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = weighted.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b")
    )
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot") / (F.col("norm_a") * F.col("norm_b")),
                round_to,
            ).alias("cos"),
        )
    )
    return scored.orderBy(
        F.col("cos").desc(), F.col("doc_a"), F.col("doc_b")
    ).limit(k)


def centroid_cohesion(
    vectors: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Per-member cosine to its cluster centroid — the embedding-side
    cluster-QA audit (the cosine counterpart of the edit-distance
    diameter audit): a member with low cosine to its own entity's
    centroid is a likely wrong-merge for the clerical-review queue.

    Engine-exact construction (oracle-replicable): components are
    quantized to integer ``scale``-ths FIRST (floor, BIGINT), and the
    centroid is the component-wise integer SUM over the cluster — a
    positive scalar multiple of the mean, so cosines are identical
    and everything stays exact integer math. All work happens in
    LONG FORM: posexplode to (label, id, pos, val), centroid = one
    map-side-combining sum per (label, pos), dots = one (label, pos)
    equi-join + combining sums per member. No collect_list, no
    whole-cluster arrays — a hot entity never materializes in one
    task, so the plan survives skewed clusters at 10^12 rows. The
    single float step is the final cosine, quantized to floor-millis
    from exact integer dot/norm inputs with an identical expression
    tree on both engines.

    Returns (label, id, dot_xs, xx, ss, cos_qmillis): the exact
    integer dot products are emitted alongside so audits can re-derive
    the score.
    """
    q = vectors.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"transform({vec_col}, v -> CAST(floor(v * {scale})"
                f" AS BIGINT))"
            )
        ).alias("pos", "val"),
    )
    cent = q.groupBy("label", "pos").agg(
        F.sum("val").alias("s_val")
    )
    joined = q.join(cent, ["label", "pos"])
    per_member = joined.groupBy("label", "id").agg(
        F.sum(F.col("val") * F.col("s_val")).alias("dot_xs"),
        F.sum(F.col("val") * F.col("val")).alias("xx"),
    )
    ss = cent.groupBy("label").agg(
        F.sum(F.col("s_val") * F.col("s_val")).alias("ss")
    )
    out = per_member.join(ss, "label")
    return out.select(
        "label",
        "id",
        F.col("dot_xs").cast("long").alias("dot_xs"),
        F.col("xx").cast("long").alias("xx"),
        F.col("ss").cast("long").alias("ss"),
        F.expr(
            "CAST(floor(1000.0 * dot_xs / (sqrt(CAST(xx AS DOUBLE))"
            " * sqrt(CAST(ss AS DOUBLE)))) AS BIGINT)"
        ).alias("cos_qmillis"),
    )


def assign_to_centroids(
    train: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Record-to-entity assignment in EMBEDDING space — the vector
    counterpart of the string-space incremental matcher
    (blocking.passjoin_join feeding q111): new records match against
    one centroid per resolved entity, never against the member set,
    so per-batch cost is batch x entities x dim.

    Same engine-exact construction as :func:`centroid_cohesion`:
    components floor-quantized to integer ``scale``-ths, centroid =
    component-wise integer SUM over the entity's training members
    (positive multiple of the mean — cosines unchanged), dot products
    and norms exact integers in LONG FORM (posexplode + combining
    sums + a pos equi-join against the centroid table, which is
    n_entities x dim rows — a broadcastable dimension). The single
    float step is the final cosine, floor-quantized to millis from
    exact integer inputs with an identical expression tree on both
    engines; ranking uses the QUANTIZED value (the q38 rule) with the
    entity id as the deterministic tie-break.

    Returns one row per query id: (id, assigned_label, cos_qmillis).
    """
    def _long_form(df, key, key_alias):
        return df.select(
            F.col(key).alias(key_alias),
            F.posexplode(
                F.expr(
                    f"transform({vec_col}, v -> CAST(floor(v * {scale})"
                    f" AS BIGINT))"
                )
            ).alias("pos", "val"),
        )

    tq = _long_form(train, label_col, "label")
    cent = tq.groupBy("label", "pos").agg(F.sum("val").alias("s_val"))
    ss = cent.groupBy("label").agg(
        F.sum(F.col("s_val") * F.col("s_val")).alias("ss")
    )
    qq = _long_form(queries, id_col, "id")
    xx = qq.groupBy("id").agg(
        F.sum(F.col("val") * F.col("val")).alias("xx")
    )
    dots = (
        qq.join(cent, "pos")
        .groupBy("id", "label")
        .agg(F.sum(F.col("val") * F.col("s_val")).alias("dot_xs"))
    )
    scored = (
        dots.join(xx, "id")
        .join(ss, "label")
        .withColumn(
            "cos_qmillis",
            F.expr(
                "CAST(floor(1000.0 * dot_xs / (sqrt(CAST(xx AS DOUBLE))"
                " * sqrt(CAST(ss AS DOUBLE)))) AS BIGINT)"
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos_qmillis")).alias("_neg"),
                    F.col("label").alias("_l"),
                )
            ).alias("_b")
        )
        .select(
            "id",
            F.col("_b._l").alias("assigned_label"),
            (-F.col("_b._neg")).cast("long").alias("cos_qmillis"),
        )
    )
