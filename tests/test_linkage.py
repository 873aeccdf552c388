"""End-to-end linkage pipeline tests on the synthetic pages corpus
(planted duplicate clusters = ground truth). Mirrors the reference's
planted-mutation property tests at DataFrame level (SURVEY §5.2)."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sassy_spark.operators import cluster, linkage


def labeled_pairs(pages_with_truth: DataFrame, max_negatives_ratio: float = 1.0):
    """Ground-truth pair labels for the F1 pin.

    Positives: every intra-cluster pair. Negatives: same-host cross-cluster
    pairs (the hard negatives blocking will surface) — sampled to about
    ``max_negatives_ratio`` x positives via a per-host window cap.
    ``edit_distance`` is populated later by the evaluation harness for
    positives only (exact kernel distance); label is what F1 needs.
    """
    p = pages_with_truth.select(
        "url", "cluster_id", F.expr("parse_url(url, 'HOST')").alias("host")
    )
    a, b = p.alias("a"), p.alias("b")
    pos = (
        a.join(b, F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.url") < F.col("b.url"))
        .select(
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            F.lit(True).alias("label"),
            F.when(F.col("a.host") == F.col("b.host"), F.col("a.host"))
            .otherwise(F.lit("minhash"))
            .alias("block_key"),
        )
    )
    neg = (
        a.join(b, F.col("a.host") == F.col("b.host"))
        .where(
            (F.col("a.url") < F.col("b.url"))
            & (F.col("a.cluster_id") != F.col("b.cluster_id"))
        )
        # deterministic pseudo-random downsample: hash of the pair
        .where(F.pmod(F.xxhash64("a.url", "b.url"), F.lit(100)) < 5)
        .select(
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            F.lit(False).alias("label"),
            F.col("a.host").alias("block_key"),
        )
    )
    return pos.unionByName(neg)


@pytest.fixture(scope="module")
def scored(pages):
    inp = pages.drop("cluster_id")
    df = linkage.link(inp, k=None, k_frac=0.05).cache()
    df.count()
    return df


def test_blocking_keys_shape(pages):
    keys = linkage.blocking_keys(pages.drop("cluster_id"))
    assert keys.columns == ["url", "block_key"]
    # host and band keys are one type: 64-bit hashes
    assert keys.schema["block_key"].dataType.simpleString() == "bigint"
    n_pages = pages.count()
    # every page gets exactly 1 host key + 16 band keys
    assert keys.count() == n_pages * 17


def test_candidate_pairs_canonical(scored):
    bad = scored.where(F.col("url_a") >= F.col("url_b")).count()
    assert bad == 0


def test_scoring_matches_truth_distance(pages, scored):
    """Matched pairs must be genuine intra-cluster duplicates (no false
    merges across clusters)."""
    truth = pages.select("url", "cluster_id")
    j = (
        scored.where("is_match")
        .join(truth.withColumnRenamed("url", "url_a").withColumnRenamed("cluster_id", "ca"), "url_a")
        .join(truth.withColumnRenamed("url", "url_b").withColumnRenamed("cluster_id", "cb"), "url_b")
    )
    cross = j.where("ca != cb").count()
    assert cross == 0


def test_pair_recall(pages, scored):
    """Blocking + scoring recovers nearly all intra-cluster pairs whose
    true distance is within k (the F1>=0.99 pin at pair level)."""
    truth = labeled_pairs(pages).where("label")
    pred = scored.where("is_match").select("url_a", "url_b")
    found = truth.join(pred, ["url_a", "url_b"], "left_semi").count()
    total = truth.count()
    # the raw label is same-cluster; chained mutations can exceed k for
    # distant members, so require >= 0.95 here (cluster-level test below
    # requires exact recovery via transitivity)
    assert found / total >= 0.95, (found, total)


def test_cluster_recovery(pages, scored):
    """Transitive clustering must reproduce the planted clusters exactly
    (pairwise agreement, labels up to renaming)."""
    ents = cluster.resolve_entities(pages.drop("cluster_id"), scored)
    truth = pages.select("url", F.col("cluster_id").alias("t"))
    j = ents.join(truth, "url").cache()
    pairs = (
        j.alias("a")
        .join(j.alias("b"), F.col("a.url") < F.col("b.url"))
        .select(
            (F.col("a.cluster_id") == F.col("b.cluster_id")).alias("p"),
            (F.col("a.t") == F.col("b.t")).alias("t"),
        )
    )
    fp = pairs.where("p and not t").count()
    fn = pairs.where("t and not p").count()
    tp = pairs.where("p and t").count()
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.99, (tp, fp, fn)


def test_checkpoint_resume(pages, tmp_path):
    inp = pages.drop("cluster_id")
    ck = str(tmp_path / "ck")
    s1 = linkage.link(inp, k=None, k_frac=0.05, checkpoint_dir=ck)
    n1 = s1.count()
    s2 = linkage.link(inp, k=None, k_frac=0.05, checkpoint_dir=ck)
    assert s2.count() == n1


def test_length_prefilter_is_pushed(pages):
    """The |len_a-len_b| <= k predicate must appear in the plan BEFORE the
    Python scoring UDF (predicate ahead of the expensive kernel — the
    relational analog of sassy's early termination)."""
    inp = pages.drop("cluster_id")
    keys = linkage.host_block_keys(inp)
    pairs = linkage.candidate_pairs(keys)
    scored = linkage.score_pairs(pairs, inp, k=5)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # the scoring stage is the plan's one Arrow-native node (host keys
    # only: no sketch UDF runs here)
    udf_pos = plan.find("MapInArrow")
    filt_pos = plan.find("Filter")
    assert udf_pos != -1 and filt_pos != -1
    # physical plans print top-down: the UDF node must appear ABOVE (before
    # in string order) the length filter it consumes from
    assert udf_pos < filt_pos, plan[:2000]


def test_candidate_pairs_equal_band_tuple_oracle(spark):
    """The blocks are defined by host equality and by equality of whole
    minhash bands, whatever the key hashes them to: the pair set of the
    bigint-keyed pipeline equals a plain-Python oracle that blocks on
    host strings and on band tuples of minhash_signatures."""
    import itertools
    import math
    from collections import defaultdict

    from sassy_spark.functions.text import url_host
    from sassy_spark.operators import dedup
    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 300, seed=3).drop("cluster_id").cache()
    got = {
        tuple(r)
        for r in linkage.candidate_pairs(
            linkage.blocking_keys(pages, "text", with_len=True),
            max_block_size=10**6,
            k_frac=0.05,
        ).collect()
    }

    rows = pages.select(
        "url", url_host(F.col("url")).alias("host"), F.length("text")
    ).collect()
    length = {r[0]: r[2] for r in rows}
    blocks = defaultdict(set)
    for url, host, _ in rows:
        blocks[("host", host)].add(url)
    sigs = dedup.minhash_signatures(pages, id_col="url").collect()
    for url, sig in sigs:
        for b in range(16):
            blocks[("band", b, tuple(sig[b * 8:(b + 1) * 8]))].add(url)

    def oracle(kinds):
        out = set()
        for key, members in blocks.items():
            if key[0] not in kinds:
                continue
            for a, b in itertools.combinations(sorted(members), 2):
                la, lb = length[a], length[b]
                if abs(la - lb) <= math.ceil(max(la, lb) * 0.05):
                    out.add((a, b, la, lb))
        return out

    pages.unpersist()
    assert got == oracle({"host", "band"})
    # non-vacuous: band blocks yield pairs the host blocks do not
    assert got > oracle({"host"})


def test_score_pairs_nonascii_codepoint_costs(spark):
    """The Arrow zero-copy path is ASCII-only by construction; a batch
    containing non-ASCII must fall back to str decoding so costs stay in
    CODEPOINT units ('ééé' vs 'eee' = 3, not the 6 a byte-mode UTF-8
    comparison would report)."""
    from sassy_spark.operators.linkage import score_pairs

    pages = spark.createDataFrame(
        [
            ("a", "community café garden news"),
            ("b", "community cafe garden news"),
            ("c", "ééé summary report"),
            ("d", "eee summary report"),
        ],
        ["url", "text"],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d")], ["url_a", "url_b"]
    )
    got = {
        (r.url_a, r.url_b): r.cost
        for r in score_pairs(pairs, pages, k=10).collect()
    }
    assert got[("a", "b")] == 1
    assert got[("c", "d")] == 3


def test_score_pairs_ascii_view_path_matches_str_path(spark):
    """Same costs whether texts travel as Arrow-buffer views (ASCII batch)
    or as decoded strs (forced by appending one non-ASCII pair)."""
    from sassy_spark.operators.linkage import score_pairs

    rows = [(f"u{i}", f"the quick brown fox {i} jumps " * (3 + i % 4))
            for i in range(20)]
    pages = spark.createDataFrame(rows, ["url", "text"])
    pairs = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(19)], ["url_a", "url_b"]
    )
    ascii_costs = {
        (r.url_a, r.url_b): r.cost
        for r in score_pairs(pairs, pages, k_frac=0.5).collect()
    }
    # force the str path for EVERY pair in BOTH columns: the ASCII check
    # in string_views is per-column, so the non-ASCII text must appear in
    # text_a AND text_b (one scored pair each way round) within the single
    # scoring partition (one Arrow batch) for both columns to decode as str
    pages_na = pages.union(
        spark.createDataFrame([("zz", "café " * 10)], ["url", "text"])
    )
    pairs_na = pairs.union(
        spark.createDataFrame(
            [("u0", "zz"), ("zz", "u1")], ["url_a", "url_b"]
        )
    )
    str_costs = {
        (r.url_a, r.url_b): r.cost
        for r in score_pairs(
            pairs_na, pages_na, k_frac=0.5, score_partitions=1
        ).collect()
    }
    assert all(str_costs[p] == c for p, c in ascii_costs.items())


def test_containment_scoring(spark):
    """Partial-copy detection: a document embedded inside a larger one
    scores ~0 in containment mode even when global distance is huge."""
    from sassy_spark.operators.linkage import score_pairs
    from pyspark.sql import functions as F

    short = "the quick brown fox jumps over the lazy dog " * 3
    long = ("unrelated preamble text here. " * 20) + short + (
        " trailing content that goes on. " * 20
    )
    pages = spark.createDataFrame(
        [("a", short), ("b", long), ("c", "completely different words " * 10)],
        ["url", "text"],
    )
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], ["url_a", "url_b"])
    got = {
        (r.url_a, r.url_b): r
        for r in score_pairs(
            pairs, pages, k_frac=0.1, score_mode="containment"
        ).collect()
    }
    assert got[("a", "b")].cost == 0
    assert got[("a", "b")].is_match
    assert not got[("a", "c")].is_match
    # global mode would reject the same pair outright (length prefilter)
    g = score_pairs(pairs, pages, k_frac=0.1, score_mode="global")
    assert ("a", "b") not in {(r.url_a, r.url_b) for r in g.collect()}


def test_hot_block_salting_caps_pairs(spark):
    """A pathologically hot block key must yield ~max_block_size^2 pairs,
    not n^2 (the explicit skew strategy of the north rule)."""
    from sassy_spark.operators.linkage import candidate_pairs

    n = 2000
    keys = spark.createDataFrame(
        [(f"u{i:05d}", "host:hot.example.com") for i in range(n)],
        ["url", "block_key"],
    )
    got = candidate_pairs(keys, max_block_size=64)
    n_pairs = got.count()
    # unsalted would be n*(n-1)/2 = 1,999,000; cap ~ 64^2 * fudge
    assert n_pairs < 64 * 64 * 4, n_pairs
    assert n_pairs > 0


def test_stage_checkpoint_invalidated_on_param_change(spark, tmp_path):
    """Rerunning link() with the same checkpoint_dir but a different
    parameter set must rebuild the stages, not silently reuse stale output
    (round-1 advice: fingerprint = input plan hash + params)."""
    from sassy_spark.operators.linkage import link
    from sassy_spark.sources.pages import generate_pages

    ck = str(tmp_path / "stages")
    pages = generate_pages(spark, 120, seed=3).drop("cluster_id").cache()
    pages.count()
    n_tight = link(pages, k=None, k_frac=0.02, checkpoint_dir=ck).count()
    # wider k admits strictly more candidate pairs through the length
    # prefilter; a stale-stage reuse would return n_tight again
    n_wide = link(pages, k=None, k_frac=0.30, checkpoint_dir=ck).count()
    assert n_wide > n_tight
    # and same params DO resume to identical output
    n_again = link(pages, k=None, k_frac=0.30, checkpoint_dir=ck).count()
    assert n_again == n_wide


def test_score_pairs_containment_alpha_overhang(spark):
    """K12 at the pair level: with alpha, the shorter text may hang over
    the longer's ends at cost floor(alpha * overhang). 'worldxx' inside
    'helloworld': cost 2 plain (xx paid in full), 1 at alpha=0.5."""
    from sassy_spark.operators.linkage import score_pairs

    pages = spark.createDataFrame(
        [("n", "worldxx"), ("d", "helloworld")], ["url", "text"]
    )
    pairs = spark.createDataFrame([("n", "d")], ["url_a", "url_b"])
    plain = score_pairs(pairs, pages, k=3, score_mode="containment")
    assert plain.collect()[0].cost == 2
    over = score_pairs(
        pairs, pages, k=3, score_mode="containment", alpha=0.5
    )
    assert over.collect()[0].cost == 1


def test_run_pipeline_table_input(spark, tmp_path, monkeypatch):
    """run_pipeline --input <catalog table> (the Iceberg-shaped path,
    run_pipeline.py spark.read.table) end-to-end: pages saved as a
    catalog table, pipeline resolves entities, metrics land beside the
    checkpoints via the Hadoop FS API."""
    import json
    import sys as _sys

    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 150, seed=5).drop("cluster_id")
    n_pages = pages.count()
    spark.sql("DROP TABLE IF EXISTS sassy_test_pages")
    # the in-memory catalog forgets tables across sessions but leaves the
    # managed location behind — clear it so saveAsTable can recreate
    import shutil

    shutil.rmtree("/tmp/sassy-warehouse/sassy_test_pages", ignore_errors=True)
    pages.write.mode("overwrite").saveAsTable("sassy_test_pages")

    from sassy_spark import run_pipeline

    out = str(tmp_path / "entities")
    ck = str(tmp_path / "ck")
    monkeypatch.setattr(
        _sys,
        "argv",
        [
            "run_pipeline",
            "--input", "sassy_test_pages",
            "--output", out,
            "--checkpoint", ck,
            "--k-frac", "0.05",
        ],
    )
    run_pipeline.main()
    ents = spark.read.parquet(out)
    assert ents.count() == n_pages
    metrics = json.loads((tmp_path / "ck" / "metrics.json").read_text())
    assert metrics["n_pages"] == n_pages
    assert metrics["stages"]["score"]["pairs_scored"] >= 0


def _run_pipeline(monkeypatch, inp, out, ck):
    import sys as _sys

    from sassy_spark import run_pipeline

    monkeypatch.setattr(
        _sys,
        "argv",
        [
            "run_pipeline",
            "--input", str(inp),
            "--output", str(out),
            "--checkpoint", str(ck),
            "--k-frac", "0.05",
        ],
    )
    run_pipeline.main()


def _snapshot_files(ck):
    """file names under every snapshot's data dir (Spark names part
    files per write job, so a rebuilt snapshot gets new names)."""
    return {
        str(d.relative_to(ck)): sorted(f.name for f in d.iterdir())
        for d in sorted(ck.glob("**/data"))
    }


def _entities(spark, path):
    return {tuple(r) for r in spark.read.parquet(str(path)).collect()}


def test_run_pipeline_resumes_across_processes(spark, tmp_path, monkeypatch):
    """A second run_pipeline process with the same --checkpoint resumes
    every link stage and the CC iteration instead of rebuilding them
    (snapshot fingerprints are content + parameters; a plan hash
    differs from one JVM to the next)."""
    import os
    import subprocess
    import sys as _sys
    from pathlib import Path

    from sassy_spark.sources.pages import generate_pages

    inp = tmp_path / "pages.parquet"
    generate_pages(spark, 150, seed=5).drop("cluster_id").write.parquet(str(inp))
    ck = tmp_path / "ck"
    _run_pipeline(monkeypatch, inp, tmp_path / "ents1", ck)
    before = _snapshot_files(ck)
    assert {"stage=block_keys/data", "stage=candidate_pairs/data",
            "stage=scored/data"} <= set(before)

    repo = Path(__file__).resolve().parent.parent
    env = {
        **os.environ,
        "PYTHONPATH": str(repo),
        "SASSY_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": "2",
    }
    subprocess.run(
        [
            _sys.executable, str(repo / "sassy_spark" / "run_pipeline.py"),
            "--input", str(inp), "--output", str(tmp_path / "ents2"),
            "--checkpoint", str(ck), "--k-frac", "0.05",
        ],
        env=env, cwd=str(tmp_path), check=True, timeout=600,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    assert _snapshot_files(ck) == before
    assert _entities(spark, tmp_path / "ents2") == _entities(
        spark, tmp_path / "ents1"
    )


def test_run_pipeline_rebuilds_after_input_rewritten(spark, tmp_path, monkeypatch):
    """Rewriting the input parquet in place and rerunning with the same
    checkpoint must give the entities of the new input, as a run on a
    fresh checkpoint dir does — not stale scored pairs of the old one."""
    from sassy_spark.sources.pages import generate_pages

    inp = tmp_path / "pages.parquet"
    generate_pages(spark, 150, seed=5).drop("cluster_id").write.parquet(str(inp))
    ck = tmp_path / "ck"
    _run_pipeline(monkeypatch, inp, tmp_path / "ents_old", ck)
    generate_pages(spark, 150, seed=6).drop("cluster_id").write.mode(
        "overwrite"
    ).parquet(str(inp))
    _run_pipeline(monkeypatch, inp, tmp_path / "ents_rerun", ck)
    _run_pipeline(monkeypatch, inp, tmp_path / "ents_fresh", tmp_path / "ck2")
    assert _entities(spark, tmp_path / "ents_rerun") == _entities(
        spark, tmp_path / "ents_fresh"
    )


def test_link_torn_stage_rebuilds(spark, tmp_path, caplog):
    """After one part file of the scored and the candidate-pair stage is
    deleted, a checkpointed rerun logs why each snapshot is refused,
    rebuilds them (the block keys resume) and returns the output of a
    clean run."""
    import logging

    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 150, seed=3).drop("cluster_id").cache()
    ck = tmp_path / "ck"

    def run():
        return {
            tuple(r)
            for r in linkage.link(
                pages, k=None, k_frac=0.05, checkpoint_dir=str(ck)
            ).collect()
        }

    clean = run()
    torn = [ck / "stage=scored", ck / "stage=candidate_pairs"]
    for stage in torn:
        sorted((stage / "data").glob("part-*.parquet"))[0].unlink()
    keys_before = _snapshot_files(ck)["stage=block_keys/data"]
    with caplog.at_level(logging.WARNING, logger="sassy_spark.operators.staging"):
        assert run() == clean
    logged = [r.getMessage() for r in caplog.records]
    for stage in torn:
        assert any(
            str(stage) in m and "not resumed" in m for m in logged
        ), logged
    assert _snapshot_files(ck)["stage=block_keys/data"] == keys_before
    pages.unpersist()


def test_link_leaves_no_persisted_rdds(pages, spark):
    """link() without a checkpoint dir stages through RAM-scratch parquet;
    a full run must leave no persisted RDDs behind (round-2 VERDICT #9)."""
    from sassy_spark.operators import linkage as L

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persisted()
    L.link(pages.limit(120), k_frac=0.05).count()
    assert n_persisted() == base


def test_candidate_pairs_fused_equals_join(spark):
    """The one-shuffle in-array pair generation must yield EXACTLY the
    pair set of a plain-Python oracle over the same key rows — including
    salted refinement of an over-cap block and the length prefilter."""
    import itertools
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    from sassy_spark.operators.linkage import candidate_pairs

    # 300 members in one hot block (over max_block_size=64 -> salted),
    # plus small blocks, singletons, and a shared-url pair
    rows = [(f"u{i:04d}", "hot") for i in range(300)]
    rows += [(f"u{i:04d}", f"b{i % 7}") for i in range(40)]
    rows += [("lone", "single")]
    lens = {f"u{i:04d}": 100 + (i % 30) for i in range(300)}
    lens["lone"] = 100
    keys = spark.createDataFrame(rows, ["url", "block_key"])
    keys_l = spark.createDataFrame(
        [(u, b, lens[u]) for u, b in rows],
        "url string, block_key string, _l long",
    )
    cap = 64

    def oracle(keys, k=None, k_frac=None, **_):
        has_len = "_l" in keys.columns
        blocks = defaultdict(list)
        for r in keys.select(
            "url", "block_key", F.xxhash64("url").alias("h"),
            *(["_l"] if has_len else []),
        ).collect():
            blocks[r.block_key].append(r)
        out = set()
        for ms in blocks.values():
            n_salt = math.ceil(len(ms) / cap) ** 2
            subs = defaultdict(list)
            for m in ms:
                # Python's % of a negative hash matches Spark's pmod
                subs[m.h % n_salt if len(ms) > cap else 0].append(m)
            for sub in subs.values():
                for x, y in itertools.combinations(sub, 2):
                    x, y = sorted((x, y), key=lambda m: m.url)
                    if x.url == y.url:
                        continue
                    if not has_len:
                        out.add((x.url, y.url))
                        continue
                    if k_frac is not None:
                        bound = math.ceil(max(x._l, y._l) * k_frac)
                    else:
                        bound = k if k is not None else math.inf
                    if abs(x._l - y._l) <= bound:
                        out.add((x.url, y.url, x._l, y._l))
        return sorted(out)

    for keys_in, kwargs in (
        (keys, {}),  # no lengths
        (keys_l, {"k": 10}),
        (keys_l, {"k_frac": 0.05}),
        # out_partitions: the dedup exchange doubles as the scorer
        # fan-out — pair set must be unchanged and the output must
        # arrive in exactly that many partitions
        (keys_l, {"k": 10, "out_partitions": 16}),
    ):
        got = candidate_pairs(keys_in, max_block_size=cap, **kwargs)
        want = oracle(keys_in, **kwargs)
        assert sorted(tuple(r) for r in got.collect()) == want, kwargs
        # non-vacuous: the hot block pairs, but far below 300*299/2
        assert 0 < len(want) < 300 * 299 // 2
        if kwargs.get("out_partitions"):
            assert got.rdd.getNumPartitions() == kwargs["out_partitions"]


def test_broadcast_fits_reads_parsed_threshold(spark):
    """The broadcast gate reads the threshold Spark parsed: "1KB" must
    refuse a frame estimated above 1 KiB that the default 64 MB
    threshold admits (a raw int() of "1KB" fell back to 10 MiB)."""
    from sassy_spark.operators.linkage import broadcast_fits

    df = spark.range(1000)  # estimated at 8 bytes per row
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        assert broadcast_fits(df)
        spark.conf.set(key, "1KB")
        assert not broadcast_fits(df)
        assert broadcast_fits(spark.range(100))  # 800 bytes
        assert not broadcast_fits(spark.range(100), factor=2)
        spark.conf.set(key, "-1")
        assert not broadcast_fits(spark.range(1))
    finally:
        spark.conf.set(key, old)


def test_input_file_count_metadata_and_logged_fallback(spark, tmp_path, caplog):
    """File-backed frames count their files, generated and streaming
    frames count 0, and a frame whose file list Spark cannot give counts
    0 with a warning instead of failing silently."""
    from py4j.protocol import Py4JError

    from sassy_spark.operators.linkage import input_file_count

    path = str(tmp_path / "three")
    spark.range(30).repartition(3).write.parquet(path)
    assert input_file_count(spark.read.parquet(path)) == 3
    assert input_file_count(spark.range(5)) == 0

    stream = spark.readStream.schema("id long").parquet(path)
    with caplog.at_level("WARNING", logger="sassy_spark.operators.linkage"):
        assert input_file_count(stream) == 0
    assert "no input file list" not in caplog.text

    class Unlistable:
        isStreaming = False

        def inputFiles(self):
            raise Py4JError("no file list")

    with caplog.at_level("WARNING", logger="sassy_spark.operators.linkage"):
        assert input_file_count(Unlistable()) == 0
    assert "no input file list" in caplog.text


def test_reciprocal_best_pairs(spark):
    from sassy_spark.operators.linkage import reciprocal_best_pairs

    scored = spark.createDataFrame(
        [
            ("a1", "b1", 90), ("a1", "b2", 80),
            ("a2", "b1", 85), ("a2", "b2", 85),  # a2 ties -> min b1
            ("a3", "b3", 70),
        ],
        ["url_a", "url_b", "score"],
    )
    got = {
        (r["url_a"], r["url_b"], r["score"])
        for r in reciprocal_best_pairs(scored).collect()
    }
    # a2's best is b1 (tie toward smaller id) but b1's best is a1, so
    # a2 stays unassigned — never force-linked to its second choice
    assert got == {("a1", "b1", 90), ("a3", "b3", 70)}
    # one-to-one: each side appears at most once
    a_side = [x for x, _, _ in got]
    b_side = [y for _, y, _ in got]
    assert len(a_side) == len(set(a_side))
    assert len(b_side) == len(set(b_side))


def test_group_linkage_weights_and_stop_keys(spark):
    """Hand-computed two-tier linkage: integer IDF weights, set
    semantics within a group, and the stop-key df cap removing a
    universal key from BOTH sides of the weighted Jaccard."""
    from sassy_spark.operators.linkage import group_linkage

    members = spark.createDataFrame(
        [
            # 'common' appears in all 3 groups -> df 3 > max_df 2: stop key
            (1, "common"), (2, "common"), (3, "common"),
            (1, "alpha"), (2, "alpha"),       # df 2 -> w 500000
            (1, "beta"),                      # df 1 -> w 1000000
            (2, "beta2"),                     # df 1 -> w 1000000
            (3, "gamma"),                     # df 1 -> w 1000000
            (1, "alpha"),                     # dup within group: collapsed
        ],
        ["group", "key"],
    )
    rows = {
        (r.group_a, r.group_b): (r.inter_w, r.union_w, r.sim_qmicros)
        for r in group_linkage(members, max_df=2).collect()
    }
    # groups 1 and 2 share only 'alpha' (500000); totals: g1 = 1500000,
    # g2 = 1500000 -> union 2500000, sim = 200000 micros
    assert rows == {(1, 2): (500000, 2500000, 200000)}
    # with the cap lifted, 'common' (df 3 -> w 333333) joins every pair
    rows2 = {
        (r.group_a, r.group_b): r.inter_w
        for r in group_linkage(members, max_df=10).collect()
    }
    assert set(rows2) == {(1, 2), (1, 3), (2, 3)}
    assert rows2[(1, 2)] == 500000 + 333333
    assert rows2[(1, 3)] == 333333


def test_collective_promote_support_and_tiers(spark):
    """Planted relational graph: borderline pair (3,4) is promoted
    because its neighbors (1,2) are a seed match; borderline (7,8)
    with no matched neighborhood stays rejected; seeds pass through
    with n_support 0; sub-lo pairs never appear."""
    from sassy_spark.operators.linkage import collective_promote

    scored = spark.createDataFrame(
        [
            (1, 2, 900),   # seed
            (3, 4, 700),   # borderline, neighbors 1/2 matched
            (7, 8, 700),   # borderline, no relational support
            (5, 6, 100),   # below lo: excluded entirely
        ],
        ["id_a", "id_b", "score"],
    )
    # context: 3's neighbor is 1, 4's neighbor is 2 (and symmetric)
    neighbors = spark.createDataFrame(
        [(3, 1), (4, 2), (1, 3), (2, 4), (7, 5), (8, 6)],
        ["src", "dst"],
    )
    got = {
        (r.id_a, r.id_b): (r.n_support, r.tier)
        for r in collective_promote(
            scored, neighbors, hi=800, lo=500, boost=100
        ).collect()
    }
    assert got == {
        (1, 2): (0, "seed"),
        (3, 4): (1, "promoted"),   # 700 + 100*1 >= 800
        (7, 8): (0, "rejected"),   # (5,6) scored 100: not a seed
    }


def test_greedy_one_to_one_equals_sequential_greedy(spark):
    """Iterated local dominance == sequential greedy matching, pinned
    on seeded pseudo-random band graphs against a pure-python walk of
    the same (score DESC, a, b) total order (incl a conflict case
    where reciprocal-best would drop the second pair entirely)."""
    from sassy_spark.operators.linkage import greedy_one_to_one

    def seq_greedy(edges):
        used, out = set(), []
        for a, b, s in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
            if a not in used and b not in used:
                used.update((a, b))
                out.append((a, b, s))
        return sorted(out)

    for n, seed in ((60, 37), (60, 91), (25, 7)):
        edges = [
            (i, i + gap, (seed * (i * 3 + i + gap)) % 1001)
            for i in range(n)
            for gap in (1, 2)
            if i + gap < n
        ]
        df = spark.createDataFrame(edges, ["url_a", "url_b", "score"])
        got = sorted(
            (r.url_a, r.url_b, r.score)
            for r in greedy_one_to_one(df).collect()
        )
        assert got == seq_greedy(edges)

    # chain 1-2-3 with scores 10 > 9: greedy keeps (2,3) ONLY after
    # (1,2)?? no — (1,2)=10 wins, 3 left single; then (3,4)=8 admitted:
    # reciprocal-best would have kept (1,2) and dropped (2,3),(3,4)
    chain = [(1, 2, 10), (2, 3, 9), (3, 4, 8)]
    df = spark.createDataFrame(chain, ["url_a", "url_b", "score"])
    got = sorted(
        (r.url_a, r.url_b, r.score) for r in greedy_one_to_one(df).collect()
    )
    assert got == [(1, 2, 10), (3, 4, 8)]
    # one-to-one: no endpoint reused
    seen = [x for a, b, _ in got for x in (a, b)]
    assert len(seen) == len(set(seen))
