"""Plan-shape pins: pushdown reaches the parquet scan, small dims go
broadcast, scalar text functions stay out of Python."""

from pyspark.sql import functions as F

from sassy_spark.functions.text import quality_score, token_count

import plans


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    pf = plans.pushed_filters(q)
    assert "l_quantity" in pf, pf


def test_column_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    plan = plans.physical_plan(q)
    # ReadSchema must not include unprojected columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_extendedprice" not in read[0], read


def test_small_dim_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    plans.assert_broadcast_join(j)


def test_text_functions_stay_jvm_side(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = d.select(
        token_count(F.col("text")).alias("nt"),
        quality_score(F.col("text")).alias("q"),
    )
    # higher-order array functions are JVM-side but not codegen'd; the pin
    # is "no Python", not codegen
    plans.assert_no_python_in_scan_path(q)


def test_relational_agg_is_codegen(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    assert plans.whole_stage_codegen_spans(q) >= 1


def test_ngram_verify_stays_jvm_side(spark, sf_dir):
    """The near-dup exact-Jaccard verify is pure Catalyst: hashed-gram
    arrays, no Python eval node anywhere in the plan."""
    from sassy_spark.operators.dedup import ngram_jaccard_verify

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["id_a", "id_b"])
    q = ngram_jaccard_verify(pairs, d)
    plans.assert_no_python_in_scan_path(q)


def test_length_prefilter_applied_before_text_join(spark):
    """score_pairs: the |len_a - len_b| <= k prefilter must appear in the
    optimized plan BEFORE the text columns are joined in (the wide
    payload only shuffles for surviving pairs)."""
    from sassy_spark.operators.linkage import score_pairs
    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 80, seed=2).drop("cluster_id")
    pairs = spark.createDataFrame(
        [("u1", "u2")], ["url_a", "url_b"]
    )
    q = score_pairs(pairs, pages, k=5)
    plan = plans.optimized_plan(q)
    assert "k_eff" in plan
    # Catalyst folds the prefilter into the length join's condition — the
    # abs() predicate must exist and involve only id/length columns (the
    # text payload joins in above it, only for surviving pairs)
    abs_lines = [ln for ln in plan.splitlines() if "abs(" in ln]
    assert abs_lines, plan[:2000]
    assert all("text" not in ln for ln in abs_lines), abs_lines


def test_cc_star_ops_have_no_window(spark):
    from sassy_spark.operators.cluster import large_star, small_star

    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    for op in (large_star, small_star):
        assert "Window" not in plans.physical_plan(op(e))


def test_gram_normalize_not_inlined_into_lambda(spark, sf_dir):
    """Round-4 q20 fix pin: the normalize regexp must be BOUND in its own
    projection, not inlined into the gram transform's lambda — inlined,
    Catalyst re-evaluates the regexp PER GRAM ELEMENT (measured 10x the
    whole gram-build cost at sf0.1). Structural check on the optimized
    plan: no plan line may contain both transform( and regexp_replace."""
    # build the gram subplan exactly as ngram_jaccard_verify does
    # (pre-staging)
    from sassy_spark.functions.text import char_ngrams, normalize

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = d.select(
        F.col("doc_id").alias("id"), normalize(F.col("text")).alias("_norm")
    ).select(
        "id",
        F.array_distinct(
            F.transform(char_ngrams(F.col("_norm"), 5), lambda s: F.xxhash64(s))
        ).alias("grams"),
    )
    plan = g._jdf.queryExecution().optimizedPlan().toString()
    bad = [
        ln for ln in plan.splitlines()
        if "transform(" in ln and "regexp_replace" in ln
    ]
    assert not bad, f"normalize re-inlined into the gram lambda:\n{bad[0]}"
    # and the regexp appears exactly once (the bound projection)
    assert plan.count("regexp_replace") == 1, plan


def test_passjoin_and_qgram_plans_stay_jvm_side(spark):
    """Round-6 pins for the two lossless edit-distance joins (the r5
    bench's heaviest lines): no Python eval node anywhere, the verify
    is the codegen'd banded levenshtein, and candidate generation is
    bounded explodes + one dedup aggregate — no window, no cartesian."""
    from sassy_spark.operators.blocking import passjoin_pairs, qgram_count_pairs

    rows = [(i, f"acme corporation {i % 7}{i}") for i in range(40)]
    keys = spark.createDataFrame(rows, ["id", "key"])
    for op, kw in ((passjoin_pairs, {}), (qgram_count_pairs, {"q": 3})):
        q = op(keys, k=2, **kw)
        plan = plans.physical_plan(q)
        plans.assert_no_python_in_scan_path(q)
        assert "levenshtein" in plan, plan[:1500]
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "Generate explode" in plan


def test_score_pairs_narrow_shuffle_shape(spark):
    """Round-6 pin for the ER scoring stage's physical shape (the r5
    throughput work): the pre-kernel exchange partitions the NARROW
    pair rows (never a text column), and when the corpus fits the
    broadcast threshold both text attachments are broadcast joins —
    the wide payload is never shuffled."""
    from sassy_spark.operators.linkage import score_pairs
    from sassy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 200, seed=3).drop("cluster_id")
    # parquet-backed pages so Catalyst has a real size estimate for the
    # broadcast gate (generator frames estimate as unknown/huge)
    import tempfile

    path = tempfile.mkdtemp(prefix="plans_pages_")
    pages.write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    pairs = spark.createDataFrame([("u1", "u2"), ("u2", "u3")], ["url_a", "url_b"])
    q = score_pairs(pairs, pages, k=5)
    plan = plans.physical_plan(q)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # the explicit repartition must carry only narrow columns
    rep = [
        ln for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln
    ]
    assert rep and all("text" not in ln for ln in rep), rep


def test_link_executed_plan_shape(spark, tmp_path):
    """Pin for the whole ER job's executed plan (``link()`` without a
    checkpoint dir): one sketch UDF pass (dedup's Arrow sketch), one
    key-table exchange, one pair exchange that serves both the dedup and
    the kernel fan-out, both text attachments broadcast, one kernel
    stage."""
    from sassy_spark.operators.linkage import link
    from sassy_spark.sources.pages import generate_pages

    path = str(tmp_path / "pages")
    generate_pages(spark, 200, seed=3).drop("cluster_id").write.parquet(path)
    plan = plans.physical_plan(
        link(spark.read.parquet(path), k=None, k_frac=0.05)
    )
    lines = plan.splitlines()

    def count(marker):
        return sum(marker in ln for ln in lines)

    # the two Python stages, each by its UDF name: the sketch and the
    # kernel (score_pairs binds _score_batches with functools.partial)
    assert count("MapInArrow sketch_batches(") == 1, plan
    assert count("MapInArrow partial(") == 1, plan
    assert count("MapInArrow") == 2, plan
    assert count("MapInPandas") == 0, plan
    assert count("Exchange hashpartitioning(block_key") == 1, plan
    assert count("REPARTITION_BY_NUM") == 1, plan
    assert count("BroadcastHashJoin") == 2, plan
