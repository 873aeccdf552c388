"""Connected-components correctness vs a pure-Python union-find oracle,
plus checkpoint/resume semantics."""

import random
import re

import pytest
from pyspark.sql import functions as F

from sassy_spark.operators.cluster import connected_components


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _random_graph(seed, n_nodes=200, n_edges=150):
    rng = random.Random(seed)
    nodes = [f"n{i:04d}" for i in range(n_nodes)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
    ]
    return nodes, [e for e in edges if e[0] != e[1]]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_matches_union_find(spark, seed):
    nodes, edges = _random_graph(seed)
    oracle = _uf_components(edges, {a for e in edges for a in e})
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got == {n: c for n, c in oracle.items()}


def test_cc_long_chain(spark):
    """A path graph exercises the O(log n) star contraction (label
    propagation would need n iterations)."""
    n = 128
    edges = [(f"c{i:04d}", f"c{i+1:04d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = connected_components(df, max_iter=15).collect()
    assert {r["cluster_id"] for r in got} == {"c0000"}
    assert len(got) == n


def test_cc_unconverged_raises(spark):
    """Stopping at max_iter before convergence is an error, not partial
    labels (one star round leaves a 64-node path in many pieces)."""
    edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="1 iterations run .* max_iter=1"):
        connected_components(df, max_iter=1, small_graph_threshold=0)
    got = connected_components(df).collect()
    assert {r["cluster_id"] for r in got} == {"p00"}
    assert len(got) == 64


def test_cc_checkpoint_resume(spark, tmp_path):
    nodes, edges = _random_graph(9)
    df = spark.createDataFrame(edges, ["src", "dst"])
    ck = str(tmp_path / "cc")
    a = {r["url"]: r["cluster_id"] for r in connected_components(df, checkpoint_dir=ck).collect()}
    # resume from converged checkpoint: same labels, no extra iterations
    b = {r["url"]: r["cluster_id"] for r in connected_components(df, checkpoint_dir=ck).collect()}
    assert a == b


def test_cc_self_loops_ignored(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("c", "c")], ["src", "dst"]
    )
    got = {r["url"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got["a"] == "a" and got["b"] == "a" and got["c"] == "c"


def test_cc_torn_iteration_rebuilds(spark, tmp_path, caplog):
    """Iteration snapshots carry per-partition lineage; after one part
    file of the newest iteration is deleted, a rerun logs why that
    snapshot is refused, resumes from an older valid one and returns the
    labels of a clean run."""
    import json
    import logging
    import os

    nodes, edges = _random_graph(21)
    df = spark.createDataFrame(edges, ["src", "dst"])
    ck = tmp_path / "cc_torn"
    clean = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            df, checkpoint_dir=str(ck), small_graph_threshold=0
        ).collect()
    }
    iters = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    assert len(iters) >= 2
    newest = ck / iters[-1]
    meta = json.loads((newest / "_meta.json").read_text())
    assert meta["converged"] and meta["parent"] == meta["iteration"] - 1
    assert sum(p["rows"] for p in meta["partitions"]) == meta["rows"] > 0
    part = sorted((newest / "data").glob("part-*.parquet"))[0]
    part.unlink()
    with caplog.at_level(logging.WARNING, logger="sassy_spark.operators.staging"):
        again = {
            r["url"]: r["cluster_id"]
            for r in connected_components(
                df, checkpoint_dir=str(ck), small_graph_threshold=0
            ).collect()
        }
    assert again == clean
    assert any(
        str(newest) in r.getMessage() and "not resumed" in r.getMessage()
        for r in caplog.records
    ), [r.getMessage() for r in caplog.records]


def test_cc_resume_mid_run(spark, tmp_path):
    """Kill-mid-run resumability: stop after 2 iterations (pre-convergence
    on a long chain), then resume from the checkpoint — final labels must
    match an uninterrupted run."""
    n = 96
    edges = [(f"m{i:03d}", f"m{i+1:03d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ck = str(tmp_path / "cc_mid")
    # threshold=0 pins the DISTRIBUTED star-iteration mechanics (the
    # driver union-find finisher would otherwise converge instantly on
    # this driver-sized graph)
    # chain of 96 cannot converge in 2 star rounds: the call raises, and
    # the two iterations it ran stay checkpointed
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(
            df, checkpoint_dir=ck, max_iter=2, small_graph_threshold=0
        )
    resumed = connected_components(
        df, checkpoint_dir=ck, max_iter=25, small_graph_threshold=0
    )
    got = {r["url"]: r["cluster_id"] for r in resumed.collect()}
    assert set(got.values()) == {"m000"}
    assert len(got) == n
    # and the resume actually started from the snapshot: iter dirs exist
    import os

    iters = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    assert "iter=000" in iters and len(iters) >= 3


def test_cc_planted_star_no_window_skew(spark):
    """A 10^5-member star (one hub) must not require any whole-partition
    Window: the star ops use groupBy-min + rejoin, which partial-aggregates
    map-side and lets AQE split the hub's join partition. Pin both the
    labels and the absence of window exchanges in the plan."""
    n = 100_000
    edges = spark.range(1, n + 1).select(
        F.lit("hub").alias("src"),
        F.concat(F.lit("n"), F.lpad(F.col("id").cast("string"), 7, "0")).alias(
            "dst"
        ),
    )
    from sassy_spark.operators.cluster import large_star, small_star

    plan = small_star(large_star(edges))._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    cc = connected_components(edges)
    labels = cc.select("cluster_id").distinct().collect()
    assert [r.cluster_id for r in labels] == ["hub"]
    assert cc.count() == n + 1


def test_cc_checkpoint_invalidated_on_different_input(spark, tmp_path):
    """Resuming with the same checkpoint_dir but DIFFERENT input edges must
    rebuild, not silently reuse stale clusters (round-1 advice)."""
    ck = str(tmp_path / "cc")
    e1 = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    got1 = {
        r.url: r.cluster_id
        for r in connected_components(e1, checkpoint_dir=ck).collect()
    }
    assert got1 == {"a": "a", "b": "a", "c": "a"}
    # different graph, same dir: must NOT return the old clusters
    e2 = spark.createDataFrame(
        [("x", "y"), ("p", "q")], ["src", "dst"]
    )
    got2 = {
        r.url: r.cluster_id
        for r in connected_components(e2, checkpoint_dir=ck).collect()
    }
    assert got2 == {"x": "x", "y": "x", "p": "p", "q": "p"}


@pytest.mark.parametrize("seed", [5, 11])
def test_cc_small_graph_finisher_identical_labels(spark, seed, tmp_path):
    """The driver union-find finisher (small_graph_threshold) must produce
    byte-identical labels to the pure distributed star path, with and
    without checkpointing, and a checkpoint written by the finisher must
    resume cleanly (converged meta honored, same labels, and cross-path:
    a star-only rerun against the finisher's checkpoint agrees)."""
    nodes, edges = _random_graph(seed)
    df = spark.createDataFrame(edges, ["src", "dst"])
    star_only = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    finisher = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert star_only == finisher

    ck = str(tmp_path / "cc_small")
    a = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=ck).collect()
    }
    assert a == star_only
    # resume from the finisher-written converged checkpoint — both with
    # the finisher active and with it disabled (the meta is path-agnostic)
    b = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=ck).collect()
    }
    c = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            df, checkpoint_dir=ck, small_graph_threshold=0
        ).collect()
    }
    assert a == b == c


def _labels_by_oracle(edges, nodes, key):
    """Python oracle: union-find components, each labelled by its minimum
    member under ``key``."""
    root = _uf_components(edges, nodes)
    members = {}
    for n, r in root.items():
        members.setdefault(r, []).append(n)
    return {n: min(members[root[n]], key=key) for n in nodes}


@pytest.mark.parametrize(
    "edges,schema,key",
    [
        (
            [
                ("http://a.com/x", "http://A.com/x"),
                ("http://Z.com/", "http://a.com/x"),
                ("http://é.fr/1", "http://ä.de/2"),
                ("http://e.fr/1", "http://é.fr/1"),
                # U+FFFF sorts before U+1F600 in UTF-8 (EF BF BF < F0 ..)
                # but after it in UTF-16 (FFFF > D83D): the byte order wins
                ("x\U0001F600", "x\uffff"),
                ("\U0001F600", "\ue000"),
                ("\ue000", "\uffff"),
                ("ÿ", "ÿ"),
            ],
            "src string, dst string",
            lambda s: s.encode("utf-8"),
        ),
        (
            [(-5, 3), (3, 2**40), (7, -(2**62)), (2**62, 7), (0, 0)],
            "src long, dst long",
            lambda v: v,
        ),
    ],
    ids=["utf8_urls", "long_ids"],
)
def test_cc_driver_labels_follow_spark_ordering(spark, edges, schema, key):
    """The driver finisher's Arrow sort must order ids exactly as Spark
    does: the same labels as the star rounds and as a Python oracle that
    orders strings by UTF-8 bytes and longs numerically."""
    df = spark.createDataFrame(edges, schema)
    oracle = _labels_by_oracle(
        [e for e in edges if e[0] != e[1]], {v for e in edges for v in e}, key
    )
    driver = {r["url"]: r["cluster_id"] for r in connected_components(df).collect()}
    star_only = {
        r["url"]: r["cluster_id"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert driver == star_only == oracle


def test_cc_logs_path_taken(spark, caplog):
    """One INFO line per call names the input size, the path (driver
    finish at iteration i, or star rounds), the star iterations run and
    convergence; a graph that contracts below the threshold after one
    round finishes on the driver and still labels self-loop-only nodes."""
    import logging

    edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(63)] + [("zz", "zz")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with caplog.at_level(logging.INFO, logger="sassy_spark.operators.cluster"):
        connected_components(df).collect()
        connected_components(df, small_graph_threshold=0).collect()
        mid = {
            r["url"]: r["cluster_id"]
            for r in connected_components(df, small_graph_threshold=63).collect()
        }
        with pytest.raises(RuntimeError):
            connected_components(df, max_iter=1, small_graph_threshold=0)
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == "sassy_spark.operators.cluster"
    ]
    head = "connected_components: 64 input edges, "
    assert msgs[0] == head + (
        "driver finish at iteration 0, 0 star iterations run, converged=True"
    )
    assert re.fullmatch(
        re.escape(head) + r"star rounds, \d+ star iterations run, converged=True",
        msgs[1],
    ), msgs
    assert msgs[2] == head + (
        "driver finish at iteration 1, 1 star iterations run, converged=True"
    )
    assert msgs[3] == head + "star rounds, 1 star iterations run, converged=False"
    assert mid == {**{f"p{i:02d}": "p00" for i in range(64)}, "zz": "zz"}


def test_resolve_entities_driver_labels_broadcast(spark, tmp_path):
    """On a driver-sized match graph the labels are a local relation that
    the page join broadcasts: no sort-merge join and no aggregate of the
    distributed star labeling remain in the executed plan."""
    from sassy_spark.operators.cluster import resolve_entities

    path = str(tmp_path / "pages")
    spark.createDataFrame([(f"u{i}",) for i in range(8)], ["url"]).write.parquet(path)
    matches = spark.createDataFrame(
        [("u0", "u1", True), ("u2", "u1", True), ("u3", "u4", False), ("u6", "u5", True)],
        ["url_a", "url_b", "is_match"],
    )
    ents = resolve_entities(spark.read.parquet(path), matches)
    got = dict(ents.collect())
    assert got == {
        "u0": "u0", "u1": "u0", "u2": "u0", "u3": "u3",
        "u4": "u4", "u5": "u5", "u6": "u5", "u7": "u7",
    }
    plan = ents._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan, plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan, plan


def test_label_propagation_bounded_hops(spark):
    from sassy_spark.operators.cluster import label_propagation

    # path 1-2-3-4-5-6 plus a triangle 10-11-12: after k=2 rounds a
    # vertex's label is the min id within graph distance <= 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12)],
        ["src", "dst"],
    )
    got = {
        r["vertex"]: r["label"]
        for r in label_propagation(edges, iterations=2).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,        # within 2 hops of vertex 1
        4: 2, 5: 3, 6: 4,        # min id exactly 2 hops back
        10: 10, 11: 10, 12: 10,  # triangle converges immediately
    }


def test_constraint_violations(spark):
    from sassy_spark.operators.cluster import constraint_violations

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        ["url", "cluster_id"],
    )
    cons = spark.createDataFrame(
        [
            ("a", "c"),   # violated: both in c1 (size 3)
            ("a", "d"),   # satisfied: different clusters
            ("d", "e"),   # violated: both in c2 (size 2)
            ("a", "zz"),  # endpoint unlabeled -> no row
        ],
        ["id_a", "id_b"],
    )
    got = {
        (r["id_a"], r["id_b"]): (r["cluster_id"], r["cluster_size"])
        for r in constraint_violations(labels, cons).collect()
    }
    assert got == {("a", "c"): ("c1", 3), ("d", "e"): ("c2", 2)}


def test_must_link_violations(spark):
    from sassy_spark.operators.cluster import must_link_violations

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        ["url", "cluster_id"],
    )
    cons = spark.createDataFrame(
        [
            ("a", "d"),   # violated: split across c1 / c2
            ("a", "b"),   # satisfied: same cluster
            ("e", "c"),   # violated: split across c2 / c1
            ("a", "zz"),  # endpoint unlabeled -> no row
        ],
        ["id_a", "id_b"],
    )
    got = {
        (r["id_a"], r["id_b"]): (r["cluster_a"], r["cluster_b"])
        for r in must_link_violations(labels, cons).collect()
    }
    assert got == {("a", "d"): ("c1", "c2"), ("e", "c"): ("c2", "c1")}


def test_constraint_violations_empty_constraints(spark):
    from sassy_spark.operators.cluster import constraint_violations

    labels = spark.createDataFrame([("a", "c1")], ["url", "cluster_id"])
    cons = spark.createDataFrame([], "id_a string, id_b string")
    assert constraint_violations(labels, cons).count() == 0


def test_majority_vote(spark):
    from sassy_spark.operators.cluster import majority_vote

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        ["url", "cluster_id"],
    )
    attrs = spark.createDataFrame(
        [
            ("a", "en"), ("b", "en"), ("c", "de"),   # c1: en wins 2-1
            ("d", "fr"), ("e", None),                 # c2: null doesn't vote
        ],
        ["url", "value"],
    )
    got = {
        r["cluster_id"]: (r["value"], r["votes"])
        for r in majority_vote(labels, attrs).collect()
    }
    assert got == {"c1": ("en", 2), "c2": ("fr", 1)}


def test_majority_vote_tie_breaks_ascending(spark):
    from sassy_spark.operators.cluster import majority_vote

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1")], ["url", "cluster_id"]
    )
    attrs = spark.createDataFrame(
        [("a", "fr"), ("b", "en")], ["url", "value"]
    )
    (row,) = majority_vote(labels, attrs).collect()
    assert (row["value"], row["votes"]) == ("en", 1)  # tie -> ascending


def test_priority_pick(spark):
    from sassy_spark.operators.cluster import priority_pick

    labels = spark.createDataFrame(
        [(1, "c1"), (2, "c1"), (3, "c1"), (4, "c2"), (5, "c2")],
        ["url", "cluster_id"],
    )
    attrs = spark.createDataFrame(
        [
            # c1: tier-1 tie between ids 2 and 3 -> ascending id -> 2
            (1, "en", 2), (2, "de", 1), (3, "fr", 1),
            # c2: the only non-null value wins regardless of tier
            (4, "zh", 5), (5, None, 0),
        ],
        ["url", "value", "priority"],
    )
    got = {
        r["cluster_id"]: (r["value"], r["picked_id"], r["priority"])
        for r in priority_pick(labels, attrs).collect()
    }
    assert got == {"c1": ("de", 2, 1), "c2": ("zh", 4, 5)}


def test_cluster_cohesion(spark):
    from sassy_spark.operators.cluster import cluster_cohesion

    # c1 = {1,2,3}: d(aaaa,aaab)=1 d(aaaa,abbb)=3 d(aaab,abbb)=2
    # c2 = singleton (below min_size), c3 = 9 members (above max_size)
    rows = [(1, "c1"), (2, "c1"), (3, "c1"), (4, "c2")]
    rows += [(10 + i, "c3") for i in range(9)]
    labels = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    recs = [(1, "aaaa"), (2, "aaab"), (3, "abbb"), (4, "zz")]
    recs += [(10 + i, "x") for i in range(9)]
    records = spark.createDataFrame(recs, ["doc_id", "text"])
    out = cluster_cohesion(
        labels, records, id_col="doc_id", k=64, min_size=2, max_size=8
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cluster_id"] == "c1"
    assert r["n_members"] == 3
    assert r["n_pairs"] == 3
    assert r["diameter"] == 3
    assert r["mean_cost_qmicros"] == (1_000_000 * 6) // 3


def test_edge_support_hand_pinned(spark):
    """Diamond + bridge + triangle: every support value hand-derived;
    the bridge is the only weak edge."""
    from sassy_spark.operators.cluster import edge_support

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4),
             (3, 10), (10, 11), (10, 12), (11, 12)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.src, r.dst): (r.support, r.is_weak_bridge)
           for r in edge_support(df).collect()}
    want = {(1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1,
            (3, 10): 0, (10, 11): 1, (10, 12): 1, (11, 12): 1}
    assert {k: v[0] for k, v in got.items()} == want
    assert [k for k, v in got.items() if v[1]] == [(3, 10)]


def test_edge_support_random_vs_bruteforce(spark):
    """Degree-ordered wedge counting equals the brute-force
    common-neighbor count on a random graph (incl. isolated edges)."""
    from sassy_spark.operators.cluster import edge_support

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2)))
                    for _ in range(120)})
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {(a, b): len(nbrs[a] & nbrs[b]) for a, b in edges}
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.src, r.dst): r.support
           for r in edge_support(df).collect()}
    assert got == want


def test_repair_weak_bridges_hand_pinned(spark):
    """Two triangles glued by a bridge split apart; an isolated edge
    dissolves into singletons; triangle membership is preserved."""
    from sassy_spark.operators.cluster import repair_weak_bridges

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6),
             (10, 11)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: (r.cluster_id, r.repaired_cluster_id)
           for r in repair_weak_bridges(df).collect()}
    assert got == {
        1: (1, 1), 2: (1, 1), 3: (1, 1),       # left triangle keeps 1
        4: (1, 4), 5: (1, 4), 6: (1, 4),       # right triangle splits
        10: (10, 10), 11: (10, 11),            # isolated edge dissolves
    }


def test_repair_weak_bridges_min_support_two(spark):
    """min_support=2 peels edges in only one triangle: the diamond's
    shared edge (2,3) has support 2 and survives; the rest (support 1)
    are cut, leaving {2,3} together and 1, 4 singletons."""
    from sassy_spark.operators.cluster import repair_weak_bridges

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: (r.cluster_id, r.repaired_cluster_id)
           for r in repair_weak_bridges(df, min_support=2).collect()}
    assert got == {1: (1, 1), 2: (1, 2), 3: (1, 2), 4: (1, 4)}


def _bfs_depths(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, seen = {}, set()
    for start in sorted(adj):
        if start in seen:
            continue
        seen.add(start)
        frontier, depth = [start], 0
        while frontier:
            for n in frontier:
                want[n] = (start, depth)
            depth += 1
            nxt = [m for n in frontier for m in adj[n] if m not in seen]
            for m in nxt:
                seen.add(m)
            frontier = list(dict.fromkeys(nxt))
        # dedupe preserves order; depth assignment above is layer-wise
    return want


def test_merge_chain_depth_star(spark):
    """Star with a leaf representative: the hub is depth 1, the other
    leaves depth 2 — pins genuine BFS, not chain arithmetic."""
    from sassy_spark.operators.cluster import merge_chain_depth

    df = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5)], ["src", "dst"])
    got = {r.node: (r.cluster_id, r.depth)
           for r in merge_chain_depth(df).collect()}
    assert got == {1: (1, 0), 5: (1, 1), 2: (1, 2), 3: (1, 2),
                   4: (1, 2)}


def test_merge_chain_depth_random_both_paths(spark):
    """Driver-BFS path and distributed min-label-flood path both equal
    python BFS on a random multi-component graph."""
    from sassy_spark.operators.cluster import merge_chain_depth

    rng = random.Random(11)
    edges = sorted({tuple(sorted(rng.sample(range(40), 2)))
                    for _ in range(45)})
    want = _bfs_depths(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {r.node: (r.cluster_id, r.depth)
               for r in merge_chain_depth(
                   df, small_graph_threshold=thresh).collect()}
        assert got == want, f"threshold={thresh}"


def _greedy_pivot(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out, clustered = {}, set()
    for v in sorted(adj):
        if v in clustered:
            continue
        clustered.add(v)
        out[v] = v
        for w in sorted(adj[v]):
            if w not in clustered:
                clustered.add(w)
                out[w] = v
    return out


def test_pivot_clustering_order_trap(spark):
    """The round-claiming trap: node 5 touches round-1 pivot 4 but
    belongs to the later, SMALLER pivot 3 — pinned on both paths."""
    from sassy_spark.operators.cluster import pivot_clustering

    edges = [(1, 2), (2, 3), (3, 5), (4, 5)]
    want = {1: 1, 2: 1, 3: 3, 5: 3, 4: 4}
    df = spark.createDataFrame(edges, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {r.node: r.cluster_id
               for r in pivot_clustering(
                   df, small_graph_threshold=thresh).collect()}
        assert got == want, f"threshold={thresh}"


def test_pivot_clustering_random_vs_greedy(spark):
    """Both paths equal the sequential Ailon-Charikar-Newman greedy on
    a random graph (multi-component, isolated edges, dense blobs)."""
    from sassy_spark.operators.cluster import pivot_clustering

    rng = random.Random(23)
    edges = sorted({tuple(sorted(rng.sample(range(36), 2)))
                    for _ in range(60)})
    want = _greedy_pivot(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {r.node: r.cluster_id
               for r in pivot_clustering(
                   df, small_graph_threshold=thresh).collect()}
        assert got == want, f"threshold={thresh}"


def test_pivot_clustering_does_not_chain(spark):
    """On a path 1-2-3-4-5-6 pivot clustering yields PAIRS while CC
    yields one chained component — the semantic difference that makes
    it the over-merge-resistant alternative."""
    from sassy_spark.operators.cluster import (
        connected_components,
        pivot_clustering,
    )

    edges = [(i, i + 1) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    piv = {r.node: r.cluster_id for r in pivot_clustering(df).collect()}
    assert piv == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5}
    cc = {r.cluster_id for r in connected_components(df).collect()}
    assert cc == {1}


def _greedy_canopy(tight, loose):
    """Independent sequential MNU canopy reference: smallest-id center,
    loose-neighbors join the canopy, tight-neighbors leave the pool."""
    tadj, ladj = {}, {}
    for a, b in loose:
        ladj.setdefault(a, set()).add(b)
        ladj.setdefault(b, set()).add(a)
    for a, b in tight:
        tadj.setdefault(a, set()).add(b)
        tadj.setdefault(b, set()).add(a)
    pool = set(ladj) | set(tadj)
    out = set()
    for v in sorted(set(ladj) | set(tadj)):
        if v not in pool:
            continue
        out.add((v, v))
        for w in ladj.get(v, ()):
            out.add((v, w))
        pool.discard(v)
        pool -= tadj.get(v, set())
    return out


def test_canopy_overlap_and_center_removal(spark):
    """The defining canopy behaviors on a hand case: (a) a point in two
    canopies (loose overlap), (b) a tight-neighbor of an earlier center
    never becomes a center itself."""
    from sassy_spark.operators.cluster import canopy_blocks

    # tight: 1-2; loose adds 2-3 and 3-4.
    tight = [(1, 2)]
    loose = [(1, 2), (2, 3), (3, 4)]
    want = {(1, 1), (1, 2),          # center 1 covers itself + loose nbr 2
            (3, 3), (3, 2), (3, 4),  # 2 is NOT a center (tight nbr of 1)
            (4, 4), (4, 3)}          # but 2 still lands in canopy 3
    tdf = spark.createDataFrame(tight, ["src", "dst"])
    ldf = spark.createDataFrame(loose, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {(r.center, r.member)
               for r in canopy_blocks(
                   tdf, ldf, small_graph_threshold=thresh).collect()}
        assert got == want, f"threshold={thresh}"


def test_canopy_random_vs_greedy(spark):
    """Both paths equal the sequential greedy on a random graph where
    tight is a strict random subset of loose (the MNU precondition)."""
    from sassy_spark.operators.cluster import canopy_blocks

    rng = random.Random(31)
    loose = sorted({tuple(sorted(rng.sample(range(40), 2)))
                    for _ in range(80)})
    tight = [e for e in loose if rng.random() < 0.45]
    want = _greedy_canopy(tight, loose)
    tdf = spark.createDataFrame(tight, ["src", "dst"])
    ldf = spark.createDataFrame(loose, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {(r.center, r.member)
               for r in canopy_blocks(
                   tdf, ldf, small_graph_threshold=thresh).collect()}
        assert got == want, f"threshold={thresh}"


def test_canopy_no_tight_edges_every_point_is_a_center(spark):
    from sassy_spark.operators.cluster import canopy_blocks

    loose = [(1, 2), (2, 3)]
    tdf = spark.createDataFrame([], "src long, dst long")
    ldf = spark.createDataFrame(loose, ["src", "dst"])
    for thresh in (100_000, 0):
        got = {(r.center, r.member)
               for r in canopy_blocks(
                   tdf, ldf, small_graph_threshold=thresh).collect()}
        assert got == {(1, 1), (1, 2), (2, 2), (2, 1), (2, 3),
                       (3, 3), (3, 2)}, f"threshold={thresh}"


def test_progressive_resolution_nested_tiers(spark):
    """Best-first admission on a hand-built graph: at budget 2 only
    the two top edges (one chain of 3 nodes... actually two disjoint
    edges) resolve; at 4 the bridge edge merges them; tiers nested by
    the (score desc, src, dst) total order."""
    from sassy_spark.operators.cluster import progressive_resolution

    edges = spark.createDataFrame(
        [
            (1, 2, 900),
            (3, 4, 850),
            (2, 3, 700),   # bridge admitted at budget 3
            (10, 11, 600),
        ],
        ["src", "dst", "score"],
    )
    got = {
        r.budget: (
            r.n_edges_used,
            r.n_entities,
            r.largest_entity,
            r.n_records_touched,
        )
        for r in progressive_resolution(edges, [2, 3, 4]).collect()
    }
    assert got == {
        2: (2, 2, 2, 4),   # {1,2} {3,4}
        3: (3, 1, 4, 4),   # bridge merges into {1,2,3,4}
        4: (4, 2, 4, 6),   # plus {10,11}
    }


def test_swoosh_resolve_icar_fixpoint(spark):
    """R-Swoosh with share-a-value match + union merge: transitive
    merges through DIFFERENT columns (1~2 via phone, 2~3 via email)
    collapse into one golden record with the full value union; stop
    features (max_df) break over-common values; all-null records stay
    singletons."""
    from sassy_spark.operators.cluster import swoosh_resolve

    rows = [
        (1, "555-0100", None),
        (2, "555-0100", "a@x.com"),
        (3, None, "a@x.com"),
        (4, "555-0199", "b@y.com"),
        (5, None, None),               # singleton: no features
        (6, "COMMON", None),           # COMMON shared by 3 records:
        (7, "COMMON", None),           # dropped at max_df=2
        (8, "COMMON", "c@z.com"),
    ]
    df = spark.createDataFrame(rows, ["id", "phone", "email"])
    got = {
        r.entity_id: (r.n_records, r.phone_values, r.email_values)
        for r in swoosh_resolve(
            df, "id", ["phone", "email"], max_df=2
        ).collect()
    }
    assert got == {
        1: (3, "555-0100", "a@x.com"),
        4: (1, "555-0199", "b@y.com"),
        5: (1, "", ""),
        6: (1, "COMMON", ""),
        7: (1, "COMMON", ""),
        8: (1, "COMMON", "c@z.com"),
    }
    # without the cap, COMMON glues 6/7/8 together (order-independent
    # fixpoint: same result regardless of record order)
    got2 = {
        r.entity_id: (r.n_records, r.email_values)
        for r in swoosh_resolve(df, "id", ["phone", "email"]).collect()
    }
    assert got2[6] == (3, "c@z.com")


def test_swoosh_resolve_matches_reference_union_find(spark):
    """Randomized pin for the hashed feature-node encoding (round 6):
    swoosh_resolve's entity grouping must equal a driver union-find
    over the EXACT string features — hashing the feature nodes may not
    change any grouping or emitted value."""
    import random

    from sassy_spark.operators.cluster import swoosh_resolve

    rng = random.Random(606)
    rows = []
    for i in range(200):
        phone = f"555-{rng.randrange(40):04d}" if rng.random() < 0.8 else None
        email = f"u{rng.randrange(60)}@x.com" if rng.random() < 0.7 else None
        rows.append((i, phone, email))
    df = spark.createDataFrame(rows, ["id", "phone", "email"])

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_feat = {}
    for i, phone, email in rows:
        for col, v in (("phone", phone), ("email", email)):
            if v is not None:
                by_feat.setdefault((col, v), []).append(i)
    for members in by_feat.values():
        for m in members[1:]:
            union(members[0], m)
    comps = {}
    for i, _, _ in rows:
        comps.setdefault(find(i), []).append(i)
    want = {}
    for members in comps.values():
        eid = min(members)
        phones = sorted({p for i, p, _ in rows if i in set(members) and p})
        emails = sorted({e for i, _, e in rows if i in set(members) and e})
        want[eid] = (len(members), "|".join(phones), "|".join(emails))

    got = {
        r.entity_id: (r.n_records, r.phone_values, r.email_values)
        for r in swoosh_resolve(df, "id", ["phone", "email"]).collect()
    }
    assert got == want
