"""Dedup operator family: exact, minhash-LSH, simhash, fingerprint,
embedding cosine — verified on constructed corpora with known duplicates."""

import pytest
from pyspark.sql import functions as F

from sassy_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest while the rain falls softly on the leaves"
    )
    near = base.replace("quick", "quik").replace("rain", "snow")
    far = (
        "completely different content about databases and distributed "
        "query engines running aggregations over columnar storage files"
    )
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, far),
        (5, far + " extra trailing words here"),  # near dup of 4
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dups always collide
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert all(a < b for a, b in got)


def test_minhash_gate_fused_matches_join_formulation(spark):
    """The one-shuffle gate (groupBy collect_list + in-array pair
    expansion) must emit EXACTLY the candidate set of a plain-Python
    oracle over the same (id, bucket) rows — same buckets, same cap,
    same est-filter — on a corpus with planted near-dup clusters large
    enough to exercise multi-member buckets."""
    import itertools
    from collections import defaultdict

    base = (
        "shared boilerplate paragraph that every page in this cluster "
        "repeats almost verbatim with small local edits sprinkled in"
    )
    rows = [(i, base + f" variant {i % 4}") for i in range(24)]
    rows += [(100 + i, f"unique page number {i} with its own words") for i in range(6)]
    docs2 = spark.createDataFrame(rows, ["doc_id", "text"])

    n_hashes, bands = 128, 16
    rpb = n_hashes // bands
    sigs = dedup.minhash_signatures(docs2).cache()
    sig = {r.id: r.sig for r in sigs.collect()}
    buckets = defaultdict(list)
    for r in sigs.select(
        "id",
        F.explode(F.array(*[
            F.xxhash64(F.lit(bi), F.slice("sig", bi * rpb + 1, rpb))
            for bi in range(bands)
        ])).alias("bucket"),
    ).collect():
        buckets[r.bucket].append(r.id)
    sigs.unpersist()

    def oracle(jaccard_threshold, est_margin, max_block_size=512):
        out = set()
        for ids in buckets.values():
            if len(ids) > max_block_size:
                continue
            for x, y in itertools.combinations(sorted(ids), 2):
                agree = sum(a == b for a, b in zip(sig[x], sig[y]))
                if x < y and agree / n_hashes >= jaccard_threshold - est_margin:
                    out.add((x, y))
        return out

    kw = dict(jaccard_threshold=0.4, est_margin=0.2)
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs2, **kw).collect()
    }
    assert got == oracle(**kw)
    assert got  # non-vacuous: the planted cluster must collide
    assert all(a < b for a, b in got)
    # cap semantics: a cap small enough to drop the big cluster's
    # buckets must drop exactly those
    kw_cap = dict(jaccard_threshold=0.4, est_margin=0.2, max_block_size=3)
    got_c = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs2, **kw_cap).collect()
    }
    assert got_c == oracle(**kw_cap)
    assert got_c < got


def test_ngram_jaccard_values(docs, spark):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    j = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_verify(pairs, docs).collect()}
    assert j[(1, 2)] == 1.0
    assert j[(1, 4)] < 0.3


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=12)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    hams = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert hams[(1, 2)] == 0


def test_fingerprint_overlap(docs):
    pairs = dedup.fingerprint_overlap_pairs(docs, min_shared=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (4, 5) in got  # containment (prefix copy) detected


def test_embedding_near_dup(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    v1 = rng.standard_normal(16)
    v2 = v1 + rng.standard_normal(16) * 0.01  # near dup
    v3 = rng.standard_normal(16)
    rows = [
        (1, [float(x) for x in v1]),
        (2, [float(x) for x in v2]),
        (3, [float(x) for x in v3]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.98, n_planes=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_no_persisted_rdds_left_behind(docs, spark):
    """Round-2 VERDICT 'What's wrong' #2: the near-dup operators used to
    persist intermediates and never release them. Each call must now
    leave executor storage exactly as it found it (multi-consumer
    intermediates go through RAM-scratch parquet staging instead)."""
    import numpy as np

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persisted()  # the docs fixture itself is cached
    dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    assert n_persisted() == base
    dedup.simhash_pairs(docs, max_hamming=12).collect()
    assert n_persisted() == base
    dedup.fingerprint_overlap_pairs(docs, min_shared=3).collect()
    assert n_persisted() == base
    pairs = docs.sparkSession.createDataFrame([(1, 2)], ["id_a", "id_b"])
    dedup.ngram_jaccard_verify(pairs, docs).collect()
    assert n_persisted() == base
    rng = np.random.default_rng(5)
    emb = docs.sparkSession.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(6)],
        ["vec_id", "embedding"],
    )
    dedup.embedding_near_dup_pairs(emb, threshold=0.5, n_planes=4).collect()
    assert n_persisted() == base


def test_minhash_signature_estimates_jaccard(docs, spark):
    """The signature-agreement fraction (the est pre-filter's statistic)
    tracks exact n-gram Jaccard within the documented sigma."""
    sigs = {r.id: list(r.sig) for r in dedup.minhash_signatures(docs).collect()}
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / len(sigs[1])
    agree_14 = sum(a == b for a, b in zip(sigs[1], sigs[4])) / len(sigs[1])
    assert agree_12 == 1.0          # identical docs -> identical sigs
    assert agree_14 < 0.3           # unrelated docs -> low agreement


def test_minhash_fused_gate_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate id values sharing a bucket must not emit (id, id)
    self-pairs from the gate's in-array pair expansion — block_pairs'
    strict key(a) < key(b) guard drops them."""
    text = "the same page text repeated under one id twice for this test"
    rows = [(7, text), (7, text), (9, text + " with a small local edit")]
    docs2 = spark.createDataFrame(rows, ["doc_id", "text"])
    cand = dedup.minhash_lsh_candidates(
        docs2, jaccard_threshold=0.4, est_margin=0.2
    )
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    assert all(a < b for a, b in got)
    assert (7, 9) in got


def test_normalize_url_chain(spark):
    from sassy_spark.functions.text import normalize_url

    cases = [
        # scheme/www/case/fragment noise all collapses
        ("HTTPS://WWW.Ex.COM/A/b/?utm_source=x&ref=r#frag", "ex.com/a/b?ref=r"),
        ("http://ex.com/a/b?ref=r", "ex.com/a/b?ref=r"),
        # tracking-only query disappears entirely, with its delimiters
        ("https://ex.com/p/?utm_a=1&utm_b=2", "ex.com/p"),
        ("ex.com/p?gclid=abc", "ex.com/p"),
        # mid-query removal tidies the double delimiter
        ("ex.com/p?a=1&fbclid=zz&b=2", "ex.com/p?a=1&b=2"),
        # bare host, trailing slashes
        ("https://ex.com/", "ex.com"),
        ("ex.com", "ex.com"),
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    bad = df.where(normalize_url(F.col("url")) != F.col("want")).collect()
    assert bad == [], [(r.url, r.want) for r in bad]


def test_canonical_url_groups(spark):
    from sassy_spark.operators.dedup import canonical_url_groups

    df = spark.createDataFrame(
        [
            (10, "https://www.ex.com/p?utm_x=1"),
            (11, "EX.com/p/"),
            (12, "http://ex.com/p"),
            (13, "ex.com/other"),
        ],
        ["doc_id", "url"],
    )
    got = {
        r.canon_url: (r.n_docs, r.first_doc)
        for r in canonical_url_groups(df).collect()
    }
    assert got["ex.com/p"] == (3, 10)
    assert got["ex.com/other"] == (1, 13)


def test_eval_decontaminate_flags_overlap(spark):
    from sassy_spark.operators.dedup import eval_decontaminate

    gram = "one two three four five"  # the 5-gram eval probe
    docs = spark.createDataFrame(
        [
            (1, "prefix words " + gram + " suffix words"),  # contains it
            (2, gram),  # exactly it
            (3, "one two three four six entirely different text here"),
            (4, "short doc"),  # < n tokens: zero row kept
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "held out eval question " + gram + " answer")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r for r in eval_decontaminate(docs, ev, n=5).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1].contaminated and got[1].n_eval_hits >= 1
    assert got[2].contaminated
    assert not got[3].contaminated
    assert got[4].n_eval_hits == 0 and not got[4].contaminated


def test_duplicate_paragraph_stats(spark):
    from sassy_spark.operators.dedup import duplicate_paragraph_stats

    shared = "this paragraph is copied verbatim across documents"
    docs = spark.createDataFrame(
        [
            (1, "unique alpha text\n\n" + shared + "\n\nunique beta"),
            (2, shared + "\n\nanother unique paragraph"),
            # same paragraph TWICE in one doc: df counts the doc once,
            # but both occurrences count in the per-doc totals
            (3, shared + "\n\n" + shared),
            (4, "no duplicates anywhere in this one"),
            (5, ""),  # no paragraphs: zero row kept
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r for r in duplicate_paragraph_stats(docs).collect()
    }
    assert got[1].n_paras == 3 and got[1].n_dup_paras == 1
    assert got[2].n_paras == 2 and got[2].n_dup_paras == 1
    assert got[3].n_paras == 2 and got[3].n_dup_paras == 2
    assert got[3].dup_char_frac == 1.0
    assert got[4].n_dup_paras == 0
    assert got[5].n_paras == 0 and got[5].dup_char_frac == 0.0
    frac1 = len(shared) / (len("unique alpha text") + len(shared) + len("unique beta"))
    assert abs(got[1].dup_char_frac - round(frac1, 6)) < 1e-9


def test_weighted_jaccard_pairs_hand_values(spark):
    from sassy_spark.operators.dedup import weighted_jaccard_pairs

    # corpus of 3 docs; df: x->2, y->1, z->3, q->1
    # weights (scale=1e6 div df): x=500000, y=1000000, z=333333, q=1000000
    toks = [
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "z"),
        (3, "z"), (3, "q"),
    ]
    # pair (1,2): inter {x,z} = 833333; W1 = 1833333, W2 = 833333
    #   union = 1833333 -> (1e6 * 833333) // 1833333 = 454545
    # pair (2,3): inter {z} = 333333; W3 = 1333333
    #   union = 833333 + 1333333 - 333333 = 1833333 -> 181818
    # pair (1,9): id 9 has no tokens -> union = W1, inter 0 -> 0
    pairs = [(1, 2), (2, 3), (1, 9)]
    got = {
        (r["id_a"], r["id_b"]): r["wj_qmicros"]
        for r in weighted_jaccard_pairs(
            spark.createDataFrame(pairs, ["id_a", "id_b"]),
            spark.createDataFrame(toks, ["id", "token"]),
        ).collect()
    }
    assert got == {
        (1, 2): (1_000_000 * 833_333) // 1_833_333,
        (2, 3): (1_000_000 * 333_333) // 1_833_333,
        (1, 9): 0,
    }


def test_weighted_jaccard_identical_docs_score_full(spark):
    from sassy_spark.operators.dedup import weighted_jaccard_pairs

    toks = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    got = weighted_jaccard_pairs(
        spark.createDataFrame([(1, 2)], ["id_a", "id_b"]),
        spark.createDataFrame(toks, ["id", "token"]),
    ).collect()
    assert got[0]["wj_qmicros"] == 1_000_000


def test_repeated_substring_spans_boilerplate(spark):
    """Planted boilerplate: a shared 12-char block inside otherwise
    unique texts is found as one maximal span in every carrier, with
    exact 1-based char offsets; unique docs report nothing; the
    hash-keyed path agrees with the literal-string path."""
    from sassy_spark.operators.dedup import repeated_substring_spans

    boiler = "LICENSE-BLOCK"  # 13 chars
    docs = [
        (1, "aaaa" + boiler + "zzzz"),          # span at 5..17
        (2, "bbbbbb" + boiler),                 # span at 7..19
        (3, "totally unique text here ok"),
        (4, "x" + boiler + "y" + "q" * 8),      # span at 2..14
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for key in ("text", "hash"):
        got = {
            r.doc_id: (r.span_start, r.span_end, r.span_len, r.n_windows)
            for r in repeated_substring_spans(
                df, min_len=13, key=key
            ).collect()
        }
        assert got == {
            1: (5, 17, 13, 1),
            2: (7, 19, 13, 1),
            4: (2, 14, 13, 1),
        }

    # longer shared run: two docs share a 16-char block -> with L=13
    # that is 4 consecutive covered windows merging into ONE span
    shared = "ABCDEFGHIJKLMNOP"
    df2 = spark.createDataFrame(
        [(1, "uu" + shared + "vv"), (2, shared + "ww")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_len, r.n_windows)
        for r in repeated_substring_spans(df2, min_len=13).collect()
    }
    assert got == {1: (3, 18, 16, 4), 2: (1, 16, 16, 4)}
    # doc shorter than L: no rows, no crash
    df3 = spark.createDataFrame([(1, "short"), (2, "short")], ["doc_id", "text"])
    assert repeated_substring_spans(df3, min_len=13).count() == 0
