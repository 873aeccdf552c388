"""DataFrame-level search operator: sassy search/search_all/filter
semantics (golden cases from the reference's test shapes, SURVEY §5.1)."""

import pytest
from pyspark.sql import functions as F

from sassy_spark.operators.search import filter_matching, search


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        ("t1", "xxxneedlexxx"),
        ("t2", "the neXdle is here and the needle too"),
        ("t3", "nothing to see"),
        ("t4", "needle"),
    ]
    return spark.createDataFrame(rows, ["text_id", "text"])


@pytest.fixture(scope="module")
def patterns(spark):
    return spark.createDataFrame([("p1", "needle")], ["pat_id", "pattern"])


def test_search_exact(spark, patterns, texts):
    m = search(patterns, texts, k=0, mode="all").collect()
    got = {(r.text_id, r.end, r.cost) for r in m}
    assert ("t1", 9, 0) in got
    assert ("t4", 6, 0) in got
    assert ("t2", 33, 0) in got
    assert all(r.cost == 0 for r in m)
    # match_region must reproduce the pattern for exact matches
    assert all(r.match_region == "needle" for r in m)


def test_search_k1_finds_substitution(spark, patterns, texts):
    m = search(patterns, texts, k=1, mode="local_minima")
    t2 = [r for r in m.collect() if r.text_id == "t2"]
    costs = sorted(r.cost for r in t2)
    assert costs[0] == 0  # exact 'needle'
    assert 1 in costs  # 'neXdle'


def test_without_trace_schema(spark, patterns, texts):
    m = search(patterns, texts, k=1, with_trace=False)
    rows = m.collect()
    assert all(r.start is None and r.cigar is None for r in rows)
    assert len(rows) > 0


def test_filter_matching_semi_and_anti(spark, patterns, texts):
    m = search(patterns, texts, k=1)
    keep = filter_matching(texts, m)
    drop = filter_matching(texts, m, invert=True)
    assert {r.text_id for r in keep.collect()} == {"t1", "t2", "t4"}
    assert {r.text_id for r in drop.collect()} == {"t3"}


def test_best_match_per_pair(spark, patterns, texts):
    b = search(patterns, texts, k=1, mode="best").collect()
    rows = {r.text_id: (r.cost, r.end) for r in b}
    assert len(rows) == len(b)  # one best match per (pattern, text)
    assert rows["t1"] == (0, 9)
    # t2: best cost 0; rightmost best end = the exact needle at 31
    assert rows["t2"] == (0, 33)


def test_case_insensitive(spark):
    pats = spark.createDataFrame([("p", "NeEdLe")], ["pat_id", "pattern"])
    txts = spark.createDataFrame([("t", "xxNEEDLExx")], ["text_id", "text"])
    assert search(pats, txts, k=0, case_sensitive=False).count() == 1
    assert search(pats, txts, k=0, case_sensitive=True).count() == 0


def test_rc_search(spark):
    pats = spark.createDataFrame([("g1", "ACGTT")], ["pat_id", "pattern"])
    txts = spark.createDataFrame(
        [("t1", "ccccAACGTcccc")], ["text_id", "text"]  # revcomp(ACGTT)=AACGT
    )
    fwd_only = search(pats, txts, k=0, mode="all")
    assert fwd_only.count() == 0
    both = search(pats, txts, k=0, mode="all", rc=True)
    rows = both.collect()
    assert len(rows) == 1
    assert rows[0].strand == "-"
    assert rows[0].match_region == "AACGT"


def test_end_filter_semantics(spark, patterns, texts):
    """K8 search_with_fn as a DataFrame operator: only end positions whose
    text prefix satisfies the predicate are emitted (reference
    src/search.rs:767-784, the PAM filter bin/crispr.rs:198-221)."""
    m = search(
        patterns,
        texts,
        k=1,
        mode="all",
        end_filter=lambda pat, prefix, strand: prefix.endswith("dle"),
    ).collect()
    assert len(m) > 0
    assert all(r.match_region.endswith("dle") for r in m)
    m_all = search(patterns, texts, k=1, mode="all").collect()
    assert len(m_all) > len(m)


def test_end_filter_skips_traceback(monkeypatch):
    """The predicate runs BEFORE traceback and provably skips it — driven
    in-process through the module-level runner so the traceback counter
    is observable (Spark workers are separate processes)."""
    import pandas as pd

    import sassy_spark.operators.search as search_mod

    calls = {"n": 0}
    real_tb = search_mod.myers.traceback_batch

    def counting_tb(patterns, texts, ends, costs, **kw):
        # count MATCHES traced, not calls: traceback is batch-vectorized
        # (one traceback_batch call per Arrow chunk covers every
        # surviving end), so the skip property is "ends dropped by the
        # filter never enter the batch"
        calls["n"] += len(ends)
        return real_tb(patterns, texts, ends, costs, **kw)

    monkeypatch.setattr(search_mod.myers, "traceback_batch", counting_tb)
    pdf = pd.DataFrame(
        {
            "text_id": ["t1", "t2"],
            "text": ["xxxneedlexxx needle", "neXdle and needle here"],
        }
    )

    def run_with(end_filter):
        calls["n"] = 0
        runner = search_mod._make_runner(
            lambda: [("p1", "needle", "+")],
            k=1,
            mode="all",
            with_trace=True,
            alpha=None,
            max_overhang=None,
            end_filter=end_filter,
            text_id="text_id",
            text="text",
        )
        out = pd.concat(list(runner(iter([pdf]))))
        return out, calls["n"]

    out_all, n_all = run_with(None)
    assert n_all == len(out_all) > 0
    out_f, n_f = run_with(lambda pat, prefix, strand: prefix.endswith("dle"))
    assert len(out_f) < len(out_all)
    assert n_f == len(out_f)  # traceback ran ONLY for surviving ends


def test_all_alignments_mode(spark):
    """K7 search_all_alignments: one row per distinct "reasonable"
    alignment with cost <= k per end position (the reference's bounded
    sub-optimal enumeration, src/search.rs:708-754); on this input every
    survivor is cost-minimal, so the pinned rows double as a regression
    pin for the inefficiency filters (kernel parity is pinned separately
    in tests/test_all_alignments_within_k.py)."""
    pats = spark.createDataFrame([("p", "aa")], ["pat_id", "pattern"])
    txts = spark.createDataFrame([("t", "aba")], ["text_id", "text"])
    rows = search(pats, txts, k=1, mode="all_alignments").collect()
    by_end = {}
    for r in rows:
        by_end.setdefault(r.end, []).append((r.start, r.cigar))
    # end=3 has the three distinct optimal starts (one with two cigars)
    assert sorted(by_end[3]) == [
        (0, "1=1D1="),
        (1, "1X1="),
        (2, "1=1I"),
        (2, "1I1="),
    ]
    # K5 ⊆ K6 = K7-ends consistency
    all_ends = {
        r.end
        for r in search(pats, txts, k=1, mode="all").collect()
    }
    assert set(by_end) == all_ends


def test_all_alignments_combinatorial_count(spark):
    """K7 enumeration parity pin, the reference's own closed-form case
    (src/search.rs:1841-1853): pattern 'a'*8 vs text 'a'*5 at k=3 has
    exactly C(8,3) = 56 alignments — choose which 3 of the 8 pattern
    chars are unaligned insertions. All 56 are cost-minimal (cost 3 =
    the length difference, only end=5 reaches cost <= k), so the
    optimal-only enumerator and the reference-parity bounded enumerator
    (wired into mode='all_alignments'; full rule-level parity pinned in
    tests/test_all_alignments_within_k.py) agree here."""
    import math

    from sassy_spark.kernel.myers import all_optimal_tracebacks

    paths = all_optimal_tracebacks("a" * 8, "a" * 5, end=5, cost=3, max_paths=200)
    assert len(paths) == math.comb(8, 3) == 56
    assert len(set(paths)) == 56  # all distinct (start, cigar)
    assert all(s == 0 for s, _ in paths)

    # same count through the operator surface (mode='all_alignments');
    # max_paths default 64 > 56 so the cap does not bind
    pats = spark.createDataFrame([("p", "a" * 8)], ["pat_id", "pattern"])
    txts = spark.createDataFrame([("t", "a" * 5)], ["text_id", "text"])
    rows = search(pats, txts, k=3, mode="all_alignments").collect()
    assert len(rows) == 56
    assert {(r.cost, r.end) for r in rows} == {(3, 5)}
    assert len({r.cigar for r in rows}) == 56


def test_nonascii_offsets_and_region(spark):
    """Byte/char offset regression: start/end must be CHARACTER offsets for
    non-ASCII text (round-1 VERDICT bug: str sliced by byte offsets)."""
    pats = spark.createDataFrame([("p", "táblé")], ["pat_id", "pattern"])
    txts = spark.createDataFrame(
        [("t", "ümläut täxt táblé end táblé")], ["text_id", "text"]
    )
    rows = search(pats, txts, k=0, mode="all").collect()
    got = sorted((r.start, r.end, r.match_region) for r in rows)
    assert got == [(12, 17, "táblé"), (22, 27, "táblé")]


def test_overhang_alpha_operator(spark):
    """K12: pattern hanging over a text end costs floor(alpha*overhang)."""
    pats = spark.createDataFrame([("p", "worldxx")], ["pat_id", "pattern"])
    txts = spark.createDataFrame([("t", "helloworld")], ["text_id", "text"])
    assert search(pats, txts, k=1, mode="best").count() == 0
    rows = search(
        pats, txts, k=1, mode="best", alpha=0.5, with_trace=False
    ).collect()
    assert len(rows) == 1
    assert rows[0].cost == 1 and rows[0].end == 10


def test_pattern_cap(spark, texts):
    import sassy_spark.operators.search as search_mod

    many = spark.range(0, 12).select(
        F.col("id").cast("string").alias("pat_id"),
        F.lit("needle").alias("pattern"),
    )
    old = search_mod.MAX_PATTERNS
    search_mod.MAX_PATTERNS = 10
    try:
        with pytest.raises(ValueError, match="MAX_PATTERNS"):
            search(many, texts, k=0)
    finally:
        search_mod.MAX_PATTERNS = old


def test_iupac_profile_operator(spark):
    """IUPAC ambiguity search through the DataFrame operator: R matches A
    or G; N matches anything (reference src/profiles/iupac.rs)."""
    pats = spark.createDataFrame([("g", "ACGR")], ["pat_id", "pattern"])
    txts = spark.createDataFrame(
        [("t1", "xxACGAxx"), ("t2", "xxACGGxx"), ("t3", "xxACGCxx")],
        ["text_id", "text"],
    )
    rows = search(pats, txts, k=0, mode="all", profile="iupac").collect()
    assert {r.text_id for r in rows} == {"t1", "t2"}
    assert all(r.cigar == "4=" for r in rows)


def test_searcher_api_round2_verbs(spark):
    """Searcher constructor vocabulary matches the reference binding
    (alphabet profile, rc, alpha) and the round-2 verbs work."""
    from sassy_spark.api import Searcher

    s = Searcher(alphabet="iupac")
    pats = spark.createDataFrame([("g", "ACGR")], ["pat_id", "pattern"])
    txts = spark.createDataFrame([("t", "xxACGAxx")], ["text_id", "text"])
    assert s.search_all(pats, txts, k=0).count() == 1
    aln = Searcher().search_all_alignments(
        spark.createDataFrame([("p", "aa")], ["pat_id", "pattern"]),
        spark.createDataFrame([("t", "aba")], ["text_id", "text"]),
        k=1,
    )
    assert aln.count() >= 4
    wf = Searcher().search_with_fn(
        spark.createDataFrame([("p", "needle")], ["pat_id", "pattern"]),
        spark.createDataFrame([("t", "xxneedlexx")], ["text_id", "text"]),
        k=1,
        filter_fn=lambda pat, prefix, strand: prefix.endswith("le"),
    )
    assert wf.count() >= 1
    s_over = Searcher(alpha=0.5, with_trace=False)
    ov = s_over.search_best(
        spark.createDataFrame([("p", "worldxx")], ["pat_id", "pattern"]),
        spark.createDataFrame([("t", "helloworld")], ["text_id", "text"]),
        k=1,
    )
    assert ov.count() == 1


def test_write_matches_tsv_contract(spark, patterns, texts, tmp_path):
    """S5: the TSV sink reproduces the reference's output contract —
    tab-separated, headered, deterministic order."""
    from sassy_spark.operators.search import search, write_matches_tsv

    m = search(patterns, texts, k=0, mode="all")
    out = str(tmp_path / "matches")
    write_matches_tsv(m, out)
    import glob

    files = glob.glob(out + "/*.csv")
    assert files
    lines = []
    for fp in files:
        with open(fp) as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    header = [ln for ln in lines if ln.startswith("pat_id\t")]
    assert header and header[0].split("\t") == [
        "pat_id", "text_id", "cost", "strand", "start", "end",
        "match_region", "cigar",
    ]
    data = [ln for ln in lines if not ln.startswith("pat_id\t")]
    assert len(data) == m.count()
    assert all(ln.split("\t")[6] == "needle" for ln in data)


def test_crispr_search_pam_constraint(spark):
    """CRISPR verb (reference bin/crispr.rs): guide includes an NGG PAM;
    up to k edits allowed OUTSIDE the PAM, the PAM must match exactly
    (IUPAC: N matches any base)."""
    from sassy_spark.operators.search import crispr_search

    guide = "ACGTACGTACGTACGTACGT" + "NGG"  # 20bp protospacer + PAM
    guides = spark.createDataFrame([("g1", guide)], ["pat_id", "pattern"])
    target_ok = "ACGTACGTACGTACGTACGT" + "TGG"  # N->T, PAM intact
    target_edit = "ACGTACGAACGTACGTACGT" + "AGG"  # 1 edit outside PAM
    target_badpam = "ACGTACGTACGTACGTACGT" + "TTT"  # PAM destroyed
    texts = spark.createDataFrame(
        [
            ("ok", f"cccc{target_ok}cccc"),
            ("edit", f"cccc{target_edit}cccc"),
            ("badpam", f"cccc{target_badpam}cccc"),
        ],
        ["text_id", "text"],
    )
    m = crispr_search(guides, texts, k=1, rc=False)
    got = {r.text_id for r in m.collect()}
    assert "ok" in got and "edit" in got
    assert "badpam" not in got
    # allow_pam_edits admits the destroyed PAM within k... (k=1 edits on
    # the PAM only: TTT vs NGG = 2 edits -> still out at k=1, in at k=2)
    m2 = crispr_search(guides, texts, k=2, rc=False, allow_pam_edits=True)
    assert "badpam" in {r.text_id for r in m2.collect()}


def test_crispr_search_rc_strand_pam_at_start(spark):
    """On the '-' strand the PAM complement sits at the match START in
    text coordinates; the verify must check that end."""
    from sassy_spark.functions.text import reverse_complement_str
    from sassy_spark.operators.search import crispr_search

    guide = "ACGTACGTACGTACGTACGT" + "TGG"
    target = reverse_complement_str("ACGTACGTACGTACGTACGT" + "TGG")
    bad = reverse_complement_str("ACGTACGTACGTACGTACGT" + "TTT")
    guides = spark.createDataFrame([("g1", guide)], ["pat_id", "pattern"])
    texts = spark.createDataFrame(
        [("rc_ok", f"aaaa{target}aaaa"), ("rc_bad", f"aaaa{bad}aaaa")],
        ["text_id", "text"],
    )
    m = crispr_search(guides, texts, k=0, rc=True)
    rows = m.collect()
    assert {r.text_id for r in rows} == {"rc_ok"}
    assert all(r.strand == "-" for r in rows)


def test_crispr_max_n_frac(spark):
    from sassy_spark.operators.search import crispr_search

    guide = "ACGTACGTACGTACGTACGT" + "NGG"
    guides = spark.createDataFrame([("g1", guide)], ["pat_id", "pattern"])
    noisy = "ACGNNNNNACGTACGTACGT" + "TGG"  # 5 Ns in target region
    texts = spark.createDataFrame(
        [("noisy", f"cc{noisy}cc")], ["text_id", "text"]
    )
    # N matches anything under IUPAC, so the hit exists at k=0...
    assert crispr_search(guides, texts, k=0, rc=False).count() == 1
    # ...but the N-fraction gate drops it (5/23 ≈ 0.22 > 0.1)
    assert (
        crispr_search(guides, texts, k=0, rc=False, max_n_frac=0.1).count()
        == 0
    )


def test_case_insensitive_reports_original_region(spark):
    """Case-insensitive search matches on folded text but reports the
    document's ACTUAL bytes (reference Ascii<false> semantics)."""
    pats = spark.createDataFrame([("p", "needle")], ["pat_id", "pattern"])
    txts = spark.createDataFrame(
        [("t", "The NeEdLe here")], ["text_id", "text"]
    )
    rows = search(pats, txts, k=0, case_sensitive=False).collect()
    assert len(rows) == 1
    assert rows[0].match_region == "NeEdLe"
    assert (rows[0].start, rows[0].end) == (4, 10)


def test_crispr_nonN_iupac_pam(spark):
    """Cas12a-style TTTV PAM (V = A/C/G): ambiguity codes other than N
    must be honored by the PAM verify on BOTH strands (round-2 review
    bug: the relational check treated only N as a wildcard)."""
    from sassy_spark.functions.text import reverse_complement_str
    from sassy_spark.operators.search import crispr_search

    guide = "ACGTACGTACGTACGTACGT" + "TTTV"
    guides = spark.createDataFrame([("g1", guide)], ["pat_id", "pattern"])
    ok_fwd = "ACGTACGTACGTACGTACGT" + "TTTA"  # V ~ A
    bad_fwd = "ACGTACGTACGTACGTACGT" + "TTTT"  # V !~ T
    ok_rc = reverse_complement_str("ACGTACGTACGTACGTACGT" + "TTTC")  # V ~ C
    texts = spark.createDataFrame(
        [
            ("okf", f"cc{ok_fwd}cc"),
            ("badf", f"cc{bad_fwd}cc"),
            ("okr", f"cc{ok_rc}cc"),
        ],
        ["text_id", "text"],
    )
    got = {
        (r.text_id, r.strand)
        for r in crispr_search(guides, texts, k=0, rc=True).collect()
    }
    assert ("okf", "+") in got
    assert ("okr", "-") in got
    assert all(t != "badf" for t, _ in got)


def test_exact_fast_path_matches_kernel(spark):
    """The k=0/mode='all' JVM fast path must emit byte-identical rows to
    the kernel runner — including non-ASCII character offsets, overlap
    handling, rc strands, and both with_trace settings. The kernel path
    is forced with an always-true end_filter (which disables the fast
    path but filters nothing)."""
    rows = [
        ("t1", "xxneedlexx needle"),
        ("t2", "aaaa"),             # overlapping occurrences of 'aa'
        ("t3", "tátá ne tátá"),     # non-ASCII: char offsets != bytes
        ("t4", ""),
        ("t5", "short"),
        ("t6", "attaat"),           # rc overlap: atta + taat share chars
    ]
    texts = spark.createDataFrame(rows, ["text_id", "text"])
    pats = spark.createDataFrame(
        [("p1", "needle"), ("p2", "aa"), ("p3", "tá")],
        ["pat_id", "pattern"],
    )

    def rowset(df):
        return sorted(
            (r.pat_id, r.text_id, r.cost, r.strand, r.start, r.end,
             r.match_region, r.cigar)
            for r in df.collect()
        )

    for with_trace in (True, False):
        fast = search(pats, texts, k=0, mode="all", with_trace=with_trace)
        slow = search(
            pats, texts, k=0, mode="all", with_trace=with_trace,
            end_filter=lambda p, t, s: True,
        )
        assert "BatchEvalPython" not in fast._sc._jvm.PythonSQLUtils.explainString(
            fast._jdf.queryExecution(), "simple"
        )
        assert rowset(fast) == rowset(slow)

    dna_pats = spark.createDataFrame([("p1", "atta")], ["pat_id", "pattern"])
    fast = search(dna_pats, texts, k=0, mode="all", rc=True, with_trace=True)
    slow = search(
        dna_pats, texts, k=0, mode="all", rc=True, with_trace=True,
        end_filter=lambda p, t, s: True,
    )
    assert rowset(fast) == rowset(slow)
    assert {r.strand for r in fast.collect()} == {"+", "-"}
