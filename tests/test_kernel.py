"""Kernel correctness: bit-parallel numpy Myers vs textbook DP oracles.

Mirrors the reference repo's test strategy (golden tiny cases +
planted-mutation fuzz + cross-mode consistency; reference
src/search.rs:1760-1773,2605-2709)."""

import random

import numpy as np
import pytest

from sassy_spark.kernel import (
    edit_distances,
    local_minima,
    semiglobal_scores,
    semiglobal_search,
    traceback,
)

from reference_dp import levenshtein, semiglobal_costs

rng = random.Random(42)


def _rand_s(n, alpha="ACGT"):
    return "".join(rng.choice(alpha) for _ in range(n))


def _mutate(s: str, edits: int) -> str:
    s = list(s)
    for _ in range(edits):
        op = rng.choice("ids")
        pos = rng.randrange(len(s) + 1) if op == "i" else (
            rng.randrange(len(s)) if s else 0
        )
        if op == "i":
            s.insert(pos, rng.choice("ACGT"))
        elif op == "d" and s:
            del s[pos]
        elif s:
            s[pos] = rng.choice("ACGT")
    return "".join(s)


# ------------------------------------------------------------ global distance


def test_edit_distance_goldens():
    a = ["kitten", "", "abc", "abc", "same", "abcdefgh"]
    b = ["sitting", "xyz", "", "abc", "same", "abXdefh"]
    exp = [3, 3, 3, 0, 0, 2]
    got = edit_distances(a, b)
    assert got.tolist() == exp


def test_edit_distance_fuzz_small():
    pairs = []
    for _ in range(300):
        a = _rand_s(rng.randrange(0, 40))
        b = _mutate(a, rng.randrange(0, 6)) if rng.random() < 0.5 else _rand_s(
            rng.randrange(0, 40)
        )
        pairs.append((a, b))
    got = edit_distances([p[0] for p in pairs], [p[1] for p in pairs])
    for (a, b), g in zip(pairs, got):
        assert g == levenshtein(a, b), (a, b)


def test_edit_distance_fuzz_multiword():
    """Patterns > 64 chars exercise the multi-word (blocked) recurrence."""
    pairs = []
    for _ in range(60):
        a = _rand_s(rng.randrange(60, 300), alpha="abcdefgh ")
        b = _mutate(a, rng.randrange(0, 10))
        pairs.append((a, b))
    got = edit_distances([p[0] for p in pairs], [p[1] for p in pairs])
    for (a, b), g in zip(pairs, got):
        assert g == levenshtein(a, b)


def test_edit_distance_k_cutoff_exact_below_k():
    a = [_rand_s(500) for _ in range(20)]
    b = [_mutate(x, rng.randrange(0, 4)) for x in a] + []
    got = edit_distances(a, b, k=8)
    ref = [levenshtein(x, y) for x, y in zip(a, b)]
    for g, r in zip(got, ref):
        assert g == r


def test_edit_distance_k_cutoff_caps_above_k():
    a = [_rand_s(800)]
    b = [_rand_s(800)]
    got = edit_distances(a, b, k=5)
    assert got[0] >= 6  # either exact or capped at k+1, never under-reported
    assert got[0] == 6 or got[0] == levenshtein(a[0], b[0])


def test_unicode_char_semantics():
    """str inputs are measured in Unicode codepoints (SQL levenshtein
    semantics); bytes inputs stay byte-level (the reference's own unit)."""
    a = ["héllo wörld"]
    b = ["hello world"]
    got = edit_distances(a, b)
    assert got[0] == 2  # two single-char substitutions
    got_b = edit_distances([a[0].encode()], [b[0].encode()])
    assert got_b[0] == levenshtein(a[0].encode(), b[0].encode()) == 4


def test_unicode_search_offsets_are_char_offsets():
    pat = "táblé"
    text = "ümläut täxt táblé end táblé"
    res = semiglobal_search([pat], [text], k=0, mode="all")
    ends, costs = res[0]
    got = [text[e - 5 : e] for e in ends.tolist()]
    assert got == [pat, pat]
    assert ends.tolist() == [17, 27]
    s, cig = traceback(pat, text, int(ends[0]), 0)
    assert (s, cig) == (12, "5=")


# --------------------------------------------------------------- semi-global


def test_semiglobal_matches_dp_fuzz():
    pats, txts = [], []
    for _ in range(120):
        m = rng.randrange(1, 80)
        pats.append(_rand_s(m))
        txts.append(_rand_s(rng.randrange(1, 300)))
    smat, tlens = semiglobal_scores(pats, txts)
    for i in range(len(pats)):
        ref = semiglobal_costs(pats[i], txts[i])
        assert smat[i, : tlens[i]].tolist() == ref, i


def test_search_exact_match():
    """Reference golden shape: exact occurrence found with cost 0 at the
    right end position (cf. reference src/search.rs:1760-1773)."""
    res = semiglobal_search(["needle"], ["xxxneedlexxx"], k=0, mode="all")
    ends, costs = res[0]
    assert 9 in ends.tolist()
    assert all(c == 0 for c in costs)


def test_search_planted_fuzz():
    """Plant a mutated copy of the pattern; search must find a match with
    cost <= edits near the planted position (reference search_fuzz)."""
    for _ in range(60):
        m = rng.randrange(8, 48)
        pat = _rand_s(m)
        edits = rng.randrange(0, 4)
        planted = _mutate(pat, edits)
        pre = _rand_s(rng.randrange(0, 100))
        post = _rand_s(rng.randrange(0, 100))
        text = pre + planted + post
        res = semiglobal_search([pat], [text], k=edits, mode="all")
        ends, costs = res[0]
        assert len(ends) > 0
        want_end = len(pre) + len(planted)
        assert any(abs(int(e) - want_end) <= edits for e in ends)


def test_best_mode_rightmost_min():
    # two exact occurrences -> best picks the rightmost one
    res = semiglobal_search(["ab"], ["abxxab"], k=1, mode="best")
    ends, costs = res[0]
    assert ends.tolist() == [6]
    assert costs.tolist() == [0]


def test_local_minima_plateaus():
    costs = np.array([5, 3, 3, 3, 4, 2, 2, 5, 1], dtype=np.int32)
    got = local_minima(costs, k=4).tolist()
    # plateau of 3s -> rightmost idx 3; plateau of 2s -> idx 6; final 1 is
    # below k and a minimum at the right edge
    assert got == [3, 6, 8]


def test_local_minima_rejects_high_plateau():
    costs = np.array([1, 2, 2, 3], dtype=np.int32)
    assert local_minima(costs, k=3).tolist() == [0]


def test_modes_consistency():
    """all >= local_minima >= best, and all sets agree on best cost —
    the reference's cross-mode consistency oracle
    (src/search.rs:2004-2069)."""
    for _ in range(40):
        pat = _rand_s(rng.randrange(4, 30))
        txt = _rand_s(rng.randrange(20, 200))
        k = rng.randrange(0, 5)
        a = semiglobal_search([pat], [txt], k, mode="all")[0]
        lm = semiglobal_search([pat], [txt], k, mode="local_minima")[0]
        be = semiglobal_search([pat], [txt], k, mode="best")[0]
        set_a = set(a[0].tolist())
        assert set(lm[0].tolist()) <= set_a
        assert set(be[0].tolist()) <= set_a
        if len(a[0]):
            assert len(be[0]) == 1
            assert be[1][0] == a[1].min()


# ---------------------------------------------------------------- traceback


def test_traceback_exact():
    start, cigar = traceback("needle", "xxxneedlexxx", end=9, cost=0)
    assert start == 3
    assert cigar == "6="


def test_traceback_substitution():
    start, cigar = traceback("needle", "xxxneXdlexxx", end=9, cost=1)
    assert start == 3
    assert cigar == "2=1X3="


def test_traceback_cost_consistent_fuzz():
    for _ in range(40):
        pat = _rand_s(rng.randrange(4, 40))
        edits = rng.randrange(0, 4)
        planted = _mutate(pat, edits)
        pre = _rand_s(rng.randrange(0, 50))
        text = pre + planted + _rand_s(rng.randrange(0, 50))
        res = semiglobal_search([pat], [text], k=edits, mode="best")[0]
        if not len(res[0]):
            continue
        end, cost = int(res[0][0]), int(res[1][0])
        start, cigar = traceback(pat, text, end, cost)
        assert 0 <= start <= end
        # cigar ops must sum to the reported cost
        import re

        tot = 0
        for cnt, op in re.findall(r"(\d+)([=XID])", cigar):
            if op in "XID":
                tot += int(cnt)
        assert tot == cost


def test_traceback_batch_equals_single():
    """K11/B7: the batched trace fill must be bit-identical to the
    per-match traceback, across mixed pattern/text sizes, dense
    same-text batches, and profile classes."""
    from sassy_spark.kernel.myers import traceback_batch
    from sassy_spark.kernel.profiles import resolve_profile

    cases = []
    for _ in range(120):
        pat = _rand_s(rng.randrange(2, 30))
        text = _rand_s(rng.randrange(5, 120))
        res = semiglobal_search([pat], [text], k=rng.randrange(0, 5),
                                mode="all")[0]
        for e, c in zip(res[0].tolist(), res[1].tolist()):
            cases.append((pat, text, int(e), int(c)))
    # dense same-text tail: many end positions over one string
    pat = "abcabcabc"
    text = "abcabcabcxyz" * 40
    res = semiglobal_search([pat], [text], k=2, mode="all")[0]
    for e, c in zip(res[0].tolist(), res[1].tolist()):
        cases.append((pat, text, int(e), int(c)))
    assert len(cases) > 100
    ps, ts, es, cs = zip(*cases)
    batch = traceback_batch(list(ps), list(ts), list(es), list(cs))
    single = [traceback(p, t, e, c) for p, t, e, c in cases]
    assert batch == single

    classes = resolve_profile("iupac")
    dna_cases = []
    for _ in range(60):
        pat = "".join(rng.choice("ACGTN") for _ in range(rng.randrange(3, 20)))
        text = "".join(rng.choice("ACGT") for _ in range(rng.randrange(10, 80)))
        res = semiglobal_search([pat], [text], 2, mode="all",
                                classes=classes)[0]
        for e, c in zip(res[0].tolist(), res[1].tolist()):
            dna_cases.append((pat, text, int(e), int(c)))
    ps, ts, es, cs = zip(*dna_cases)
    batch = traceback_batch(list(ps), list(ts), list(es), list(cs),
                            classes=classes)
    single = [traceback(p, t, e, c, classes=classes) for p, t, e, c in dna_cases]
    assert batch == single


def test_traceback_batch_chunking():
    """max_cells chunking splits oversized batches without changing output."""
    from sassy_spark.kernel.myers import traceback_batch

    cases = []
    for _ in range(50):
        pat = _rand_s(rng.randrange(4, 24))
        text = _rand_s(rng.randrange(20, 100))
        res = semiglobal_search([pat], [text], k=2, mode="all")[0]
        for e, c in zip(res[0].tolist(), res[1].tolist()):
            cases.append((pat, text, int(e), int(c)))
    ps, ts, es, cs = zip(*cases)
    full = traceback_batch(list(ps), list(ts), list(es), list(cs))
    tiny = traceback_batch(list(ps), list(ts), list(es), list(cs),
                           max_cells=1024)
    assert full == tiny


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


# ------------------------------------------------- banded streaming search


def test_semiglobal_banded_matches_unbanded_long_patterns():
    """The streaming row-banded search must equal the unbanded full-matrix
    scan (mirrors the reference's early-row-termination equivalence,
    src/search.rs:1131-1162) — long multi-word patterns, small k, so the
    band actually excludes words."""
    from sassy_spark.kernel import semiglobal_scores, semiglobal_search
    from sassy_spark.kernel.myers import local_minima as lm

    for trial in range(25):
        m = rng.randrange(80, 400)
        pat = _rand_s(m, alpha="abcdef")
        edits = rng.randrange(0, 6)
        text = (
            _rand_s(rng.randrange(0, 200), alpha="abcdef")
            + _mutate(pat, edits)
            + _rand_s(rng.randrange(0, 200), alpha="abcdef")
        )
        k = max(edits, rng.randrange(0, 8))
        smat, tlens = semiglobal_scores([pat], [text])
        costs = smat[0, : tlens[0]]
        for mode in ("all", "local_minima", "best"):
            got = semiglobal_search([pat], [text], k, mode=mode)[0]
            if mode == "all":
                idx = np.nonzero(costs <= k)[0]
            elif mode == "local_minima":
                idx = lm(costs, k)
            else:
                if costs.min() > k:
                    idx = np.array([], dtype=np.int64)
                else:
                    c = costs.min()
                    idx = np.array([np.nonzero(costs == c)[0].max()])
            assert got[0].tolist() == (idx + 1).tolist(), (trial, mode)
            assert got[1].tolist() == costs[idx].tolist(), (trial, mode)


def test_semiglobal_streaming_minima_matches_array_minima_fuzz():
    from sassy_spark.kernel import semiglobal_scores, semiglobal_search
    from sassy_spark.kernel.myers import local_minima as lm

    pats, txts, ks = [], [], []
    for _ in range(150):
        pats.append(_rand_s(rng.randrange(1, 40)))
        txts.append(_rand_s(rng.randrange(1, 150)))
        ks.append(rng.randrange(0, 6))
    kmax = max(ks)
    smat, tlens = semiglobal_scores(pats, txts)
    got = semiglobal_search(pats, txts, kmax, mode="local_minima")
    for i in range(len(pats)):
        costs = smat[i, : tlens[i]]
        idx = lm(costs, kmax)
        assert got[i][0].tolist() == (idx + 1).tolist(), i
        assert got[i][1].tolist() == costs[idx].tolist(), i


# ------------------------------------------------------- overhang (alpha)


def test_overhang_matches_dp_oracle_fuzz():
    """alpha overhang scoring vs the plain DP oracle — reference K12
    semantics (src/search.rs:1694-1748: floor(alpha*overhang), capped)."""
    from sassy_spark.kernel import semiglobal_search
    from reference_dp import semiglobal_costs_overhang

    for trial in range(60):
        m = rng.randrange(1, 60)
        pat = _rand_s(m)
        text = _rand_s(rng.randrange(1, 120))
        alpha = rng.choice([0.0, 0.25, 0.5, 1.0])
        mo = rng.choice([None, 2, 8])
        k = rng.randrange(0, 8)
        ref = semiglobal_costs_overhang(pat, text, alpha, mo)
        got = semiglobal_search(
            [pat], [text], k, mode="all", alpha=alpha, max_overhang=mo
        )[0]
        want = [(j + 1, c) for j, c in enumerate(ref) if c <= k]
        assert list(zip(got[0].tolist(), got[1].tolist())) == want, (
            trial,
            pat,
            text,
            alpha,
            mo,
            k,
        )


def test_overhang_prefix_suffix_golden():
    """Pattern hanging halfway over either text edge costs
    floor(alpha * overhang) — the reference's overhang doc example shape
    (README.md:30-31: partial matches at sequence ends)."""
    from sassy_spark.kernel import semiglobal_search

    # suffix overhang: 'worldxx' over text ending in 'world' -> 2 chars
    # hang over the right edge at alpha=0.5 -> cost floor(2*0.5)=1
    got = semiglobal_search(
        ["worldxx"], ["helloworld"], k=1, mode="best", alpha=0.5
    )[0]
    assert got[0].tolist() == [10]
    assert got[1].tolist() == [1]
    # prefix overhang: 'xxhello' hanging 2 left of text start
    got = semiglobal_search(
        ["xxhello"], ["helloworld"], k=1, mode="best", alpha=0.5
    )[0]
    assert got[1].tolist() == [1]
    # max_overhang cap: only 1 overhang char discounted, second costs 1
    got = semiglobal_search(
        ["worldxx"], ["helloworld"], k=1, mode="best", alpha=0.5, max_overhang=1
    )[0]
    assert got[1].tolist() == [1]  # floor(1*0.5) + 1 = 1
    got = semiglobal_search(
        ["worldxxx"], ["helloworld"], k=1, mode="best", alpha=0.5, max_overhang=1
    )[0]
    assert got[1].tolist() == [1] or len(got[0]) == 0  # cost 2 > k -> none at k=1


# ------------------------------------------------ all-optimal tracebacks


def test_all_optimal_tracebacks_contains_greedy():
    from sassy_spark.kernel import all_optimal_tracebacks, traceback

    pat, text = "needle", "xxxneedlexxx"
    paths = all_optimal_tracebacks(pat, text, end=9, cost=0)
    assert traceback(pat, text, end=9, cost=0) == paths[0]
    assert paths == [(3, "6=")]


def test_all_optimal_tracebacks_enumerates_alternatives():
    from sassy_spark.kernel import all_optimal_tracebacks

    # 'aa' ending at 3 in 'aba': three optimal cost-1 alignments with
    # distinct starts — sub at text[1:3]='ba', del-b over text[0:3]='aba',
    # ins over text[2:3]='a'
    # (start 2 yields two distinct cigars: ins-then-match and match-then-ins)
    paths = all_optimal_tracebacks("aa", "aba", end=3, cost=1)
    assert sorted(paths) == [
        (0, "1=1D1="),
        (1, "1X1="),
        (2, "1=1I"),
        (2, "1I1="),
    ]
    # every path's cigar ops are consistent with the cost
    import re

    for start, cig in paths:
        tot = sum(
            int(c) for c, op in re.findall(r"(\d+)([=XID])", cig) if op != "="
        )
        assert tot == 1


def test_all_optimal_tracebacks_consistency_k5_k6():
    """K5 (local minima) ends ⊆ K6 (all) ends; every K6 end has >= 1
    optimal traceback whose cost matches — the reference's
    assert_consistent_with_search_all shape (src/search.rs:2004-2069)."""
    from sassy_spark.kernel import all_optimal_tracebacks, semiglobal_search

    for _ in range(20):
        pat = _rand_s(rng.randrange(3, 20))
        text = _rand_s(rng.randrange(10, 80))
        k = rng.randrange(0, 4)
        all_hits = semiglobal_search([pat], [text], k, mode="all")[0]
        lm_hits = semiglobal_search([pat], [text], k, mode="local_minima")[0]
        assert set(lm_hits[0].tolist()) <= set(all_hits[0].tolist())
        for e, c in zip(all_hits[0].tolist(), all_hits[1].tolist()):
            paths = all_optimal_tracebacks(pat, text, int(e), int(c))
            assert len(paths) >= 1


# ------------------------------------------------- equivalence-class profiles


def test_iupac_profile_goldens():
    """IUPAC ambiguity matching: chars match iff class masks intersect
    (reference src/profiles/iupac.rs:136-138, table 281-316)."""
    from sassy_spark.kernel import semiglobal_search
    from sassy_spark.kernel.profiles import IUPAC_CLASSES

    # N matches everything: zero-cost occurrence at every end >= 4
    res = semiglobal_search(
        ["NNNN"], ["ACGTAC"], 0, mode="all", classes=IUPAC_CLASSES
    )[0]
    assert res[0].tolist() == [4, 5, 6]
    # R = A|G: matches A and G but not C/T
    res = semiglobal_search(
        ["R"], ["ACGT"], 0, mode="all", classes=IUPAC_CLASSES
    )[0]
    assert res[0].tolist() == [1, 3]
    # case-insensitive: lowercase shares the class
    res = semiglobal_search(
        ["acgt"], ["xxACGTxx"], 0, mode="all", classes=IUPAC_CLASSES
    )[0]
    assert res[0].tolist() == [6]
    # X matches nothing, not even itself
    res = semiglobal_search(
        ["X"], ["XXXX"], 0, mode="all", classes=IUPAC_CLASSES
    )[0]
    assert len(res[0]) == 0


def test_iupac_profile_matches_dp_fuzz():
    from sassy_spark.kernel import semiglobal_scores
    from sassy_spark.kernel.profiles import IUPAC_CLASSES

    def is_match(a, b):
        ma = IUPAC_CLASSES.get(ord(a), -1)
        mb = IUPAC_CLASSES.get(ord(b), -1)
        if ma >= 0 and mb >= 0:
            return (ma & mb) > 0
        if ma < 0 and mb < 0:
            return a == b
        return False

    def dp(pat, txt):
        m, n = len(pat), len(txt)
        prev = [0] * (n + 1)
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (not is_match(pat[i - 1], txt[j - 1])),
                )
            prev = cur
        return prev[1:]

    alpha_p = "ACGTNRYWSKM"
    alpha_t = "ACGTacgt xq"
    for _ in range(40):
        pat = _rand_s(rng.randrange(1, 20), alpha=alpha_p)
        txt = _rand_s(rng.randrange(1, 60), alpha=alpha_t)
        smat, tlens = semiglobal_scores([pat], [txt], classes=IUPAC_CLASSES)
        assert smat[0, : tlens[0]].tolist() == dp(pat, txt), (pat, txt)


def test_iupac_traceback_match_ops():
    from sassy_spark.kernel import traceback
    from sassy_spark.kernel.profiles import IUPAC_CLASSES

    # pattern ACGR matches text ACGA exactly under IUPAC (R ~ A)
    start, cigar = traceback(
        "ACGR", "ttACGAtt", end=6, cost=0, classes=IUPAC_CLASSES
    )
    assert (start, cigar) == (2, "4=")


def test_overhang_reference_goldens():
    """Replicates the reference's overhang trace tests
    (src/search.rs:2930-2957): half the pattern hangs over a text edge at
    alpha=0.5 -> cost floor(4 * 0.5) = 2 at k=2."""
    from sassy_spark.kernel import semiglobal_search
    from sassy_spark.kernel.profiles import IUPAC_CLASSES

    # prefix overhang: first 4 pattern chars hang left of the text start
    res = semiglobal_search(
        ["ATCGATCG"], ["ATCGGGGGGGGGG"], 2, mode="all",
        alpha=0.5, classes=IUPAC_CLASSES,
    )[0]
    assert (4, 2) in set(zip(res[0].tolist(), res[1].tolist()))
    # suffix overhang: last 4 pattern chars hang right of the text end
    res = semiglobal_search(
        ["ATCGATCG"], ["GGGGGGGATCG"], 2, mode="all",
        alpha=0.5, classes=IUPAC_CLASSES,
    )[0]
    assert (11, 2) in set(zip(res[0].tolist(), res[1].tolist()))


def test_banded_edit_distance_with_classes():
    from sassy_spark.kernel import banded_edit_distances
    from sassy_spark.kernel.profiles import IUPAC_CLASSES

    got = banded_edit_distances(
        ["ACGT", "NNNN", "ACGT"], ["AGGT", "TTTT", "acgt"], 2,
        classes=IUPAC_CLASSES,
    )
    assert got.tolist() == [1, 0, 0]
