"""Property-based kernel tests (hypothesis) — adversarial small-alphabet
strings stress plateau/boundary cases the seeded fuzz may miss."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sassy_spark.kernel import cbanded
from sassy_spark.kernel.myers import (
    _banded_edit_distances_numpy,
    banded_edit_distances,
    semiglobal_scores,
    _full_edit_distances,
)

from reference_dp import levenshtein, semiglobal_costs

short = st.text(alphabet="ab", max_size=40)
medium = st.text(alphabet="abc", max_size=150)


@settings(max_examples=200, deadline=None)
@given(short, short)
def test_full_matches_dp(a, b):
    assert _full_edit_distances([a], [b])[0] == levenshtein(a, b)


@settings(max_examples=200, deadline=None)
@given(medium, medium, st.integers(min_value=0, max_value=30))
def test_banded_contract(a, b, k):
    got = int(banded_edit_distances([a], [b], k)[0])
    ref = levenshtein(a, b)
    if ref <= k:
        assert got == ref
    else:
        assert got > k


@settings(max_examples=150, deadline=None)
@given(
    st.text(alphabet="ab", min_size=1, max_size=30),
    st.text(alphabet="ab", min_size=1, max_size=120),
)
def test_semiglobal_matches_dp(p, t):
    smat, tlens = semiglobal_scores([p], [t])
    assert smat[0, : tlens[0]].tolist() == semiglobal_costs(p, t)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(short, short), min_size=1, max_size=20))
def test_batch_equals_singles(pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    batch = banded_edit_distances(a, b, 12)
    singles = [int(banded_edit_distances([x], [y], 12)[0]) for x, y in pairs]
    assert batch.tolist() == singles


@settings(max_examples=150, deadline=None)
@given(
    st.text(alphabet="ab", min_size=1, max_size=40),
    st.text(alphabet="ab", min_size=1, max_size=150),
    st.integers(min_value=0, max_value=6),
)
def test_streaming_search_all_matches_dp(p, t, k):
    """The streaming row-banded search must emit exactly the <=k end
    positions of the textbook DP curve (adversarial ab-strings hit
    plateau and band-boundary cases)."""
    from sassy_spark.kernel.myers import semiglobal_search

    ref = semiglobal_costs(p, t)
    want = [(j + 1, c) for j, c in enumerate(ref) if c <= k]
    got = semiglobal_search([p], [t], k, mode="all")[0]
    assert list(zip(got[0].tolist(), got[1].tolist())) == want


@settings(max_examples=100, deadline=None)
@given(
    st.text(alphabet="ab", min_size=1, max_size=30),
    st.text(alphabet="ab", min_size=1, max_size=120),
    st.integers(min_value=0, max_value=4),
    st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
def test_streaming_overhang_matches_dp(p, t, k, alpha):
    from sassy_spark.kernel.myers import semiglobal_search
    from reference_dp import semiglobal_costs_overhang

    ref = semiglobal_costs_overhang(p, t, alpha)
    want = [(j + 1, c) for j, c in enumerate(ref) if c <= k]
    got = semiglobal_search([p], [t], k, mode="all", alpha=alpha)[0]
    assert list(zip(got[0].tolist(), got[1].tolist())) == want


# lengths around the 64-bit word edges, where window and prune rules turn
edge_lengths = st.sampled_from([0, 1, 2, 31, 63, 64, 65, 127, 128, 129, 191])


@st.composite
def edited_pair(draw):
    """A string at a word-edge length and either an edited copy of it,
    optionally behind an inserted block that may span the first 64
    columns, or an unrelated string (which exercises the n - m > k
    prefilter)."""
    alphabet = draw(st.sampled_from(["ab", "acgt", "abcdefgh", "aé€😀"]))
    n_a = draw(edge_lengths)
    a = draw(st.text(alphabet=alphabet, min_size=n_a, max_size=n_a))
    if draw(st.booleans()):
        n_b = draw(edge_lengths)
        return a, draw(st.text(alphabet=alphabet, min_size=n_b, max_size=n_b))
    b = list(a)
    edits = st.tuples(
        st.sampled_from("ids"), st.integers(0, 200), st.sampled_from(alphabet)
    )
    for op, pos, ch in draw(st.lists(edits, max_size=30)):
        pos = pos % (len(b) + 1)
        if op == "i":
            b.insert(pos, ch)
        elif pos < len(b):
            if op == "d":
                del b[pos]
            else:
                b[pos] = ch
    n_block = draw(st.sampled_from([0, 0, 10, 70, 100]))
    block = draw(st.text(alphabet=alphabet, min_size=n_block, max_size=n_block))
    return a, block + "".join(b)


@pytest.mark.skipif(cbanded.LIB is None, reason=f"no C kernel: {cbanded.ERROR}")
@settings(max_examples=150, deadline=None)
@given(
    st.lists(edited_pair(), min_size=1, max_size=6),
    st.lists(st.integers(0, 90), min_size=6, max_size=6),
    st.booleans(),
)
def test_compiled_banded_equals_numpy_and_dp(pairs, ks, scalar_k):
    """The compiled kernel (per-pair window) and the numpy kernel (batch
    window) both report min(distance, k + 1) per pair, for per-pair and
    scalar k, in a batch and one pair at a time."""
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    k = ks[0] if scalar_k else np.array(ks[: len(pairs)])
    k_each = np.broadcast_to(k, (len(pairs),))
    want = [min(levenshtein(x, y), int(kk) + 1) for x, y, kk in zip(a, b, k_each)]
    got_c = banded_edit_distances(a, b, k).tolist()
    got_np = _banded_edit_distances_numpy(a, b, k).tolist()
    singles = [
        int(banded_edit_distances([x], [y], kk)[0]) for x, y, kk in zip(a, b, k_each)
    ]
    assert got_c == got_np == singles == want
