"""Bit-parallel approximate string matching kernel.

This is the computational heart of the engine: a from-scratch
implementation of Myers' 1999 bit-parallel edit-distance recurrence
(with Hyyro's block extension for patterns longer than 64 chars).

Banded global scoring (``edit_distances(k=...)``, the entity-resolution
pair scorer) runs a compiled per-pair loop over the recurrence
(``cbanded.c``, built with cffi at first import), as sassy runs its own
as a tight native loop. Everything else runs in numpy, laid out so the
*batch of pairs* is the vectorized dimension: one Python-level loop step
advances ALL pairs in the batch by one text character — the numpy analog
of the reference engine's SIMD lanes (sassy processes 4-8 64-char blocks
per AVX vector, src/bitpacking.rs:63-85; we process B pairs x W words per
numpy op). The numpy banded kernel stays as the fallback when the
compiled one cannot be built (``C_KERNEL_ERROR`` then says why), for
IUPAC ``classes=`` profiles, and as the oracle the compiled loop is
tested against.

Unit of distance: **Unicode codepoints** for ``str`` inputs (matching
SQL ``levenshtein`` and Python ``str`` slicing — start/end offsets
returned by the search functions are valid ``str`` indices), raw bytes
for ``bytes`` inputs (the reference's own unit, src/profiles/ascii.rs).
Mixed batches are fine; each element keeps its own unit.

Semantics intentionally mirror the reference (RagnarGrootKoerkamp/sassy):

* ``edit_distances``      — global Levenshtein distance per pair
  (the pairwise scoring primitive of the entity-resolution pipeline).
* ``semiglobal_search``   — "find approximate occurrences of pattern in
  text": deletions before/after the match are free (text prefix/suffix
  skipped at no cost), like sassy's ``Searcher::search``
  (reference src/search.rs:510-525). Supports ``all`` end positions with
  cost <= k (search_all, src/search.rs:685-700), rightmost ``local
  minima`` (the default search, src/search.rs:1286-1369) and ``best``
  (only_best_match, src/search.rs:442-445,1392-1455: min cost, rightmost
  end tie-break). Streaming + row-banded: memory is O(batch x band), not
  O(batch x text) — the batch analog of sassy's early row termination
  (src/search.rs:1131-1162).
* overhang (``alpha``)    — the pattern may hang over either text end at
  cost ``floor(alpha * overhang)``, capped at ``max_overhang`` chars
  (reference src/search.rs:231-248, init_deltas_for_overshoot
  src/search.rs:1692-1748: the left-boundary vertical deltas become the
  0/1 increments of floor(i*alpha), which Myers' pv/mv encoding can
  represent exactly).
* ``traceback``           — start position + CIGAR via greedy backtrace
  preferring match > sub > del > ins (reference src/trace.rs:273-406,
  preference documented src/lib.rs:42-50). Run only on accepted matches
  (rare), like sassy's batched traceback after candidate filtering.
* ``all_optimal_tracebacks`` — every distinct *cost-minimal* alignment
  for one (pattern, end); kept for callers that want exactly the
  optimal set (it automatically excludes sub->ins+del rewrites, since
  those cost strictly more).
* ``all_tracebacks_within_k`` — the reference's search_all_alignments
  enumeration (src/search.rs:708-754, src/alignment_iterator.rs:52-411):
  every alignment with cost <= k per end position minus the "clearly
  inefficient" ones, via the reference's three DFS filters (no
  leading/trailing text gaps, diagonal leave/enter discipline, no mixed
  indels since the last match). Pinned by the reference's own
  combinatorial count (src/search.rs:1841-1853, C(8,3)=56 paths) and an
  independently-written path-filter oracle
  (tests/test_all_alignments_within_k.py).

No code is copied from the reference; the recurrence follows the
published algorithm (G. Myers, JACM 46(3), 1999; H. Hyyro, 2003).
"""

from __future__ import annotations

import numpy as np

from . import cbanded as _cbanded

# None when the compiled banded kernel is in use, else why it is not
C_KERNEL_ERROR = _cbanded.ERROR

U1 = np.uint64(1)
U63 = np.uint64(63)
UFULL = np.uint64(0xFFFFFFFFFFFFFFFF)
BIG = np.int64(1 << 20)  # "not a valid cost" placeholder


def _as_symbols(s) -> np.ndarray:
    """Sequence -> uint32 symbol array. str -> Unicode codepoints (so all
    offsets are character offsets, valid for Python str slicing and equal
    to SQL levenshtein units); bytes -> raw byte values; ndarray -> raw
    symbol values (the zero-copy Arrow path: callers slice uint8 views
    straight out of Arrow string buffers — valid when the batch is pure
    ASCII, where byte == codepoint, which the caller must check)."""
    if isinstance(s, np.ndarray):
        return s if s.dtype == np.uint32 else s.astype(np.uint32)
    if isinstance(s, (bytes, bytearray)):
        return np.frombuffer(bytes(s), dtype=np.uint8).astype(np.uint32)
    return np.frombuffer(
        str(s).encode("utf-32-le", errors="surrogatepass"), dtype=np.uint32
    )


def _compact_mats(
    mats: list[np.ndarray],
) -> tuple[list[np.ndarray], int, np.ndarray]:
    """Remap symbol matrices to a dense 0..A-1 alphabet; returns
    (remapped mats, A, originals) where originals[cid] is the original
    symbol of compact id cid. Padding symbol 0 stays 0.

    Web text uses a few dozen distinct symbols; a (B, A) gather table at
    A~32 is 8x smaller than (B, 256) — the difference between the inner
    gather hitting L2 or thrashing shared L3 across 32 workers. This is
    the engine's version of sassy's compile-time alphabet profiles
    (reference src/profiles.rs:13-66: Dna=4, Iupac=16, Ascii=256).
    """
    hi = max((int(m.max()) if m.size else 0) for m in mats)
    if hi < 256:
        # fast path: 256-entry uint8 LUT (all-ASCII/latin batches) — one
        # bincount pass to find used symbols, one gather to remap
        used = np.zeros(256, dtype=bool)
        used[0] = True
        for m in mats:
            if m.size:
                cnt = np.bincount(m.ravel(), minlength=256)
                used |= cnt > 0
        amap = (np.cumsum(used) - 1).astype(np.uint8)
        originals = np.flatnonzero(used).astype(np.uint32)
        return [amap[m] for m in mats], int(used.sum()), originals
    vals = np.unique(np.concatenate([m.ravel() for m in mats]))
    if vals[0] != 0:
        vals = np.concatenate([np.zeros(1, dtype=vals.dtype), vals])
    a = len(vals)
    dt = np.uint8 if a <= 256 else np.uint16 if a <= 65536 else np.uint32
    return (
        [np.searchsorted(vals, m).astype(dt) for m in mats],
        a,
        vals.astype(np.uint32),
    )


def _compat_or_none(originals: np.ndarray, classes: dict | None):
    if classes is None:
        return None
    from .profiles import compat_matrix

    return compat_matrix(originals, classes)


def build_peq(
    patterns: list[np.ndarray],
    n_words: int,
    alphabet: int = 256,
    compat: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Positional-equality bitmask tensor for a batch of patterns.

    ``patterns``: list of 1-D integer symbol arrays (already compacted).
    Returns (peq, mlens):
      peq  : (B, n_words, alphabet) uint64 — bit i of word w set for sym c
             iff pattern[w*64 + i] matches c (the numpy analog of sassy's
             Profile::encode_pattern, reference src/profiles/ascii.rs:18-28).
      mlens: (B,) int64 pattern lengths.
    ``compat``: optional (A, A) bool equivalence matrix (IUPAC-style
    class matching, reference src/profiles/iupac.rs:136-138); None =
    exact equality.
    """
    b = len(patterns)
    peq = np.zeros((b, n_words, alphabet), dtype=np.uint64)
    mlens = np.empty(b, dtype=np.int64)
    for i, pb in enumerate(patterns):
        mlens[i] = len(pb)
        pos = np.arange(len(pb))
        if compat is None:
            words = pos >> 6
            bits = (U1 << (pos & 63).astype(np.uint64))
            np.bitwise_or.at(peq[i], (words, pb.astype(np.intp)), bits)
        else:
            for w in range((len(pb) + 63) // 64):
                chunk = pb[w * 64 : w * 64 + 64]
                comp = compat[chunk.astype(np.intp)]  # (L, A)
                bits = (U1 << np.arange(len(chunk), dtype=np.uint64))
                peq[i, w] = (comp.astype(np.uint64) * bits[:, None]).sum(
                    axis=0, dtype=np.uint64
                )
    return peq, mlens


def _pad_syms(seqs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Stack variable-length symbol arrays into a (B, n_max) uint32 matrix.

    Padding symbol 0: real inputs are text so NUL never occurs; padded
    steps are additionally masked out of score updates.
    """
    b = len(seqs)
    lens = np.array([len(t) for t in seqs], dtype=np.int64)
    n_max = int(lens.max()) if b else 0
    mat = np.zeros((b, n_max), dtype=np.uint32)
    for i, t in enumerate(seqs):
        mat[i, : lens[i]] = t
    return mat, lens


def _advance(peq, pv, mv, chars, score, top_word, top_bit, hin0, active):
    """Advance all pairs by one text character.

    peq: (B,W,A); pv/mv: (B,W) uint64 vertical delta bitmasks;
    chars: (B,) symbols; score: (B,) int64 (updated in place);
    top_word: (B,) int; top_bit: (B,) uint64 single-bit mask of row m;
    hin0: +1 for global alignment (row 0 of the DP matrix increases along
    the text), 0 for semi-global (free text prefix);
    active: (B,) bool — pairs still inside their own text.
    """
    b, w_count, _ = peq.shape
    bi = np.arange(b)
    eq_all = peq[bi, :, chars.astype(np.intp)]  # (B, W)

    hin_p = np.full(b, np.uint64(1 if hin0 > 0 else 0), dtype=np.uint64)
    hin_m = np.zeros(b, dtype=np.uint64)

    for w in range(w_count):
        pvw = pv[:, w]
        mvw = mv[:, w]
        eqw = eq_all[:, w]

        xv = eqw | mvw
        eqw2 = eqw | hin_m  # carry a -1 horizontal input into the word
        # (eq & pv) + pv with incoming carry is not needed: the addition is
        # word-local in Hyyro's block formulation (carry between words is
        # conveyed entirely by the hin/hout +-1 deltas).
        xh = (((eqw2 & pvw) + pvw) ^ pvw) | eqw2
        ph = mvw | ~(xh | pvw)
        mh = pvw & xh

        # score delta where row m lives in this word
        sel = active & (top_word == w)
        if sel.any():
            tb = top_bit[sel]
            delta = ((ph[sel] & tb) != 0).astype(np.int64) - (
                (mh[sel] & tb) != 0
            ).astype(np.int64)
            score[sel] += delta

        hout_p = ph >> U63
        hout_m = mh >> U63
        ph = (ph << U1) | hin_p
        mh = (mh << U1) | hin_m
        pv[:, w] = mh | ~(xv | ph)
        mv[:, w] = ph & xv
        hin_p = hout_p
        hin_m = hout_m


def edit_distances(
    a_list: list, b_list: list, k=None, classes: dict | None = None
) -> np.ndarray:
    """Global Levenshtein distance per pair, vectorized over the batch.

    ``k`` (scalar or per-pair array) switches to the *banded* kernel:
    exact for distances <= k, reports k+1 otherwise, and only computes
    the ~(2k+64)-wide diagonal word window per column — O(n * k/64)
    instead of O(n * m/64), the bit-parallel form of the Ukkonen band
    (the role sassy's early row termination plays,
    reference src/search.rs:1131-1162).
    """
    if k is not None:
        return banded_edit_distances(a_list, b_list, k, classes=classes)
    return _full_edit_distances(a_list, b_list, None, classes=classes)


def _full_edit_distances(
    a_list: list, b_list: list, k: int | None = None,
    classes: dict | None = None,
) -> np.ndarray:
    """Unbanded reference path (also used when k >= pattern length)."""
    bsz = len(a_list)
    if bsz == 0:
        return np.zeros(0, dtype=np.int64)
    pats = [_as_symbols(x) for x in a_list]
    texts = [_as_symbols(x) for x in b_list]
    # Pattern = the shorter string: fewer words, same distance (symmetry).
    swapped = [len(p) > len(t) for p, t in zip(pats, texts)]
    pats2 = [t if s else p for p, t, s in zip(pats, texts, swapped)]
    texts2 = [p if s else t for p, t, s in zip(pats, texts, swapped)]

    mlens = np.array([len(p) for p in pats2], dtype=np.int64)
    n_words = max(1, int((mlens.max() + 63) // 64))
    pmat0, _ = _pad_syms(pats2)
    tmat0, tlens = _pad_syms(texts2)
    (pmat, tmat), alphabet, originals = _compact_mats([pmat0, tmat0])
    compat = _compat_or_none(originals, classes)
    peq, _ = build_peq(
        [pmat[i, : mlens[i]] for i in range(bsz)], n_words, alphabet, compat
    )

    pv = np.full((bsz, n_words), UFULL, dtype=np.uint64)
    mv = np.zeros((bsz, n_words), dtype=np.uint64)
    score = mlens.copy()
    top_word = ((mlens - 1) >> 6).astype(np.int64)
    top_word[mlens == 0] = 0
    top_bit = (U1 << ((mlens - 1) & 63).astype(np.uint64))
    top_bit[mlens == 0] = U1

    n_max = tmat.shape[1]
    out = np.empty(bsz, dtype=np.int64)
    final_mask = tlens == 0
    out[final_mask] = mlens[final_mask]

    for j in range(n_max):
        act = tlens > j
        if not act.any():
            break
        if k is not None and j % 64 == 63:
            # lower bound on final distance: current score minus the text
            # still unread (each remaining char can reduce score by <= 1)
            lb = score - (tlens - j - 1).clip(min=0)
            if bool(((lb > k) | ~act).all()):
                out[act] = k + 1
                return out
        _advance(peq, pv, mv, tmat[:, j], score, top_word, top_bit, 1, act)
        fin = tlens == j + 1
        if fin.any():
            out[fin] = score[fin]
    zero = mlens == 0
    if zero.any():
        out[zero] = tlens[zero]
    return out


def semiglobal_scores(patterns: list, texts: list, classes: dict | None = None):
    """Unbanded batched semi-global scan — the test-oracle path.

    Returns (scores_matrix, tlens): scores_matrix[b, j] = best edit cost of
    pattern b against any text substring ending at position j+1 (int32,
    padded steps = large). Materializes the full (B, n_max) matrix — use
    :func:`semiglobal_search` (streaming, banded) for production scans;
    this exists so tests can pin banded-vs-unbanded equivalence.
    """
    bsz = len(patterns)
    pats = [_as_symbols(x) for x in patterns]
    txts = [_as_symbols(x) for x in texts]
    mlens = np.array([len(p) for p in pats], dtype=np.int64)
    n_words = max(1, int((mlens.max() + 63) // 64))
    pmat0, _ = _pad_syms(pats)
    tmat0, tlens = _pad_syms(txts)
    (pmat, tmat), alphabet, originals = _compact_mats([pmat0, tmat0])
    compat = _compat_or_none(originals, classes)
    peq, _ = build_peq(
        [pmat[i, : mlens[i]] for i in range(bsz)], n_words, alphabet, compat
    )

    pv = np.full((bsz, n_words), UFULL, dtype=np.uint64)
    mv = np.zeros((bsz, n_words), dtype=np.uint64)
    score = mlens.copy()
    top_word = ((mlens - 1) >> 6).astype(np.int64)
    top_word[mlens == 0] = 0
    top_bit = (U1 << ((mlens - 1) & 63).astype(np.uint64))
    top_bit[mlens == 0] = U1

    n_max = tmat.shape[1]
    smat = np.full((bsz, n_max), BIG, dtype=np.int32)
    for j in range(n_max):
        act = tlens > j
        if not act.any():
            break
        _advance(peq, pv, mv, tmat[:, j], score, top_word, top_bit, 0, act)
        smat[act, j] = score[act]
    return smat, tlens


def local_minima(costs: np.ndarray, k: int) -> np.ndarray:
    """Indices of *rightmost local minima* with cost <= k along one pair's
    end-position cost curve — the match-reporting rule of the reference's
    default search (one match per run of equal minimal costs, rightmost
    position; reference src/search.rs:1286-1369, doc src/lib.rs:17-26)."""
    n = len(costs)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    # rightmost element of each equal-cost plateau that is strictly below the
    # values bounding the plateau on both sides (array edges count as +inf)
    idx = np.arange(n)
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = costs[1:] != costs[:-1]
    run_start = np.maximum.accumulate(np.where(new_run, idx, 0))
    prev_val = np.where(
        run_start > 0, costs[np.maximum(run_start - 1, 0)], costs[0] + 1
    )
    nxt = np.empty(n, dtype=costs.dtype)
    nxt[:-1] = costs[1:]
    nxt[-1] = costs[-1] + 1
    cand = (costs <= k) & (costs < nxt) & (costs < prev_val)
    return np.nonzero(cand)[0].astype(np.int64)


def _overhang_penalty(o, alpha: float, mo: int):
    """Cost of ``o`` pattern chars hanging past a text end:
    floor(min(o, max_overhang) * alpha) + 1 per char beyond the cap
    (reference src/search.rs:1694-1707: h-delta = floor((i+1)a)-floor(ia)
    for i < max_overhang, default +1 beyond)."""
    o = np.asarray(o, dtype=np.int64)
    capped = np.minimum(o, mo)
    return np.floor(capped * alpha).astype(np.int64) + np.maximum(o - mo, 0)


def _column_values(pv, mv, hw: int) -> np.ndarray:
    """D[r+1][j] for bit rows r in 0..(hw+1)*64-1, anchored at the known
    semiglobal top row D[0][j] = 0. pv/mv are (W, B); returns (B, R) int64.
    Done only at 64-column boundaries, so the amortized cost is < 1 op per
    column per word (the batch analog of sassy's prefix_min lane scan,
    reference src/minima.rs:62-92)."""
    sel = slice(0, hw + 1)
    pbits = np.unpackbits(
        np.ascontiguousarray(pv[sel].T).view(np.uint8), axis=1, bitorder="little"
    ).astype(np.int64)
    mbits = np.unpackbits(
        np.ascontiguousarray(mv[sel].T).view(np.uint8), axis=1, bitorder="little"
    ).astype(np.int64)
    return np.cumsum(pbits - mbits, axis=1)


def semiglobal_search(
    patterns: list,
    texts: list,
    k: int,
    mode: str = "local_minima",
    alpha: float | None = None,
    max_overhang: int | None = None,
    classes: dict | None = None,
):
    """Approximate occurrences of each pattern in its paired text —
    streaming and row-banded.

    mode: 'all' (every end position with cost<=k), 'local_minima'
    (reference default), 'best' (min cost, rightmost end — only_best_match).
    Returns list over pairs of (ends, costs) int64/int32 arrays where
    ``end`` is the exclusive end offset in the text (reference
    README.md:232-234 convention; character offsets for str inputs).

    ``alpha``/``max_overhang``: overhang scoring (reference K12) — the
    pattern may hang over the text's left edge (alignments starting at
    text position 0) or right edge (alignments ending at text position n)
    at cost floor(alpha * overhang_len); overhang chars beyond
    ``max_overhang`` cost 1 each. alpha=None disables (end gaps in the
    *pattern* are then fully paid, the plain semiglobal semantics).

    Banding: per Ukkonen, the last text-column row y_j with D <= k grows
    by at most 1 per column, so only words up to (y + 64)/64 are computed
    per 64-column block, with y re-derived exactly at block boundaries by
    unpacking the delta masks. Memory is O(B x band_words); no
    (B, text_len) score matrix is ever materialized.
    """
    bsz = len(patterns)
    if alpha is not None and not (0.0 <= alpha <= 1.0):
        # the pv-bit overhang encoding represents 0/1 per-row increments
        # only — exactly the reference's supported range
        # (src/search.rs:373-383 asserts 0 <= alpha <= 1)
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if bsz == 0:
        return []
    k = int(k)
    psyms = [_as_symbols(p) for p in patterns]
    tsyms = [_as_symbols(t) for t in texts]
    mlens_all = np.array([len(p) for p in psyms], dtype=np.int64)
    tlens_all = np.array([len(t) for t in tsyms], dtype=np.int64)

    out: list[tuple[np.ndarray, np.ndarray]] = [
        (np.zeros(0, np.int64), np.zeros(0, np.int32)) for _ in range(bsz)
    ]
    # empty patterns: D[0][j] = 0 -> cost 0 at every end position
    for i in range(bsz):
        n = int(tlens_all[i])
        if mlens_all[i] == 0 and n > 0:
            if mode == "all":
                out[i] = (
                    np.arange(1, n + 1, dtype=np.int64),
                    np.zeros(n, dtype=np.int32),
                )
            else:  # one zero-cost plateau -> rightmost position
                out[i] = (
                    np.array([n], dtype=np.int64),
                    np.zeros(1, dtype=np.int32),
                )
    lanes = np.nonzero((mlens_all > 0) & (tlens_all > 0))[0]
    if len(lanes) == 0:
        return out

    mlens = mlens_all[lanes]
    tlens = tlens_all[lanes]
    b = len(lanes)
    m_max = int(mlens.max())
    n_max = int(tlens.max())
    w_count = (m_max + 63) // 64

    pmat0, _ = _pad_syms([psyms[i] for i in lanes])
    tmat0 = np.zeros((n_max, b), dtype=np.uint32)  # column-major scan
    for row, i in enumerate(lanes):
        tmat0[: tlens[row], row] = tsyms[i]
    (pmat, tmat), alphabet, originals = _compact_mats([pmat0, tmat0])
    compat = _compat_or_none(originals, classes)

    mo = int(max_overhang) if max_overhang is not None else (1 << 40)

    # pv init: vertical deltas of column 0. Plain semiglobal: D[i][0] = i
    # (all ones). With alpha: D[i][0] = overhang_penalty(i) whose per-row
    # increments are 0/1 — representable directly in pv bits.
    pv = np.full((w_count, b), UFULL, dtype=np.uint64)
    mv = np.zeros((w_count, b), dtype=np.uint64)
    if alpha is not None:
        rows_all = np.arange(w_count * 64, dtype=np.int64)
        d0 = _overhang_penalty(rows_all + 1, alpha, mo) - _overhang_penalty(
            rows_all, alpha, mo
        )
        for w in range(w_count):
            bits = d0[w * 64 : w * 64 + 64].astype(np.uint64)
            word = np.uint64(0)
            word = (bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
            pv[w, :] = word

    def init_val(i_arr):
        if alpha is None:
            return np.asarray(i_arr, dtype=np.int64).copy()
        return _overhang_penalty(i_arr, alpha, mo)

    top_row = mlens - 1  # bit row of D[m]

    # initial Ukkonen active bit row: max r with D[r+1][0] <= k
    probe = np.arange(1, m_max + 1, dtype=np.int64)
    ok0 = init_val(probe) <= k
    y_glob = int(np.nonzero(ok0)[0].max()) if ok0.any() else -1  # bit row
    y_bit = np.minimum(np.full(b, y_glob, dtype=np.int64), top_row)

    hw = min(w_count - 1, (max(int(y_bit.max()), 0) + 64) >> 6)
    window_top = (hw + 1) * 64 - 1
    track_row = np.minimum(top_row, window_top)
    score = init_val(track_row + 1)
    bi = np.arange(b)

    # streaming mode state
    hit_lane: list[np.ndarray] = []
    hit_end: list[np.ndarray] = []
    hit_cost: list[np.ndarray] = []
    if mode == "best":
        best_cost = np.full(b, BIG, dtype=np.int64)
        best_end = np.zeros(b, dtype=np.int64)
    elif mode == "local_minima":
        SENT = np.int64(1 << 22)
        run_val = np.full(b, SENT, dtype=np.int64)
        before_run = np.full(b, SENT, dtype=np.int64)

    # preallocated scratch (see banded_edit_distances for why: allocator
    # churn is a cache hazard and, in this sandbox, a serialized-fault one)
    eqw = np.empty(b, dtype=np.uint64)
    xv = np.empty(b, dtype=np.uint64)
    t1 = np.empty(b, dtype=np.uint64)
    t2 = np.empty(b, dtype=np.uint64)
    mh = np.empty(b, dtype=np.uint64)
    hin_p = np.empty(b, dtype=np.uint64)
    hin_m = np.empty(b, dtype=np.uint64)
    hout_p = np.empty(b, dtype=np.uint64)
    hout_m = np.empty(b, dtype=np.uint64)
    flat = np.empty(b, dtype=np.int64)
    base_idx = bi * np.int64(alphabet)

    peq_cache: dict[int, np.ndarray] = {}

    def peq_word(w: int) -> np.ndarray:
        tbl = peq_cache.get(w)
        if tbl is None:
            tbl = _peq_word(pmat, w, alphabet, compat)
            peq_cache[w] = tbl
        return tbl

    # per-block row-m cost buffer: mode processing (all / best / minima
    # plateau state machine) is vectorized per 64-column block, so the
    # per-column Python overhead is just the word loop + one store
    block_buf = np.full((b, 64), BIG, dtype=np.int64)
    jb = 0
    while jb < n_max:
        if not bool((tlens > jb).any()):
            break
        j_end = min(jb + 64, n_max)
        blk = j_end - jb
        track_word = (track_row >> 6).astype(np.int64)
        track_bit = (U1 << (track_row & 63).astype(np.uint64))
        sel_by_word = {
            w: track_word == w
            for w in range(hw + 1)
            if bool((track_word == w).any())
        }
        # lanes whose window covers row m this block; others stay BIG
        # (y < m there guarantees D[m][j] > k)
        cov_idx = np.nonzero(track_row == top_row)[0]
        block_buf[:, :blk] = BIG
        for j in range(jb, j_end):
            chars = tmat[j]
            hin_p.fill(0)  # semiglobal: D[0][j] = 0 -> no +1 from the top
            hin_m.fill(0)
            for w in range(hw + 1):
                pvw = pv[w]
                mvw = mv[w]
                np.add(base_idx, chars, out=flat)
                np.take(peq_word(w).reshape(-1), flat, out=eqw)
                np.bitwise_or(eqw, mvw, out=xv)
                np.bitwise_or(eqw, hin_m, out=eqw)
                np.bitwise_and(eqw, pvw, out=t1)
                np.add(t1, pvw, out=t1)
                np.bitwise_xor(t1, pvw, out=t1)
                np.bitwise_or(t1, eqw, out=t1)  # t1 = xh
                np.bitwise_or(t1, pvw, out=t2)
                np.invert(t2, out=t2)
                np.bitwise_or(mvw, t2, out=t2)  # t2 = ph
                np.bitwise_and(pvw, t1, out=mh)  # mh
                sel = sel_by_word.get(w)
                if sel is not None:
                    tb = track_bit[sel]
                    score[sel] += ((t2[sel] & tb) != 0).astype(np.int64)
                    score[sel] -= ((mh[sel] & tb) != 0).astype(np.int64)
                np.right_shift(t2, U63, out=hout_p)
                np.right_shift(mh, U63, out=hout_m)
                np.left_shift(t2, U1, out=t2)
                np.bitwise_or(t2, hin_p, out=t2)  # ph shifted
                np.left_shift(mh, U1, out=mh)
                np.bitwise_or(mh, hin_m, out=mh)  # mh shifted
                np.bitwise_or(xv, t2, out=t1)
                np.invert(t1, out=t1)
                np.bitwise_or(mh, t1, out=pvw)  # pv[w] updated in place
                np.bitwise_and(t2, xv, out=mvw)  # mv[w] updated in place
                hin_p, hout_p = hout_p, hin_p
                hin_m, hout_m = hout_m, hin_m
            block_buf[cov_idx, j - jb] = score[cov_idx]

            if alpha is not None:
                fin = tlens == j + 1
                if fin.any():
                    # right overhang: alignments ending at text end n may
                    # leave a pattern suffix unmatched at floor(alpha*o)
                    vals = _column_values(pv, mv, hw)  # (B, R): D[r+1][n]
                    for li in np.nonzero(fin)[0]:
                        m_i = int(mlens[li])
                        r_hi = min(m_i - 1, vals.shape[1] - 1)
                        dvals = np.concatenate(
                            [np.zeros(1, dtype=np.int64), vals[li, : r_hi + 1]]
                        )  # D[0..r_hi+1][n]
                        over = m_i - np.arange(r_hi + 2, dtype=np.int64)
                        cand = dvals + _overhang_penalty(over, alpha, mo)
                        c = j - jb
                        block_buf[li, c] = min(
                            int(block_buf[li, c]), int(cand.min())
                        )

        # ---- vectorized per-block mode processing ----
        buf = block_buf[:, :blk]
        colsg = np.arange(jb, j_end, dtype=np.int64)
        buf[colsg[None, :] >= tlens[:, None]] = BIG  # past text end
        if mode == "all":
            hm = buf <= k
            if hm.any():
                li, ci = np.nonzero(hm)
                hit_lane.append(li)
                hit_end.append(colsg[ci] + 1)
                hit_cost.append(buf[li, ci])
        elif mode == "best":
            mn = buf.min(axis=1)
            pos = blk - 1 - np.argmax((buf == mn[:, None])[:, ::-1], axis=1)
            upd = (mn <= k) & (mn <= best_cost)
            best_cost[upd] = mn[upd]
            best_end[upd] = jb + pos[upd] + 1
        else:  # local_minima: plateau machine with 2-value carry state
            # ext = [value-before-current-run, current-run-value, block...]
            ext = np.concatenate(
                [before_run[:, None], run_val[:, None], buf], axis=1
            )
            n_ = ext.shape[1]
            idx2 = np.arange(n_)
            new_run = np.ones((b, n_), dtype=bool)
            new_run[:, 1:] = ext[:, 1:] != ext[:, :-1]
            run_start = np.maximum.accumulate(
                np.where(new_run, idx2[None, :], 0), axis=1
            )
            prev_val = np.where(
                run_start > 0,
                np.take_along_axis(ext, np.maximum(run_start - 1, 0), axis=1),
                ext[:, :1] + 1,
            )
            # duplicate the last column: the final run carries into the
            # next block (or the post-loop finalize), never emits here
            nxt = np.concatenate([ext[:, 1:], ext[:, -1:]], axis=1)
            cand = (ext <= k) & (ext < nxt) & (ext < prev_val)
            cand[:, 0] = False  # context column, not a position
            if cand.any():
                li, pi = np.nonzero(cand)
                hit_lane.append(li)
                # ext index p maps to global column jb + p - 2 -> end jb+p-1
                hit_end.append(jb + pi - 1)
                hit_cost.append(ext[li, pi])
            changes = ext[:, 1:] != ext[:, :-1]
            anych = changes.any(axis=1)
            lc = n_ - 1 - np.argmax(changes[:, ::-1], axis=1)  # final run start
            bef = np.take_along_axis(
                ext, np.maximum(lc - 1, 0)[:, None], axis=1
            )[:, 0]
            before_run = np.where(anych, bef, before_run)
            run_val = ext[:, -1]

        jb = j_end
        if jb >= n_max:
            break
        # block boundary: re-derive the exact active row per lane and
        # shrink/grow the word window for the next 64 columns
        live = tlens > jb
        vals = _column_values(pv, mv, hw)  # (B, R)
        rr = np.arange(vals.shape[1], dtype=np.int64)
        okm = (vals <= k) & (rr[None, :] <= top_row[:, None]) & live[:, None]
        any_ok = okm.any(axis=1)
        y_bit = np.where(
            any_ok, vals.shape[1] - 1 - np.argmax(okm[:, ::-1], axis=1), -1
        )
        new_hw = min(w_count - 1, (max(int(y_bit.max()), 0) + 64) >> 6)
        if new_hw != hw:
            new_window_top = (new_hw + 1) * 64 - 1
            new_track = np.minimum(top_row, new_window_top)
            if new_hw > hw:
                # virgin/stale words above: reset to +1-per-row upper bound
                pv[hw + 1 : new_hw + 1, :] = UFULL
                mv[hw + 1 : new_hw + 1, :] = 0
                grow = new_track > window_top
                score = np.where(grow, score + (new_track - window_top), score)
                within = ~grow & (new_track != track_row)
                if within.any():
                    score[within] = vals[bi[within], new_track[within]]
            else:
                moved = new_track != track_row
                if moved.any():
                    score[moved] = vals[bi[moved], new_track[moved]]
            hw = new_hw
            window_top = new_window_top
            track_row = new_track

    if mode == "local_minima":
        # right text edge counts as +inf: lanes whose final run never saw a
        # higher successor emit at end = text length
        emit_fin = (run_val <= k) & (run_val < before_run)
        if emit_fin.any():
            sel = np.nonzero(emit_fin)[0]
            hit_lane.append(sel)
            hit_end.append(tlens[sel].copy())
            hit_cost.append(run_val[sel])

    if mode == "best":
        found = best_cost <= k
        for li in np.nonzero(found)[0]:
            out[lanes[li]] = (
                np.array([best_end[li]], dtype=np.int64),
                np.array([best_cost[li]], dtype=np.int32),
            )
        return out

    if hit_lane:
        hl = np.concatenate(hit_lane)
        he = np.concatenate(hit_end)
        hc = np.concatenate(hit_cost)
        order = np.lexsort((he, hl))
        hl, he, hc = hl[order], he[order], hc[order]
        bounds = np.searchsorted(hl, np.arange(b + 1))
        for li in range(b):
            lo_, hi_ = bounds[li], bounds[li + 1]
            if hi_ > lo_:
                out[lanes[li]] = (he[lo_:hi_], hc[lo_:hi_].astype(np.int32))
    return out


# ------------------------------------------------------------ banded kernel


def banded_edit_distances(
    a_list: list, b_list: list, k, classes: dict | None = None
) -> np.ndarray:
    """Banded bit-parallel global edit distance (the edlib-style moving
    word window over Myers' recurrence).

    Per pair: exact distance if <= k_i, else k_i + 1. ``k`` scalar or
    per-pair array. Runs the compiled kernel when it is loaded and no
    ``classes`` profile is given, else :func:`_banded_edit_distances_numpy`.
    """
    if classes is None and _cbanded.LIB is not None:
        return _banded_edit_distances_c(a_list, b_list, k)
    return _banded_edit_distances_numpy(a_list, b_list, k, classes)


def _symbol_buffer(seqs: list) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated symbols and int64 offsets of a batch, in the units of
    :func:`_as_symbols`. uint8 when every symbol fits a byte (bytes,
    ASCII str, uint8 views), else uint32 codepoints."""
    parts = [
        s if isinstance(s, np.ndarray) and s.dtype == np.uint8
        else np.frombuffer(s, dtype=np.uint8) if isinstance(s, (bytes, bytearray))
        else np.frombuffer(s.encode(), dtype=np.uint8)
        if isinstance(s, str) and s.isascii()
        else _as_symbols(s)
        for s in seqs
    ]
    offs = np.zeros(len(parts) + 1, dtype=np.int64)
    np.cumsum([len(p) for p in parts], out=offs[1:])
    return np.concatenate(parts), offs


def _banded_edit_distances_c(a_list: list, b_list: list, k) -> np.ndarray:
    """The compiled kernel on a batch. When every symbol fits a byte the
    batch goes in one call; otherwise each pair is mapped onto its own
    distinct symbols, and a pair with more than 256 of them runs the
    numpy kernel."""
    bsz = len(a_list)
    if bsz == 0:
        return np.zeros(0, dtype=np.int64)
    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (bsz,)).copy()
    a_data, a_offs = _symbol_buffer(a_list)
    b_data, b_offs = _symbol_buffer(b_list)
    if a_data.dtype == np.uint8 and b_data.dtype == np.uint8:
        return _cbanded.distances(a_data, a_offs, b_data, b_offs, k_arr)
    out = np.empty(bsz, dtype=np.int64)
    wide = []
    for i in range(bsz):
        sa = a_data[a_offs[i] : a_offs[i + 1]]
        sb = b_data[b_offs[i] : b_offs[i + 1]]
        vals, inv = np.unique(np.concatenate([sa, sb]), return_inverse=True)
        if len(vals) > 256:
            wide.append(i)
            continue
        inv = inv.astype(np.uint8)
        out[i] = _cbanded.distances(
            inv[: len(sa)], [0, len(sa)], inv[len(sa) :], [0, len(sb)],
            k_arr[i : i + 1],
        )[0]
    if wide:
        out[wide] = _banded_edit_distances_numpy(
            [a_list[i] for i in wide], [b_list[i] for i in wide], k_arr[wide]
        )
    return out


def utf8_rows(data: np.ndarray, offs: np.ndarray) -> list:
    """The rows of a UTF-8 buffer with offsets (Arrow's string layout) as
    kernel inputs in codepoint units: uint8 views into ``data`` when the
    rows are all ASCII (a byte is then a codepoint, no copy), else
    decoded ``str``."""
    n = len(offs) - 1
    if _is_ascii(data, offs):
        return [data[offs[i] : offs[i + 1]] for i in range(n)]
    return [data[offs[i] : offs[i + 1]].tobytes().decode() for i in range(n)]


def _is_ascii(data: np.ndarray, offs: np.ndarray) -> bool:
    lo, hi = int(offs[0]), int(offs[-1])
    return not (hi > lo and (data[lo:hi] & 0x80).any())


def banded_edit_distances_utf8(
    a_data: np.ndarray, a_offs: np.ndarray,
    b_data: np.ndarray, b_offs: np.ndarray,
    k, chunk_rows: int = 512,
) -> np.ndarray:
    """:func:`banded_edit_distances` on pairs held as UTF-8 buffers with
    offsets (Arrow's string layout, as ``score_pairs`` gets its texts):
    pair i is row i of the a side against row i of the b side, in
    codepoint units.

    ASCII buffers go to the compiled kernel in one call, straight on the
    buffers. Otherwise (non-ASCII text, or no compiled kernel) the pairs
    run in chunks of ``chunk_rows``, sorted by b length so each chunk's
    texts are of similar length: the numpy kernel pads a chunk to its
    longest text, and past ~512 pairs its Peq gathers fall out of cache
    (measured 2x slower at 4096).
    """
    n = len(a_offs) - 1
    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (n,))
    if (
        _cbanded.LIB is not None
        and _is_ascii(a_data, a_offs)
        and _is_ascii(b_data, b_offs)
    ):
        return _cbanded.distances(a_data, a_offs, b_data, b_offs, k_arr)
    a_rows, b_rows = utf8_rows(a_data, a_offs), utf8_rows(b_data, b_offs)
    # the reference's length-sorting advice, src/search.rs:326-334
    order = np.argsort([len(s) for s in b_rows], kind="stable")
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, chunk_rows):
        sel = order[lo : lo + chunk_rows]
        out[sel] = banded_edit_distances(
            [a_rows[i] for i in sel], [b_rows[i] for i in sel], k_arr[sel]
        )
    return out


def _banded_edit_distances_numpy(
    a_list: list, b_list: list, k, classes: dict | None = None
) -> np.ndarray:
    """numpy form of :func:`banded_edit_distances`, vectorized over the
    batch: the fallback, the ``classes`` path, and the compiled kernel's
    oracle. Work per column is O(band_words) instead of
    O(pattern_words); finished and provably-hopeless pairs are compacted
    out of the batch as the scan advances (the batch analog of sassy's
    per-lane early termination, reference src/search.rs:952-975).
    """
    bsz = len(a_list)
    out = np.zeros(bsz, dtype=np.int64)
    if bsz == 0:
        return out
    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (bsz,)).copy()

    pats, texts = [], []
    for a, b in zip(a_list, b_list):
        ab, bb = _as_symbols(a), _as_symbols(b)
        if len(ab) > len(bb):
            ab, bb = bb, ab
        pats.append(ab)
        texts.append(bb)
    mlens = np.array([len(p) for p in pats], dtype=np.int64)
    nlens = np.array([len(t) for t in texts], dtype=np.int64)

    # trivial / prefiltered pairs
    hopeless0 = (nlens - mlens) > k_arr
    empty_p = mlens == 0
    out[hopeless0] = k_arr[hopeless0] + 1
    out[empty_p & ~hopeless0] = nlens[empty_p & ~hopeless0]
    live0 = ~(hopeless0 | empty_p)
    idx = np.nonzero(live0)[0]
    if len(idx) == 0:
        return out

    # dense per-alive arrays; pv/mv are (W, B) so each word's lane vector is
    # contiguous (column-major over words would stride by W and thrash cache)
    def compress(sel):
        nonlocal idx, pmat, tmat, mlens_a, tlens, k_a, pv, mv
        nonlocal score, track_row, top_row, peq_cache
        idx = idx[sel]
        pmat = pmat[sel]
        tmat = np.ascontiguousarray(tmat[:, sel])
        mlens_a = mlens_a[sel]
        tlens = tlens[sel]
        k_a = k_a[sel]
        pv = np.ascontiguousarray(pv[:, sel])
        mv = np.ascontiguousarray(mv[:, sel])
        score = score[sel]
        track_row = track_row[sel]
        top_row = top_row[sel]
        peq_cache = {w: np.ascontiguousarray(p[sel]) for w, p in peq_cache.items()}

    m_max = int(mlens[idx].max())
    n_max = int(nlens[idx].max())
    w_count = (m_max + 63) // 64
    pmat32 = np.zeros((len(idx), m_max), dtype=np.uint32)
    tmat32 = np.zeros((n_max, len(idx)), dtype=np.uint32)  # column-major scan
    for row, orig in enumerate(idx):
        pmat32[row, : len(pats[orig])] = pats[orig]
        tmat32[: len(texts[orig]), row] = texts[orig]
    (pmat, tmat), alphabet_size, originals = _compact_mats([pmat32, tmat32])
    compat = _compat_or_none(originals, classes)
    mlens_a = mlens[idx]
    tlens = nlens[idx]
    k_a = k_arr[idx]

    pv = np.full((w_count, len(idx)), UFULL, dtype=np.uint64)
    mv = np.zeros((w_count, len(idx)), dtype=np.uint64)
    top_row = mlens_a - 1  # bit-space row of D[m]
    peq_cache: dict[int, np.ndarray] = {}

    kmax = int(k_a.max())
    hi_w = min(w_count - 1, (63 + kmax) >> 6)
    lo_w = 0
    win_top = (hi_w + 1) * 64 - 1
    track_row = np.minimum(top_row, win_top)
    score = track_row + 1
    bi = np.arange(len(idx))

    jb = 0
    while jb < n_max and len(idx):
        if jb > 0:
            new_hi = min(w_count - 1, (jb + 63 + kmax) >> 6)
            if new_hi > hi_w:
                # virgin words above carry pv=all-ones (D grows +1 per row),
                # so the tracked score moves up by the row delta exactly
                hi_w = new_hi
                win_top = (hi_w + 1) * 64 - 1
                new_track = np.minimum(top_row, win_top)
                score += new_track - track_row
                track_row = new_track
            lo_w = max(lo_w, (jb - kmax) >> 6)
        for w in range(lo_w, hi_w + 1):
            if w not in peq_cache:
                peq_cache[w] = _peq_word(pmat, w, alphabet_size, compat)

        track_word = (track_row >> 6).astype(np.int64)
        track_bit = (U1 << (track_row & 63).astype(np.uint64))
        # per-word selection masks are stable within the block
        sel_by_word = {
            w: track_word == w
            for w in range(lo_w, hi_w + 1)
            if bool((track_word == w).any())
        }
        j_end = min(jb + 64, n_max)
        # preallocated scratch: the inner step would otherwise allocate
        # ~16 fresh temporaries per word per column — allocator churn is
        # both a cache hazard and (in this sandbox) a serialized-fault
        # hazard. All ops below write into these via out=.
        b_now = len(idx)
        eqw = np.empty(b_now, dtype=np.uint64)
        xv = np.empty(b_now, dtype=np.uint64)
        t1 = np.empty(b_now, dtype=np.uint64)
        t2 = np.empty(b_now, dtype=np.uint64)
        mh = np.empty(b_now, dtype=np.uint64)
        hin_p = np.empty(b_now, dtype=np.uint64)
        hin_m = np.empty(b_now, dtype=np.uint64)
        hout_p = np.empty(b_now, dtype=np.uint64)
        hout_m = np.empty(b_now, dtype=np.uint64)
        flat = np.empty(b_now, dtype=np.int64)
        base_idx = bi[:b_now] * np.int64(alphabet_size)
        for j in range(jb, j_end):
            act = tlens > j
            if not act.any():
                break
            chars = tmat[j]
            hin_p.fill(1)  # band-bottom/global +1
            hin_m.fill(0)
            for w in range(lo_w, hi_w + 1):
                pvw = pv[w]
                mvw = mv[w]
                np.add(base_idx, chars, out=flat)
                np.take(peq_cache[w].reshape(-1), flat, out=eqw)
                np.bitwise_or(eqw, mvw, out=xv)
                np.bitwise_or(eqw, hin_m, out=eqw)
                np.bitwise_and(eqw, pvw, out=t1)
                np.add(t1, pvw, out=t1)
                np.bitwise_xor(t1, pvw, out=t1)
                np.bitwise_or(t1, eqw, out=t1)  # t1 = xh
                np.bitwise_or(t1, pvw, out=t2)
                np.invert(t2, out=t2)
                np.bitwise_or(mvw, t2, out=t2)  # t2 = ph
                np.bitwise_and(pvw, t1, out=mh)  # mh
                sel = sel_by_word.get(w)
                if sel is not None:
                    sa = sel & act
                    tb = track_bit[sa]
                    score[sa] += ((t2[sa] & tb) != 0).astype(np.int64)
                    score[sa] -= ((mh[sa] & tb) != 0).astype(np.int64)
                np.right_shift(t2, U63, out=hout_p)
                np.right_shift(mh, U63, out=hout_m)
                np.left_shift(t2, U1, out=t2)
                np.bitwise_or(t2, hin_p, out=t2)  # ph shifted
                np.left_shift(mh, U1, out=mh)
                np.bitwise_or(mh, hin_m, out=mh)  # mh shifted
                np.bitwise_or(xv, t2, out=t1)
                np.invert(t1, out=t1)
                np.bitwise_or(mh, t1, out=pvw)  # pv[w] updated in place
                np.bitwise_and(t2, xv, out=mvw)  # mv[w] updated in place
                hin_p, hout_p = hout_p, hin_p
                hin_m, hout_m = hout_m, hin_m
            fin = tlens == j + 1
            if fin.any():
                out[idx[fin]] = np.minimum(score[fin], k_a[fin] + 1)
        jb = j_end
        # prune: any full path crosses every column; cells computed by the
        # banded recurrence are >= true and exact whenever true <= kmax, so
        # "entire computed column > k_a" proves the true final distance
        # > k_a (rows outside the window have |i - j| > kmax >= k_a).
        colmin = _window_column_min(pv, mv, lo_w, track_row, score)
        hopeless = colmin > k_a
        done = (tlens <= jb) | hopeless
        if done.any():
            h = hopeless & (tlens > jb)
            out[idx[h]] = k_a[h] + 1
            keep = ~done
            if not keep.any():
                break
            compress(keep)
            new_kmax = int(k_a.max())
            if new_kmax < kmax:
                kmax = new_kmax  # narrows future lo_w; hi_w never shrinks
    return out


def _peq_word(
    pmat: np.ndarray,
    w: int,
    alphabet_size: int = 256,
    compat: np.ndarray | None = None,
) -> np.ndarray:
    """Positional-equality masks for pattern word w only (lazy build: the
    banded kernel touches ~(2k+64)/64 words per column, so materializing
    the full (B, W, A) tensor would waste both time and memory).
    ``compat``: optional (A, A) bool class-equivalence matrix."""
    b = pmat.shape[0]
    peqw = np.zeros((b, alphabet_size), dtype=np.uint64)
    lo = w * 64
    hi = min(pmat.shape[1], lo + 64)
    if hi <= lo:
        return peqw
    chunk = pmat[:, lo:hi]
    if compat is not None:
        comp = compat[chunk.astype(np.intp)]  # (b, L, A)
        bits = (U1 << np.arange(hi - lo, dtype=np.uint64))
        return (comp.astype(np.uint64) * bits[None, :, None]).sum(
            axis=1, dtype=np.uint64
        )
    bits = (U1 << np.arange(hi - lo, dtype=np.uint64))
    rows = np.arange(b)[:, None]
    np.bitwise_or.at(peqw, (rows, chunk.astype(np.intp)), bits[None, :])
    # bits scattered for padding char 0 beyond each pattern's end sit above
    # the tracked row and never propagate downward — harmless by the same
    # argument as unbanded padding.
    return peqw


def _window_column_min(
    pv: np.ndarray,
    mv: np.ndarray,
    lo_w: int,
    track_row: np.ndarray,
    score: np.ndarray,
) -> np.ndarray:
    """Min DP value in the current column across the computed window.

    Unpacks the vertical-delta bitmasks (pv bit r => D[row r+2]-D[row r+1]
    = +1, mv => -1) and walks down from the tracked row whose value is
    known — the batch analog of sassy's prefix_min lane scan
    (reference src/minima.rs:62-92), done only at 64-column boundaries so
    the amortized cost is < 1 op per column per word.
    """
    tw_max = int(track_row.max()) >> 6
    sel = slice(lo_w, tw_max + 1)
    pbits = np.unpackbits(
        np.ascontiguousarray(pv[sel].T).view(np.uint8), axis=1, bitorder="little"
    ).astype(np.int32)
    mbits = np.unpackbits(
        np.ascontiguousarray(mv[sel].T).view(np.uint8), axis=1, bitorder="little"
    ).astype(np.int32)
    delta = pbits - mbits
    rows = np.arange(lo_w * 64, (tw_max + 1) * 64)
    invalid = rows[None, :] > track_row[:, None]
    delta[invalid] = 0
    # V[r] = D[DP row r+1]; V[track_row] = score;
    # V[r] = score - sum_{q > r} delta[q]
    suffix = np.cumsum(delta[:, ::-1], axis=1)[:, ::-1]
    v = score[:, None] - (suffix - delta)
    v[invalid] = BIG
    colmin = v.min(axis=1)
    bottom = v[:, 0] - delta[:, 0]  # DP row lo_w*64 itself
    return np.minimum(colmin, bottom)


# ---------------------------------------------------------------- traceback


def _class_match(pa: np.ndarray, ta: np.ndarray, classes: dict) -> np.ndarray:
    """(len(pa), len(ta)) bool profile-match matrix: chars match iff their
    class masks intersect; chars outside the profile match by equality."""
    pm = np.array([classes.get(int(c), -1) for c in pa], dtype=np.int64)
    tm = np.array([classes.get(int(c), -1) for c in ta], dtype=np.int64)
    both = (pm[:, None] >= 0) & (tm[None, :] >= 0)
    neither = (pm[:, None] < 0) & (tm[None, :] < 0)
    return np.where(
        both,
        (pm[:, None] & np.maximum(tm[None, :], 0)) > 0,
        neither & (pa[:, None] == ta[None, :]),
    )


def _fill_dp_batch(
    match: np.ndarray, semiglobal: bool
) -> np.ndarray:
    """Batched DP fill — the engine analog of the reference's SIMD batch
    refill (simd_fill, reference src/trace.rs:107-252; MatchBatch::process
    src/search.rs:1613-1689): all matrices of a batch advance one pattern
    row per numpy pass. ``match`` is (B, m_max, n_max) bool; returns
    (B, m_max+1, n_max+1) int32 cost tensors.

    The row recurrence's left-to-right dependency (run = min(cand, run+1))
    is the classic "clamped running min": D[i][j] = min_{j' <= j}
    (cand[j'] + (j - j')), vectorized as minimum.accumulate over
    (cand[j] - j) plus j — no per-column Python loop."""
    bsz, m_max, n_max = match.shape
    d = np.empty((bsz, m_max + 1, n_max + 1), dtype=np.int32)
    d[:, 0, :] = 0 if semiglobal else np.arange(n_max + 1, dtype=np.int32)
    d[:, :, 0] = np.arange(m_max + 1, dtype=np.int32)
    jj = np.arange(n_max + 1, dtype=np.int32)
    t = np.empty((bsz, n_max + 1), dtype=np.int32)
    for i in range(1, m_max + 1):
        prev = d[:, i - 1, :]
        cand = np.minimum(
            prev[:, 1:] + 1, prev[:, :-1] + (~match[:, i - 1, :])
        )
        t[:, 0] = i  # D[i][0] - 0
        np.subtract(cand, jj[None, 1:], out=t[:, 1:])
        np.minimum.accumulate(t, axis=1, out=t)
        d[:, i, :] = t + jj[None, :]
    return d


def _traceback_dp(
    pattern, text, end: int, cost: int, semiglobal: bool,
    classes: dict | None = None,
):
    """Shared banded DP table for the traceback family. Returns
    (d, match, n, lo) where d is the (m+1, n+1) cost matrix over the text
    window text[lo:end] and match[i, j] says whether pattern[i] matches
    text[lo+j] under the profile (exact equality when classes is None)."""
    pa = _as_symbols(pattern)
    ta_full = _as_symbols(text)[:end]
    m = len(pa)
    # window of text that can participate: at most m + cost chars back
    lo = max(0, end - m - cost) if semiglobal else 0
    ta = ta_full[lo:]
    n = len(ta)
    if classes is None:
        match = pa[:, None] == ta[None, :]
    else:
        match = _class_match(pa, ta, classes)
    d = _fill_dp_batch(match[None, :, :], semiglobal)[0]
    return d, match, n, lo


def _rle(ops: list[str]) -> str:
    cig = []
    for op in ops:
        if cig and cig[-1][1] == op:
            cig[-1][0] += 1
        else:
            cig.append([1, op])
    return "".join(f"{c}{op}" for c, op in cig)


def traceback(
    pattern, text, end: int, cost: int, semiglobal: bool = True,
    classes: dict | None = None,
):
    """Recover (start, cigar) for one accepted match by banded DP + greedy
    backtrace with the reference's preference order match > sub > del > ins
    (reference src/lib.rs:42-50, src/trace.rs:273-406). ``del`` consumes
    text, ``ins`` consumes pattern, ops emitted as ``= X I D`` run-length
    CIGAR like the reference (src/search.rs:53-61). All offsets are
    character offsets for str inputs.

    Only called on accepted matches, so an O(m * (m+k)) python DP is fine.
    """
    d, match, n, lo = _traceback_dp(pattern, text, end, cost, semiglobal, classes)
    m = match.shape[0]
    i, j = m, n
    ops: list[str] = []
    while i > 0 or (not semiglobal and j > 0):
        if i > 0 and j > 0 and match[i - 1, j - 1] and d[i, j] == d[i - 1, j - 1]:
            ops.append("=")
            i -= 1
            j -= 1
        elif i > 0 and j > 0 and d[i, j] == d[i - 1, j - 1] + 1:
            ops.append("X")
            i -= 1
            j -= 1
        elif j > 0 and d[i, j] == d[i, j - 1] + 1:
            ops.append("D")
            j -= 1
        elif i > 0 and d[i, j] == d[i - 1, j] + 1:
            ops.append("I")
            i -= 1
        else:  # pragma: no cover - DP invariant
            raise AssertionError("traceback stuck")
    ops.reverse()
    return lo + j, _rle(ops)


def _walk_greedy(d: np.ndarray, match: np.ndarray, m: int, n: int,
                 semiglobal: bool) -> tuple[int, str]:
    """Greedy backtrace over one filled DP window (preference order
    match > sub > del > ins, reference src/lib.rs:42-50). O(m + n)."""
    i, j = m, n
    ops: list[str] = []
    while i > 0 or (not semiglobal and j > 0):
        if i > 0 and j > 0 and match[i - 1, j - 1] and d[i, j] == d[i - 1, j - 1]:
            ops.append("=")
            i -= 1
            j -= 1
        elif i > 0 and j > 0 and d[i, j] == d[i - 1, j - 1] + 1:
            ops.append("X")
            i -= 1
            j -= 1
        elif j > 0 and d[i, j] == d[i, j - 1] + 1:
            ops.append("D")
            j -= 1
        elif i > 0 and d[i, j] == d[i - 1, j] + 1:
            ops.append("I")
            i -= 1
        else:  # pragma: no cover - DP invariant
            raise AssertionError("traceback stuck")
    ops.reverse()
    return j, _rle(ops)


def traceback_batch(
    patterns: list,
    texts: list,
    ends: list,
    costs: list,
    semiglobal: bool = True,
    classes: dict | None = None,
    max_cells: int = 1 << 25,
) -> list[tuple[int, str]]:
    """(start, cigar) for a BATCH of accepted matches — the engine analog
    of the reference's batched trace refill (K11/B7: ``simd_fill``
    reference src/trace.rs:107-252, driven per accepted-match batch by
    ``MatchBatch::process`` src/search.rs:1613-1689): every DP window of
    the batch is filled by the shared vectorized row recurrence
    (:func:`_fill_dp_batch`), one numpy pass per pattern row instead of a
    per-match per-cell Python loop; only the O(m+n) backtrace walk stays
    per-match. Windows are padded to the batch max (m_max, n_max) —
    ``max_cells`` bounds the padded tensor, chunking oversized batches.
    """
    bsz = len(patterns)
    if bsz == 0:
        return []
    pas = [_as_symbols(p) for p in patterns]
    # dense-match batches trace the SAME text at many end positions —
    # convert each distinct string once, slice windows from the cache
    sym_cache: dict[int, np.ndarray] = {}
    los: list[int] = []
    tas: list[np.ndarray] = []
    for pa, t, e, c in zip(pas, texts, ends, costs):
        full = sym_cache.get(id(t))
        if full is None:
            full = _as_symbols(t)
            sym_cache[id(t)] = full
        e = int(e)
        lo = max(0, e - len(pa) - int(c)) if semiglobal else 0
        los.append(lo)
        tas.append(full[lo:e])
    m_arr = np.array([len(p) for p in pas], dtype=np.int64)
    n_arr = np.array([len(t) for t in tas], dtype=np.int64)
    m_max = int(m_arr.max()) if bsz else 0
    n_max = int(n_arr.max()) if bsz else 0
    cells = bsz * max(m_max, 1) * max(n_max, 1)
    if cells > max_cells and bsz > 1:
        half = bsz // 2
        return traceback_batch(
            patterns[:half], texts[:half], ends[:half], costs[:half],
            semiglobal, classes, max_cells,
        ) + traceback_batch(
            patterns[half:], texts[half:], ends[half:], costs[half:],
            semiglobal, classes, max_cells,
        )
    pmat = np.zeros((bsz, m_max), dtype=np.uint32)
    tmat = np.zeros((bsz, n_max), dtype=np.uint32)
    for i, (pa, ta) in enumerate(zip(pas, tas)):
        pmat[i, : len(pa)] = pa
        tmat[i, : len(ta)] = ta
    if classes is None:
        match = pmat[:, :, None] == tmat[:, None, :]
    else:
        # class masks via one dict pass over the distinct symbols of the
        # batch, then a vectorized table lookup
        uniq, inv = np.unique(np.concatenate([pmat.ravel(), tmat.ravel()])
                              if bsz else np.zeros(0, np.uint32),
                              return_inverse=True)
        lut = np.array([classes.get(int(u), -1) for u in uniq], dtype=np.int64)
        sym_m = lut[inv].reshape(-1)
        pm = sym_m[: pmat.size].reshape(bsz, m_max)
        tm = sym_m[pmat.size :].reshape(bsz, n_max)
        both = (pm[:, :, None] >= 0) & (tm[:, None, :] >= 0)
        neither = (pm[:, :, None] < 0) & (tm[:, None, :] < 0)
        match = np.where(
            both,
            (pm[:, :, None] & np.maximum(tm[:, None, :], 0)) > 0,
            neither & (pmat[:, :, None] == tmat[:, None, :]),
        )
    d = _fill_dp_batch(match, semiglobal)
    out: list[tuple[int, str]] = []
    for i in range(bsz):
        m_i, n_i = int(m_arr[i]), int(n_arr[i])
        j, cigar = _walk_greedy(d[i], match[i], m_i, n_i, semiglobal)
        out.append((los[i] + j, cigar))
    return out


def all_optimal_tracebacks(
    pattern,
    text,
    end: int,
    cost: int,
    semiglobal: bool = True,
    max_paths: int = 64,
    classes: dict | None = None,
) -> list[tuple[int, str]]:
    """Every distinct cost-minimal alignment of ``pattern`` ending at
    ``end`` — the engine's search_all_alignments enumeration (K7,
    reference src/search.rs:708-754 / src/alignment_iterator.rs). DFS over
    the DP matrix branching on every optimal predecessor, in the greedy
    preference order (= > X > D > I) so the first path equals
    :func:`traceback`'s answer. Returns [(start, cigar), ...], capped at
    ``max_paths`` (documented bound; the reference's iterator is similarly
    driven by a continuation that callers can stop).

    Optimal-path enumeration automatically applies the reference's "a
    substitution is never replaced by an insertion-deletion pair" filter:
    such a rewrite costs strictly more, so it never appears on a minimal
    path.
    """
    d, match, n, lo = _traceback_dp(pattern, text, end, cost, semiglobal, classes)
    m = match.shape[0]
    results: list[tuple[int, str]] = []
    ops: list[str] = []
    # explicit-stack DFS (recursion depth would be ~m+n per path, which
    # overflows Python's frame limit for long patterns); each stack entry
    # is (i, j, next_move_index); moves in greedy preference order so the
    # first completed path equals traceback()'s answer
    stack: list[list[int]] = [[m, n, 0]]
    while stack and len(results) < max_paths:
        i, j, step = stack[-1]
        if step == 0 and i == 0 and (semiglobal or j == 0):
            results.append((lo + j, _rle(ops[::-1])))
            stack.pop()
            if ops:
                ops.pop()
            continue
        moved = False
        while step < 4 and not moved:
            if step == 0:
                if i > 0 and j > 0 and match[i - 1, j - 1] and d[i, j] == d[i - 1, j - 1]:
                    ops.append("=")
                    stack[-1][2] = 1
                    stack.append([i - 1, j - 1, 0])
                    moved = True
                else:
                    step = 1
            elif step == 1:
                if (
                    i > 0 and j > 0 and not match[i - 1, j - 1]
                    and d[i, j] == d[i - 1, j - 1] + 1
                ):
                    ops.append("X")
                    stack[-1][2] = 2
                    stack.append([i - 1, j - 1, 0])
                    moved = True
                else:
                    step = 2
            elif step == 2:
                if j > 0 and d[i, j] == d[i, j - 1] + 1:
                    ops.append("D")
                    stack[-1][2] = 3
                    stack.append([i, j - 1, 0])
                    moved = True
                else:
                    step = 3
            else:
                if i > 0 and d[i, j] == d[i - 1, j] + 1:
                    ops.append("I")
                    stack[-1][2] = 4
                    stack.append([i - 1, j, 0])
                    moved = True
                else:
                    step = 4
        if not moved:
            stack.pop()
            if ops:
                ops.pop()
    return results


def all_tracebacks_within_k(
    pattern,
    text,
    end: int,
    k: int,
    max_paths: int = 64,
    classes: dict | None = None,
) -> list[tuple[int, int, str]]:
    """Every "reasonable" alignment of ``pattern`` ending at ``end`` with
    cost <= ``k`` — full behavioral parity with the reference's bounded
    sub-optimal enumeration (src/alignment_iterator.rs:52-411), which
    emits not just cost-minimal paths but all cost<=k paths minus the
    clearly-inefficient ones. Returns [(start, cost, cigar), ...]
    (semiglobal, capped at ``max_paths`` like the reference's
    Break continuation).

    The three inefficiency filters, re-derived from the reference's DFS
    (alignment_iterator.rs:246-327) and implemented over this engine's
    banded DP window:

    * no leading/trailing text gaps — a ``D`` op is forbidden while no
      pattern char has been consumed yet (alignment right edge) or after
      all have been (left edge); in semiglobal search such gaps only
      restate a shorter match,
    * diagonal discipline — a gap op may not LEAVE a diagonal whose
      remaining pattern prefix exactly matches the text to its left
      (the match-extension to the matrix top), and may not ENTER a
      diagonal that was reachable by exact matches from the matrix
      bottom or from the row where the DFS last visited that diagonal
      (tracked per-diagonal, restored on backtrack),
    * no mixed indels — since the last exact-match op, insertions and
      deletions may not both appear (substitutions are transparent),
      which forces substitution over an ins+del pair.

    The diagonal rules compare against the FULL text, not just the DP
    window: the reference's match-extension slices
    (alignment_iterator.rs:295-327) index ``self.text`` directly and may
    reach up to ``m`` chars past ``end`` (enter rule, bottom-of-matrix
    default) or before the window start (leave rule after a long gap
    run), so an extended profile-match matrix over
    ``text[lo-m : end+m]`` backs both checks here.

    Edges are explored in ascending (cost-so-far + edge + optimal
    cost-to-go) order with match/sub preferred on ties, mirroring the
    reference's stable sort, so lower-cost alignments surface first.
    Python recursion is fine here: depth <= m + k and the enumeration
    runs only on accepted matches, exactly like the reference's
    post-filter trace stage.
    """
    import sys

    d, match, n, lo = _traceback_dp(pattern, text, end, k, True, classes)
    m = match.shape[0]
    if int(d[m, n]) > k:
        return []
    # extended match matrix over text[lo2:hi2] for the diagonal rules
    pa = _as_symbols(pattern)
    ta_full = _as_symbols(text)
    text_len = len(ta_full)
    lo2 = max(0, lo - m)
    hi2 = min(text_len, end + m)
    ta_ext = ta_full[lo2:hi2]
    if classes is None:
        ematch = pa[:, None] == ta_ext[None, :]
    else:
        ematch = _class_match(pa, ta_ext, classes)
    results: list[tuple[int, int, str]] = []
    ops: list[str] = []
    # last pattern row at which each diagonal (j - i, offset by m) was
    # visited; default m = "bottom of the matrix"
    last_row = [m] * (n + m + 1)

    def _diag_match(pi0: int, pi1: int, t_abs: int) -> bool:
        """pattern[pi0:pi1] profile-matches text[t_abs : t_abs+len] in
        ABSOLUTE text coordinates? Empty slices are vacuously true (the
        reference's is_match_slice semantics, which make same-row
        diagonal re-entry forbidden); slices that fall outside the text
        are false (unequal-length / explicit bounds check in the
        reference, both of which allow the gap edge)."""
        ln = pi1 - pi0
        if ln <= 0:
            return True
        if t_abs < 0 or t_abs + ln > text_len:
            return False
        rows = np.arange(pi0, pi1)
        cols = np.arange(t_abs - lo2, t_abs - lo2 + ln)
        return bool(ematch[rows, cols].all())

    def _net_indels() -> int:
        net = 0
        for op in reversed(ops):
            if op == "=":
                break
            if op == "I":
                net += 1
            elif op == "D":
                net -= 1
        return net

    def dfs(i: int, j: int, cost: int) -> None:
        if len(results) >= max_paths:
            return
        if i == 0:
            results.append((lo + j, cost, _rle(ops[::-1])))
            return
        edges: list[tuple[int, int, str, int, int]] = []  # (total, order, op, ni, nj)
        # match/sub
        if i > 0 and j > 0:
            is_m = bool(match[i - 1, j - 1])
            op = "=" if is_m else "X"
            c = 0 if is_m else 1
            total = cost + c + int(d[i - 1, j - 1])
            if total <= k:
                edges.append((total, 0, op, i - 1, j - 1))
        gaps_ok = not _diag_match(0, i, lo + j - i)  # leave rule
        if gaps_ok:
            net = _net_indels()
            # D: text gap — forbidden at the alignment edges
            if j > 0 and 0 < i < m and net <= 0:
                total = cost + 1 + int(d[i, j - 1])
                if total <= k and not _diag_match(
                    i, last_row[(j - 1) - i + m], lo + j - 1
                ):
                    edges.append((total, 1, "D", i, j - 1))
            # I: pattern gap
            if i > 0 and net >= 0:
                total = cost + 1 + int(d[i - 1, j])
                if total <= k and not _diag_match(
                    i - 1, last_row[j - (i - 1) + m], lo + j
                ):
                    edges.append((total, 2, "I", i - 1, j))
        edges.sort(key=lambda e: (e[0], e[1]))
        for _total, _ord, op, ni, nj in edges:
            if len(results) >= max_paths:
                return
            dg = nj - ni + m
            old = last_row[dg]
            last_row[dg] = ni
            ops.append(op)
            dfs(ni, nj, cost + (0 if op == "=" else 1))
            ops.pop()
            last_row[dg] = old

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old_limit, 4 * (m + n) + 1000))
    try:
        dfs(m, n, 0)
    finally:
        sys.setrecursionlimit(old_limit)
    return results
