"""Hash-sketch functions: MinHash, SimHash, winnowing fingerprints.

The MinHash sketch is batch-at-a-time numpy (``shingle_hashes_batch`` +
``oph_signatures_batch``), called by ``operators.dedup.minhash_sketch``,
the one sketch UDF. SimHash and winnowing are pandas UDFs over numpy
(no per-row Python objects in the loop bodies beyond a thin
per-document dispatch; the inner work is vectorized uint64 math).
Deterministic: hash mixers are fixed constants, permutations derive
from a seed, so blocking keys are stable across runs/partitions
(required for resumable checkpoints). The batch sketch is pinned bit
for bit against a per-document oracle in ``tests/test_hashing.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)
_PRIME = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 increment


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _PRIME) & _MASK
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return z ^ (z >> np.uint64(31))


def shingle_hashes(text: str, n: int = 5) -> np.ndarray:
    """uint64 hashes of all char n-grams (UTF-8 bytes), vectorized."""
    b = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    if len(b) < n:
        b = np.pad(b, (0, n - len(b)))
    win = np.lib.stride_tricks.sliding_window_view(b, n).astype(np.uint64)
    pw = np.uint64(1099511628211) ** np.arange(n, dtype=np.uint64)  # FNV prime
    raw = (win * pw[::-1]).sum(axis=1, dtype=np.uint64)
    return _splitmix64(raw)


def shingle_hashes_batch(
    texts: list, n: int = 5
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Char-n-gram hashes for a BATCH of texts in one pass.

    Returns (hashes, doc_idx, counts): all documents' shingle hashes
    concatenated, the owning document per hash, and shingles per doc.
    Bit-identical to per-doc :func:`shingle_hashes` (same polynomial,
    same zero padding for short docs) but computed via the prefix-sum
    identity H[s] = p^(s+n-1) * (S[s+n] - S[s]) mod 2^64 — O(total
    bytes) with ~6 vector passes instead of a per-doc window matrix.
    """
    enc = []
    for t in texts:
        e = t.encode("utf-8", "surrogatepass")
        if len(e) < n:
            e = e + b"\0" * (n - len(e))
        enc.append(e)
    d = len(enc)
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    b = np.frombuffer(b"".join(enc), dtype=np.uint8)
    big_l = len(b)
    if big_l == 0:
        z = np.zeros(0, dtype=np.uint64)
        return z, np.zeros(0, dtype=np.int64), np.zeros(d, dtype=np.int64)
    p = np.uint64(1099511628211)
    pinv = _FNV_PINV
    p_pow = np.empty(big_l + 1, dtype=np.uint64)
    p_pow[0] = np.uint64(1)
    p_pow[1:] = p
    np.multiply.accumulate(p_pow, out=p_pow)
    pinv_pow = np.empty(big_l, dtype=np.uint64)
    pinv_pow[0] = np.uint64(1)
    if big_l > 1:
        pinv_pow[1:] = pinv
        np.multiply.accumulate(pinv_pow, out=pinv_pow)
    s_prefix = np.zeros(big_l + 1, dtype=np.uint64)
    np.cumsum(b.astype(np.uint64) * pinv_pow, out=s_prefix[1:])
    # valid window starts: within one document only
    counts = lens - n + 1
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
    doc_idx = np.repeat(np.arange(d, dtype=np.int64), counts)
    within = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    starts = within + np.repeat(offsets, counts)
    raw = p_pow[starts + n - 1] * (s_prefix[starts + n] - s_prefix[starts])
    return _splitmix64(raw), doc_idx, counts


def oph_signatures_batch(
    h: np.ndarray, doc_idx: np.ndarray, n_docs: int, n_bins: int = 128
) -> np.ndarray:
    """One-permutation minhash signatures for a whole batch: one scatter
    assigns every shingle to its (doc, bin) minimum, then rotation
    densification runs vectorized over the (D, n_bins) matrix. Each row
    is exactly the per-document one-permutation minhash (Li, Owen, Zhang
    2012) with rotation densification: the oracle and the bit-for-bit
    pin are in ``tests/test_hashing.py``."""
    bins = (h % np.uint64(n_bins)).astype(np.int64)
    vals = h // np.uint64(n_bins)
    sig = np.full(n_docs * n_bins, _MASK, dtype=np.uint64)
    np.minimum.at(sig, doc_idx * n_bins + bins, vals)
    sig = sig.reshape(n_docs, n_bins)
    empty = sig == _MASK
    if empty.any():
        cols = np.arange(n_bins, dtype=np.int64)
        inf = np.int64(n_bins * 2)
        pos = np.where(~empty, cols[None, :], inf)
        # next filled bin at-or-after each position (suffix min) ...
        nxt = np.minimum.accumulate(pos[:, ::-1], axis=1)[:, ::-1]
        first = nxt[:, :1]  # ... wrapping to the row's first filled bin
        src = np.where(nxt >= inf, np.broadcast_to(first, nxt.shape), nxt)
        all_empty = empty.all(axis=1)
        src = np.where(src >= inf, 0, src)  # placeholder for all-empty rows
        borrow = _splitmix64(
            np.take_along_axis(sig, src, axis=1)
            + cols[None, :].astype(np.uint64)
        )
        sig = np.where(empty, borrow, sig)
        if all_empty.any():
            sig[all_empty] = 0
    return sig


_FNV_P = np.uint64(1099511628211)
# p is odd -> invertible mod 2^64; the inverse lets token hashes over
# arbitrary [s, e) byte segments come from two prefix sums + one multiply
_FNV_PINV = np.uint64(pow(1099511628211, -1, 1 << 64))
_WS = np.zeros(256, dtype=bool)
for _c in b" \t\n\r\x0b\x0c":
    _WS[_c] = True


def token_hashes(text: str, seed: int = 42) -> np.ndarray:
    """uint64 hash per whitespace token — fully vectorized.

    Polynomial hash H(tok[s:e)) = sum b_i * p^(e-1-i) mod 2^64, computed
    for ALL tokens at once via the prefix-sum identity
    H = p^(e-1) * (S[e] - S[s]) with S[j] = sum_{i<j} b_i * p^(-i):
    no per-byte (or per-token) Python loop — the document is one numpy
    pass regardless of token count. splitmix64-finished with the seed.
    """
    b = np.frombuffer(
        text.lower().encode("utf-8", "surrogatepass"), dtype=np.uint8
    )
    n = len(b)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    ws = _WS[b]
    nonws = ~ws
    edge = np.empty(n + 1, dtype=bool)
    edge[0] = nonws[0]
    np.not_equal(nonws[1:], nonws[:-1], out=edge[1:n])
    edge[n] = nonws[-1]
    bounds = np.flatnonzero(edge)  # alternating start/end offsets
    starts = bounds[0::2]
    ends = bounds[1::2]
    if len(starts) == 0:
        return np.zeros(0, dtype=np.uint64)
    pinv_pow = np.empty(n, dtype=np.uint64)
    pinv_pow[0] = np.uint64(1)
    if n > 1:
        pinv_pow[1:] = _FNV_PINV
        np.multiply.accumulate(pinv_pow, out=pinv_pow)  # p^-i, wraps mod 2^64
    p_pow = np.empty(n, dtype=np.uint64)
    p_pow[0] = np.uint64(1)
    if n > 1:
        p_pow[1:] = _FNV_P
        np.multiply.accumulate(p_pow, out=p_pow)
    s_prefix = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(b.astype(np.uint64) * pinv_pow, out=s_prefix[1:])
    raw = p_pow[ends - 1] * (s_prefix[ends] - s_prefix[starts])
    return _splitmix64(raw + np.uint64(seed))


def make_simhash_udf(seed: int = 42):
    """pandas UDF: text -> bigint 64-bit SimHash over token hashes.

    Token hashing is the vectorized prefix-sum polynomial (no per-byte
    Python); the bit votes come from one unpackbits + column sum."""

    @F.pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        bits = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            hs = token_hashes(t, seed)
            if len(hs) == 0:
                continue
            onbits = np.unpackbits(
                hs[:, None].view(np.uint8), axis=1, bitorder="little"
            )
            votes = onbits.sum(axis=0, dtype=np.int64) * 2 - len(hs)
            fp = bits[votes > 0].sum(dtype=np.uint64) if (votes > 0).any() else np.uint64(0)
            out[i] = np.int64(fp.astype(np.int64))
        return pd.Series(out)

    return simhash


def make_fingerprint_udf(ngram: int = 8, window: int = 16):
    """pandas UDF: text -> array<bigint> winnowing fingerprint (the
    rolling-hash document fingerprint: per sliding window of ngram-hashes,
    keep the minimum — standard winnowing, robust to local edits)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fingerprint(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            h = shingle_hashes(t, ngram)
            if len(h) <= window:
                out.append(np.unique(h).astype(np.int64))
                continue
            win = np.lib.stride_tricks.sliding_window_view(h, window)
            mins = win.min(axis=1)
            out.append(np.unique(mins).astype(np.int64))
        return pd.Series(out)

    return fingerprint


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints — pure Catalyst
    (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))
