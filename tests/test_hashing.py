"""The batch minhash sketch (``shingle_hashes_batch`` +
``oph_signatures_batch``, the only sketch the engine runs) pinned bit for
bit against a per-document oracle: ``shingle_hashes`` per text and the
one-permutation minhash below, applied one document at a time."""

import numpy as np
import pytest

from sassy_spark.functions.hashing import (
    _MASK,
    _splitmix64,
    oph_signatures_batch,
    shingle_hashes,
    shingle_hashes_batch,
)


def oph_signature(h: np.ndarray, n_bins: int = 128) -> np.ndarray:
    """One-permutation minhash (Li, Owen, Zhang 2012): bin each shingle
    hash by its low bits, keep the min per bin — one pass over the
    shingles instead of n_bins passes. Empty bins are filled by rotation
    densification (borrow from the next non-empty bin, re-mixed), which
    preserves the unbiased Jaccard estimate for LSH banding.
    """
    bins = (h % np.uint64(n_bins)).astype(np.int64)
    vals = h // np.uint64(n_bins)
    sig = np.full(n_bins, _MASK, dtype=np.uint64)
    np.minimum.at(sig, bins, vals)
    empty = sig == _MASK
    if empty.any():
        if empty.all():
            return np.zeros(n_bins, dtype=np.uint64)
        # rotation densification: walk from each empty bin to the next
        # filled one (wrapping), offset-mixed so borrowed values differ
        filled_idx = np.nonzero(~empty)[0]
        # for each bin, the next filled bin at or after it (cyclic)
        pos = np.searchsorted(filled_idx, np.arange(n_bins))
        pos[pos == len(filled_idx)] = 0
        src = filled_idx[pos]
        borrow = _splitmix64(sig[src] + np.arange(n_bins, dtype=np.uint64))
        sig = np.where(empty, borrow, sig)
    return sig


TEXTS = [
    "the quick brown fox jumps over the lazy dog " * 6,  # ASCII, long
    "Ärger über Straße, café crème à la français",  # Latin-1
    "emoji 😀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 astral 𠜎𠜱 plane",  # astral plane (4-byte UTF-8)
    "",  # empty
    "abcd",  # shorter than the 5-gram
    "é",  # shorter than n in bytes, non-ASCII
    "exactly5",
    "a",
]


@pytest.mark.parametrize("ngram", [5, 3])
def test_shingle_hashes_batch_equals_per_document(ngram):
    h, doc_idx, counts = shingle_hashes_batch(TEXTS, ngram)
    for i, t in enumerate(TEXTS):
        expect = shingle_hashes(t, ngram)
        assert counts[i] == len(expect)
        assert np.array_equal(h[doc_idx == i], expect), t


@pytest.mark.parametrize("n_bins", [128, 4])
@pytest.mark.parametrize("ngram", [5, 3])
def test_oph_signatures_batch_equals_per_document_oracle(n_bins, ngram):
    h, doc_idx, _ = shingle_hashes_batch(TEXTS, ngram)
    sigs = oph_signatures_batch(h, doc_idx, len(TEXTS), n_bins)
    assert sigs.shape == (len(TEXTS), n_bins) and sigs.dtype == np.uint64
    for i, t in enumerate(TEXTS):
        expect = oph_signature(shingle_hashes(t, ngram), n_bins)
        assert np.array_equal(sigs[i], expect), t
    if n_bins == 128:
        # a one-shingle text leaves 127 bins empty: densification ran
        one = TEXTS.index("a")
        assert len(set(sigs[one].tolist())) == n_bins


def test_oph_signatures_batch_all_empty_rows_and_seed_mix():
    """Documents with no shingles (only reachable through doc_idx) come
    out all-zero, as the oracle's empty signature does; the seed XOR that
    ``dedup.minhash_sketch`` applies keeps the rows equal too."""
    h, doc_idx, _ = shingle_hashes_batch(TEXTS, 5)
    h = h ^ np.uint64(42 * 0x9E3779B97F4A7C15 % (1 << 63))
    # spread the documents over rows 0, 2, 4, ...: the odd rows stay empty
    n_docs = 2 * len(TEXTS)
    for n_bins in (128, 4):
        sigs = oph_signatures_batch(h, doc_idx * 2, n_docs, n_bins)
        for i in range(len(TEXTS)):
            assert np.array_equal(
                sigs[2 * i], oph_signature(h[doc_idx == i], n_bins)
            )
            assert np.array_equal(
                sigs[2 * i + 1], oph_signature(h[:0], n_bins)
            )
            assert not sigs[2 * i + 1].any()
