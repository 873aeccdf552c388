"""The compiled banded kernel (kernel/cbanded.c): codepoint units, the
numpy fallback of the pair scorer, and the on-disk build cache."""

import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from sassy_spark.kernel import cbanded
from sassy_spark.kernel.myers import (
    _banded_edit_distances_numpy,
    banded_edit_distances,
)
from sassy_spark.operators import linkage

from reference_dp import levenshtein

ROOT = Path(__file__).resolve().parent.parent

needs_c = pytest.mark.skipif(
    cbanded.LIB is None, reason=f"no C kernel: {cbanded.ERROR}"
)


@needs_c
def test_compiled_codepoint_units():
    """str inputs count codepoints (SQL levenshtein units), bytes inputs
    count bytes, also when a batch or a single pair has more than 256
    distinct symbols."""
    assert banded_edit_distances(["café"], ["cafe"], 3).tolist() == [1]
    assert banded_edit_distances(["café".encode()], [b"cafe"], 3).tolist() == [2]
    a = "naïve café — 東京 😀 résumé, ß and Ω"
    b = "naive cafe - 東京都 😀 resume, ss and Ω"
    assert banded_edit_distances([a], [b], 40).tolist() == [levenshtein(a, b)]
    # 2 pairs of 200 distinct CJK codepoints each (mapped onto a byte per
    # pair), and one pair of 300 distinct codepoints (numpy runs that one)
    cjk = [chr(0x4E00 + i) for i in range(700)]
    x1, x2, x3 = "".join(cjk[:200]), "".join(cjk[200:400]), "".join(cjk[400:700])
    ys = [x1[:50] + x1[60:], x2[::-1][:150], x3[:100] + "a" + x3[100:]]
    got = banded_edit_distances([x1, x2, x3], ys, 300).tolist()
    assert got == [levenshtein(x, y) for x, y in zip([x1, x2, x3], ys)]


@needs_c
def test_compiled_equals_numpy_seeded_fuzz():
    """Longer pairs than the hypothesis test reaches: edited copies with
    blocks inserted in front, small alphabets, k near the distance."""
    rng = np.random.default_rng(7)
    a_list, b_list, ks = [], [], []
    for _ in range(600):
        sigma = int(rng.choice([2, 4, 26]))
        a = rng.integers(97, 97 + sigma, int(rng.integers(0, 700)), dtype=np.uint8)
        b = a.copy()
        for _ in range(int(rng.integers(0, 40))):
            pos = int(rng.integers(0, len(b) + 1))
            op = int(rng.integers(0, 3))
            if op == 0:
                b = np.insert(b, pos, 97 + rng.integers(0, sigma))
            elif op == 1 and pos < len(b):
                b = np.delete(b, pos)
            elif pos < len(b):
                b[pos] = 97 + rng.integers(0, sigma)
        block = rng.integers(97, 97 + sigma, int(rng.choice([0, 30, 70, 150])))
        b = np.concatenate([block.astype(np.uint8), b])
        a_list.append(a)
        b_list.append(b)
        ks.append(int(rng.integers(0, 120)))
    ks = np.array(ks)
    want = _banded_edit_distances_numpy(a_list, b_list, ks)
    assert banded_edit_distances(a_list, b_list, ks).tolist() == want.tolist()


@needs_c
def test_score_pairs_numpy_fallback_matches_compiled(spark, monkeypatch):
    """score_pairs' kernel body gives the same output with the compiled
    library removed (the numpy fallback) as with it, on an ASCII and a
    non-ASCII Arrow batch, and both equal the Spark run."""
    rows = [
        (f"u{i}", "the quick brown fox %d jumps over the lazy dog " % i * (2 + i % 5))
        for i in range(30)
    ] + [
        (f"v{i}", "café über straße %d — 東京 " % (i % 3) * (3 + i % 4))
        for i in range(10)
    ]
    pages = spark.createDataFrame(rows, ["url", "text"])
    pair_list = [
        (f"u{i}", f"u{j}") for i in range(30) for j in range(i + 1, min(30, i + 4))
    ] + [(f"v{i}", f"v{j}") for i in range(10) for j in range(i + 1, 10)]
    pairs = spark.createDataFrame(pair_list, ["url_a", "url_b"])
    spark_out = (
        linkage.score_pairs(pairs, pages, k_frac=0.2)
        .toPandas()
        .sort_values(["url_a", "url_b"])
        .reset_index(drop=True)
    )
    assert len(spark_out) > 0

    # the same kernel input, scored in this process
    text = dict(rows)
    inp = spark_out[["url_a", "url_b", "len_a", "len_b", "k_eff"]].copy()
    inp["text_a"] = inp["url_a"].map(text)
    inp["text_b"] = inp["url_b"].map(text)
    ascii_rows = inp["url_a"].str.startswith("u")
    batches = [
        pa.RecordBatch.from_pandas(inp[sel], preserve_index=False)
        for sel in (ascii_rows, ~ascii_rows)
    ]

    def score():
        out = linkage._score_batches(
            batches, score_mode="global", alpha=None, max_overhang=None,
            chunk_rows=512,
        )
        return pa.Table.from_batches(list(out)).to_pandas()

    compiled = score()
    monkeypatch.setattr(cbanded, "LIB", None)
    fallback = score()
    cols = ["url_a", "url_b", "cost", "normalized_cost", "is_match"]
    assert compiled[cols].equals(fallback[cols])
    assert compiled[cols].sort_values(["url_a", "url_b"]).reset_index(
        drop=True
    ).equals(spark_out[cols])


def _cjk_batch(n_pairs: int, seed: int = 3) -> pa.RecordBatch:
    """score_pairs' kernel input: pairs of 300 distinct CJK codepoints,
    b = a with j of them replaced by codepoints a lacks, so the
    distance is exactly j."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_pairs):
        cps = rng.choice(20000, size=300 + int(rng.integers(0, 40)), replace=False)
        a = [chr(0x4E00 + int(c)) for c in cps]
        b = list(a)
        j = int(rng.integers(0, 8))
        for n, pos in enumerate(rng.choice(len(a), size=j, replace=False)):
            b[pos] = chr(0xAC00 + 8 * i + n)  # Hangul: never in a
        rows.append(("".join(a), "".join(b), j))
    text_a, text_b, dist = zip(*rows)
    lens = [len(t) for t in text_a]
    return pa.RecordBatch.from_pydict({
        "url_a": [f"a{i}" for i in range(n_pairs)],
        "url_b": [f"b{i}" for i in range(n_pairs)],
        "len_a": lens, "len_b": lens, "k_eff": [5] * n_pairs,
        "text_a": list(text_a), "text_b": list(text_b), "dist": list(dist),
    })


def test_score_wide_cjk_batch_in_sorted_chunks(monkeypatch):
    """A non-ASCII Arrow batch of more than 512 pairs with more than 256
    distinct codepoints each runs the numpy kernel in length-sorted
    chunks of at most chunk_rows pairs, with codepoint costs."""
    from sassy_spark.kernel import myers

    batch = _cjk_batch(600)
    calls = []
    numpy_kernel = myers._banded_edit_distances_numpy

    def recording(a_list, b_list, k, classes=None):
        calls.append([len(b) for b in b_list])
        return numpy_kernel(a_list, b_list, k, classes)

    monkeypatch.setattr(myers, "_banded_edit_distances_numpy", recording)
    out = pa.Table.from_batches(list(linkage._score_batches(
        [batch], score_mode="global", alpha=None, max_overhang=None,
        chunk_rows=512,
    )))
    dist = np.array(batch.column("dist"))
    assert out.column("cost").to_pylist() == np.minimum(dist, 6).tolist()
    assert sorted(len(c) for c in calls) == [88, 512]
    # length-sorted: every length in the first chunk <= every one after
    first, second = sorted(calls, key=len, reverse=True)
    assert max(first) <= min(second)


LOAD = (
    "import sys; from pathlib import Path; "
    "from sassy_spark.kernel import cbanded; "
    "m, compiled = cbanded.load(Path(sys.argv[1])); "
    "assert m.lib.sassy_banded_lev; print(compiled)"
)


def _load_in_subprocess(cache: Path) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", LOAD, str(cache)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


@needs_c
def test_build_cache_shared_and_reused(tmp_path):
    """Two processes importing at once into an empty cache both load a
    working library and leave one file and no build directory behind; a
    later import reuses that file without compiling."""
    first = [_load_in_subprocess(tmp_path) for _ in range(2)]
    compiled = []
    for p in first:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err
        compiled.append(out.strip())
    assert "True" in compiled, compiled
    libs = list(tmp_path.iterdir())
    assert len(libs) == 1 and libs[0].name.startswith("_cbanded_"), libs
    mtime = libs[0].stat().st_mtime_ns

    again = _load_in_subprocess(tmp_path)
    out, err = again.communicate(timeout=300)
    assert again.returncode == 0, err
    assert out.strip() == "False"
    assert list(tmp_path.iterdir()) == libs
    assert libs[0].stat().st_mtime_ns == mtime
