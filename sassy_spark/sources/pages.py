"""Deterministic synthetic Common-Crawl-style pages (the engine's input table).

Schema matches the graft input contract exactly:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Generation is *distributed* (``spark.range`` over cluster ids →
``mapInPandas``), so the same code that makes 2k test rows would make
10^12 rows on a real cluster — no driver-side materialization. Duplicate
clusters are planted the way the reference repo's eval harness plants
mutated pattern copies in random text (mutate-with-n-random-edits recipe,
reference evals/src/benchsuite/sim_data.rs:97-120): each cluster of size
2..8 shares a base text, each member derived from the previous member by
0..k_max random char ins/del/sub. Hosts are drawn zipf-like to create the
hot-host skew the blocking stage must survive.

Ground truth for evaluation is the ``cluster_id`` column: pages that
share it are duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "cluster_id long"
)

_LANGS = ["de", "fr", "es", "pt", "nl"]

# average pages per cluster under the size model below (0.6 singletons,
# 0.4 uniform on 2..8)
_MEAN_CLUSTER = 0.6 * 1 + 0.4 * 5.0


def _vocab(seed: int, n: int = 4096) -> np.ndarray:
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = []
    for _ in range(n):
        ln = int(rng.integers(2, 11))
        words.append("".join(rng.choice(letters, ln)))
    return np.array(words)


def _mutate(text: str, n_edits: int, rng: np.random.Generator) -> str:
    """n random char-level ins/del/sub edits (the planted-mutation recipe)."""
    s = list(text)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        if op == 0:  # insert
            pos = int(rng.integers(0, len(s) + 1))
            s.insert(pos, alphabet[int(rng.integers(0, len(alphabet)))])
        elif op == 1 and len(s) > 1:  # delete
            del s[int(rng.integers(0, len(s)))]
        else:  # substitute
            pos = int(rng.integers(0, len(s)))
            s[pos] = alphabet[int(rng.integers(0, len(alphabet)))]
    return "".join(s)


def _gen_cluster(cid: int, seed: int, k_max: int, n_hosts: int, vocab: np.ndarray):
    rng = np.random.default_rng((seed << 34) ^ (cid * 2654435761 % (1 << 31)))
    size = 1 if rng.random() < 0.6 else int(rng.integers(2, 9))
    n_words = int(rng.integers(40, 600))
    base = " ".join(vocab[rng.integers(0, len(vocab), n_words)])
    # zipf-ish host popularity: host 0 is white-hot, tail is long
    z = rng.zipf(1.2)
    host_id = int(min(z, n_hosts) - 1)
    shared_host = rng.random() < 0.7
    rows = []
    text = base
    for m in range(size):
        if m > 0:
            text = _mutate(text, int(rng.integers(0, k_max + 1)), rng)
        hid = host_id if (m == 0 or shared_host) else int(
            min(rng.zipf(1.2), n_hosts) - 1
        )
        path = f"{cid:x}/{m:x}/{rng.integers(0, 1 << 48):012x}"
        url = f"https://host{hid}.example.com/{path}"
        ts = np.datetime64("2025-01-01") + np.timedelta64(
            int(rng.integers(0, 365 * 24 * 3600)), "s"
        )
        lang = "en" if rng.random() < 0.95 else _LANGS[int(rng.integers(0, 5))]
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        rows.append((url, ts, html, text, lang, cid))
    return rows


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    k_max: int = 8,
    n_hosts: int = 500,
) -> DataFrame:
    """Distributed synthesis of ~n_pages web pages with planted dup clusters.

    Returns a DataFrame with the contract columns plus ``cluster_id``
    (ground truth — select it away for the pipeline input).
    """
    n_clusters = max(1, int(n_pages / _MEAN_CLUSTER))
    # at least 2 partitions per core: the cached pages inherit this
    # partitioning, and every downstream Python stage (band keys, scoring
    # input) parallelizes over it
    par = spark.sparkContext.defaultParallelism * 2
    ids = spark.range(
        0, n_clusters, 1, numPartitions=max(par, n_clusters // 2000)
    )

    def gen(batches):
        vocab = _vocab(seed)
        for pdf in batches:
            out = []
            for cid in pdf["id"].to_numpy():
                out.extend(_gen_cluster(int(cid), seed, k_max, n_hosts, vocab))
            yield pd.DataFrame(
                out,
                columns=["url", "warc_ts", "html", "text", "lang", "cluster_id"],
            )

    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)
