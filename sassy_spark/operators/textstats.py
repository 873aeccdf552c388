"""Text-analysis operators over a documents table: repetition and
duplicate-n-gram signals, PII profile, C4 line rules, normalization —
JVM-side Catalyst except normalization's one Arrow-batched NFC step."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals, per document:

    * ``n_tokens``        — total tokens,
    * ``dup_word_frac``   — 1 - distinct/total tokens,
    * ``top_word_frac``   — most-frequent-token share,
    * ``top_bigram_frac`` — most-frequent-word-bigram share (0.0 when the
      document has fewer than two tokens).

    These are the "repetitious document" filters from the Gopher/
    MassiveText quality pipeline (Rae et al. 2021, §A1.1), re-expressed
    relationally: tokenize once in Catalyst, build bigrams array-side
    with an index-aware ``transform`` (no window shuffle), then two
    explode -> partial-aggregated ``groupBy`` branches keyed on
    (doc, term). Every shuffle key includes the doc id, so hot tokens
    never concentrate on one reducer — the plan scales with corpus
    size, not vocabulary skew.
    """
    from ..functions.text import tokens

    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    # bigrams without a window: element i of the slice pairs with tok i+1
    # (element_at is 1-based, transform's index 0-based -> i + 2)
    bigs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
        "(x, i) -> concat(x, ' ', element_at(toks, i + 2)))"
    )
    words = base.select("doc_id", F.explode("toks").alias("term"))
    wc = words.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    wagg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_word_n"),
        F.count("*").alias("n_distinct"),
    )
    bigrams = base.select("doc_id", F.explode(bigs).alias("term"))
    bc = bigrams.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    bagg = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    out = wagg.join(bagg, "doc_id", "left")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens"), 6
        ).alias("dup_word_frac"),
        F.round(F.col("top_word_n") / F.col("n_tokens"), 6).alias(
            "top_word_frac"
        ),
        F.round(
            F.coalesce(
                F.col("top_bigram_n") / F.col("n_bigrams"), F.lit(0.0)
            ),
            6,
        ).alias("top_bigram_frac"),
    )


def dup_ngram_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact cross-document duplicated-span statistics, per document:
    how much of a document's distinct word ``n``-gram set also appears
    in at least ``min_docs - 1`` OTHER documents.

    This is the span-level exact-substring dedup signal from
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022), at word-n-gram granularity instead of a suffix array —
    the relational formulation shuffles (doc, ngram) pairs and an
    ngram-keyed doc-frequency table, both partial-aggregated, and never
    materializes position lists. Output: ``n_distinct_ngrams``,
    ``n_dup_ngrams``, ``dup_frac`` (0.0 for docs shorter than ``n``
    tokens, which keep a row with zero counts).
    """
    from ..functions.text import tokens

    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    # sequence(1, k) is invalid for k < 1 (descending), so gate on size
    ngrams = F.when(
        F.size("toks") < n, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(1, greatest(size(toks) - {n} + 1, 1)), "
            f"i -> concat_ws(' ', slice(toks, i, {n})))"
        )
    )
    # per-doc distinct ngram set; doc-frequency = #docs containing it
    dng = base.select("doc_id", F.explode(ngrams).alias("ng")).dropDuplicates(
        ["doc_id", "ng"]
    )
    freq = dng.groupBy("ng").agg(F.count("*").alias("df"))
    per_doc = (
        dng.join(freq, "ng")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_ngrams"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_ngrams"),
        )
    )
    # docs with < n tokens emit no ngrams — restore them with zero counts
    all_docs = base.select("doc_id")
    out = all_docs.join(per_doc, "doc_id", "left")
    total = F.coalesce(F.col("n_distinct_ngrams"), F.lit(0)).cast("long")
    dup = F.coalesce(F.col("n_dup_ngrams"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        total.alias("n_distinct_ngrams"),
        dup.alias("n_dup_ngrams"),
        F.round(
            F.when(total > 0, dup / total).otherwise(F.lit(0.0)), 6
        ).alias("dup_frac"),
    )


def pii_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII scan + scrub: hit counts per kind and the masked
    text, one codegen'd scan (the Dolma-style PII pass of an LLM data
    pipeline). No Python, no shuffle — a pure map stage that scales
    linearly with corpus bytes."""
    from ..functions.text import mask_pii, pii_counts

    t = F.col(text_col)
    counts = pii_counts(t)
    return docs.select(
        F.col(id_col),
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"),
        mask_pii(t).alias("masked_text"),
    )


# C4 line-blocklist terms (Raffel et al. 2020 §2.2 cleaning heuristics;
# lowercase substring match)
_C4_BLOCKLIST = ("javascript", "lorem ipsum", "cookie policy")


def c4_line_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2), per
    document: split on newlines and KEEP a line iff it (a) ends in a
    terminal punctuation mark (. ! ? or a closing quote), (b) has at
    least five words, (c) contains no blocklisted boilerplate term
    (javascript / lorem ipsum / cookie policy, case-insensitive), and
    (d) contains no curly brace (the code-leak heuristic). Returns
    ``n_lines``, ``n_kept``, ``kept_frac`` and the cleaned text
    (kept lines re-joined with a newline; empty string when nothing
    survives).

    Pure Catalyst — one codegen'd map stage over array lambdas, no
    shuffle, no Python: the whole pass is scan-bound and embarrassingly
    parallel at 100 TB.
    """

    def _keep(line):
        t = F.trim(line)
        words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        low = F.lower(t)
        blocked = None
        for term in _C4_BLOCKLIST:
            hit = low.contains(term)
            blocked = hit if blocked is None else (blocked | hit)
        return (
            t.rlike(r'[.!?"]$')
            & (words >= 5)
            & ~blocked
            & ~t.contains("{")
        )

    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    kept = F.filter(lines, _keep)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        F.round(
            F.when(n_lines > 0, n_kept / n_lines).otherwise(F.lit(0.0)), 6
        ).alias("kept_frac"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def normalized_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode hygiene pass, per document: NFC canonical composition
    (functions/text.py::make_nfc_udf — the one Arrow-batched step),
    then the codegen'd control-char strip + whitespace collapse
    (``clean_normalized``). Returns the cleaned text plus before/after
    char counts and a ``changed`` flag so a pipeline can audit how much
    the pass rewrote.

    Map-only (no shuffle); the Arrow exchange is the only non-codegen
    cost, linear in corpus bytes — safe at 100 TB.
    """
    from ..functions.text import clean_normalized, make_nfc_udf

    nfc = make_nfc_udf()
    t = F.col(text_col)
    inner = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(t).cast("long").alias("n_chars_before"),
        t.alias("_orig"),
        clean_normalized(nfc(t)).alias("norm_text"),
    )
    return inner.select(
        "doc_id",
        "n_chars_before",
        F.length("norm_text").cast("long").alias("n_chars_after"),
        (F.col("norm_text") != F.col("_orig")).alias("changed"),
        "norm_text",
    )
