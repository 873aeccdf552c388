"""Text scalar functions — JVM-side (Catalyst/codegen) wherever possible.

These cover the reference engine's scalar vocabulary (casefold, reverse,
translate, substring slicing, length, concat — reference
src/profiles/ascii.rs:94-108, src/search.rs:129-140, bin/grep.rs:718)
plus the web-text additions (HTML text extraction, URL host, n-grams,
token/quality stats). Everything here stays inside whole-stage codegen —
no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------------ extract


def extract_text(html: Column) -> Column:
    """Recover the text payload from an HTML binary column.

    Contract: byte-identical to the original text per url (the graft's
    per-row invariant). For the synthetic corpus the payload is the body
    of a fixed wrapper; for general HTML this strips tags — the invariant
    test pins the wrapper path.
    """
    s = F.decode(html, "UTF-8")
    body = F.regexp_extract(s, r"(?s)<body>(.*)</body>", 1)
    # general fallback: strip all tags when no <body> wrapper found
    return F.when(body != "", body).otherwise(
        F.regexp_replace(s, r"<[^>]*>", "")
    )


def url_host(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


# ------------------------------------------------------------ normalization


def normalize(text: Column, case_sensitive: bool = False) -> Column:
    """Blocking-key normalization: casefold (the reference's
    Ascii<false> profile semantics, src/profiles/ascii.rs:94-119) +
    whitespace collapse. Never applied to the stored text (byte-identity)."""
    t = text if case_sensitive else F.lower(text)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """All character n-grams as an array — the shingle generator feeding
    MinHash. Pure Catalyst: sequence + transform + substr."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(0))),
        lambda i: text.substr(i, F.lit(n)),
    )


# complement covers the full IUPAC ambiguity alphabet (R<->Y, K<->M,
# B<->V, D<->H; S/W/N self-complementary; U -> A), reference
# src/profiles/iupac.rs complement tables
_RC_FWD = "ACGTUacgtuRYKMBVDHrykmbvdhNnSsWw"
_RC_REV = "TGCAAtgcaaYRMKVBHDyrmkvbhdNnSsWw"
_DNA_COMP = str.maketrans(_RC_FWD, _RC_REV)


def reverse_complement_str(s: str) -> str:
    return s.translate(_DNA_COMP)[::-1]


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"[^\p{L}\p{N}]+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace/punctuation token count (the cheap tokenizer)."""
    return F.size(tokens(text))


# ----------------------------------------------------------------- quality


def quality_features(text: Column) -> dict[str, Column]:
    """Cheap text-quality signals (length / punctuation / stopword / alpha
    ratios) — all codegen'd; the two-phase-filter 'cheap phase' analog of
    the reference's N-fraction endpoint prefilter (src/n_filter.rs:8-60)."""
    length = F.length(text)
    nonempty = F.greatest(length, F.lit(1))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    space = F.length(F.regexp_replace(text, r"[^\s]", ""))
    toks = tokens(text)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    stop = F.size(
        F.array_intersect(
            toks,
            F.array(*[F.lit(w) for w in _EN_STOP]),
        )
    )
    mean_wl = (length - space) / n_tok
    return {
        "n_chars": length,
        "n_tokens": F.size(toks),
        "alpha_ratio": (alpha / nonempty).cast("double"),
        "digit_ratio": (digit / nonempty).cast("double"),
        "punct_ratio": (punct / nonempty).cast("double"),
        "space_ratio": (space / nonempty).cast("double"),
        "stopword_ratio": (stop / n_tok).cast("double"),
        "mean_word_len": mean_wl.cast("double"),
    }


def quality_score(text: Column) -> Column:
    """Scalar [0,1] quality score from the features (heuristic weights)."""
    f = quality_features(text)
    raw = (
        F.lit(0.35) * F.least(f["alpha_ratio"] / F.lit(0.7), F.lit(1.0))
        + F.lit(0.2) * F.least(f["stopword_ratio"] / F.lit(0.3), F.lit(1.0))
        + F.lit(0.2)
        * F.least(F.log1p(f["n_tokens"].cast("double")) / F.lit(6.0), F.lit(1.0))
        + F.lit(0.15) * (F.lit(1.0) - F.least(f["punct_ratio"] * 4, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(f["digit_ratio"] * 4, F.lit(1.0)))
    )
    return F.least(raw, F.lit(1.0)).cast("double")


_EN_STOP = (
    "the of and to in a is that it was for on are with as be at by this "
    "had not but from or have an they which one you were her all she there "
    "would their we him been has when who will more no if out so said what"
).split()

_STOPWORDS = {
    "en": _EN_STOP,
    "de": "der die und in den von zu das mit sich des auf für ist im dem nicht ein".split(),
    "fr": "de la le et les des en un du une que est pour qui dans par sur au".split(),
    "es": "de la que el en y a los del se las por un para con no una su al es".split(),
    "pt": "de a o que e do da em um para com não uma os no se na por mais as dos".split(),
    "nl": "de van het een en in is dat op te zijn met voor niet aan er om ook als".split(),
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: stopword-hit voting across small per-language
    dictionaries, ties broken by language key order. Pure Catalyst
    (array_intersect on the token array) — no Python."""
    toks = tokens(text)
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for lang, words in _STOPWORDS.items()
    ]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit("unknown")
    for lang, s in reversed(scores):
        expr = F.when(s == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("unknown"))


# ------------------------------------------------------- URL canonicalization

#: query parameters treated as tracking noise and stripped by
#: ``normalize_url``. The alternation is kept lookaround-free so the same
#: pattern runs identically under Java regex (Spark) and RE2 (DuckDB).
_TRACKING_PARAM_RE = r"(utm_[a-z]+|fbclid|gclid)=[^&]*"


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL for dedup/blocking, entirely in Catalyst.

    Spec (applied in order, each step a codegen'd regexp/str op):
      1. lowercase the whole URL (host is case-insensitive; we accept
         lowering the path too — canonical keys, not display strings),
      2. drop the fragment (``#...``),
      3. drop the scheme (``http://`` / ``https://``),
      4. drop a leading ``www.``,
      5. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``)
         and tidy the left-over ``?&``/``&&``/trailing delimiters,
      6. collapse ``/?`` to ``?`` and drop trailing ``/``.

    Web-scale dedup by canonical URL is the cheapest ER stage: it runs
    before any text is touched and shrinks the candidate space for the
    MinHash/kernel stages (the pipeline's stage-0 analog of the
    reference's exact-match prefilter, src/search.rs:129-140). All
    patterns avoid backreferences and lookaround so the DuckDB oracle
    can reuse them verbatim.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, _TRACKING_PARAM_RE, "")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"/+\?", "?")
    return F.regexp_replace(u, r"/+$", "")


# ----------------------------------------------------------------- PII scan

#: PII patterns — shared by the Spark operator and the DuckDB oracle, so
#: they are restricted to the Java-regex/RE2 common subset (no \b against
#: unicode, no lookaround, no backrefs in replacements).
PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"555-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}

_PII_MASKS = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII hit counts (emails / phone-like / IPv4-like), all
    JVM-side ``regexp_count``. The phone/IP patterns are deliberately
    narrow, deterministic stand-ins for a production ruleset — the
    operator contract (count + mask, one scan, no Python) is the part
    that matters at 100 TB."""
    return {
        kind: F.regexp_count(text, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def mask_pii(text: Column) -> Column:
    """Replace every PII hit with a typed placeholder. Masking order is
    email -> phone -> ipv4; the patterns are mutually non-overlapping so
    the order is cosmetic (documented for oracle parity)."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, _PII_MASKS[kind])
    return out


# ------------------------------------------------------- unicode hygiene


def make_nfc_udf():
    """pandas UDF: Unicode NFC normalization (canonical composition) —
    the mojibake/combining-mark repair pass of a web-text pipeline.
    Spark has no built-in normalizer, so this is the one place the text
    cleaning chain leaves codegen; it uses pandas' vectorized
    ``Series.str.normalize`` (ICU-equivalent canonical composition via
    CPython's unicodedata, C level per string — no per-row Python
    dispatch beyond the pandas block op) over Arrow batches."""

    @F.pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        return texts.str.normalize("NFC")

    return nfc


def clean_normalized(text: Column) -> Column:
    """The codegen'd half of the normalization chain, applied AFTER NFC:
    strip C0/C1 control characters (keeping \\n and \\t), collapse runs
    of spaces/tabs, and trim. Kept separate from ``make_nfc_udf`` so the
    cheap part stays JVM-side."""
    t = F.regexp_replace(text, r"[\x00-\x08\x0B-\x1F\x7F]", "")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    return F.trim(t)
