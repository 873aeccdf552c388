"""Text-analysis functions and operators: quality features and score,
lang ID, html extraction invariant, winnowing fingerprint, document
signals."""

import pytest
from pyspark.sql import functions as F

from sassy_spark.functions.hashing import make_fingerprint_udf
from sassy_spark.functions.text import (
    extract_text,
    lang_id,
    quality_features,
    quality_score,
    token_count,
)
from sassy_spark.operators import textstats


def test_profile_features(spark):
    docs = spark.createDataFrame(
        [(1, "The quick brown fox and the lazy dog."), (2, "12345 67890 !!!")],
        ["doc_id", "text"],
    )
    t = F.col("text")
    feats = quality_features(t)
    p = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            token_count(t).alias("n_tokens"),
            feats["stopword_ratio"].alias("stopword_ratio"),
            feats["digit_ratio"].alias("digit_ratio"),
            quality_score(t).alias("quality"),
        ).collect()
    }
    assert p[1].n_tokens == 8
    assert p[1].stopword_ratio > 0
    assert p[2].digit_ratio > 0.5
    assert p[1].quality > p[2].quality


def test_quality_filter_drops_junk(spark):
    good = "the quick brown fox jumps over the lazy dog " * 5
    junk = "\x01\x02\x03\x04" * 30
    docs = spark.createDataFrame([(1, good), (2, junk)], ["doc_id", "text"])
    t = F.col("text")
    kept = docs.where((quality_score(t) >= 0.5) & (token_count(t) >= 10))
    assert [r.doc_id for r in kept.collect()] == [1]


def test_lang_id_votes(spark):
    rows = [
        (1, "the cat is on the mat and it is happy with all of this"),
        (2, "der hund ist in dem haus und das ist nicht ein problem für sich"),
        (3, "le chat est dans la maison et les enfants sont pour une surprise"),
        (4, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "unknown"


def test_html_extraction_byte_identical(pages):
    """The graft's per-row invariant: text recovered from html must be
    byte-identical to the stored text for every url."""
    bad = pages.where(
        extract_text(F.col("html")) != F.col("text")
    ).count()
    assert bad == 0


def test_fingerprint_documents(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 20), (2, "abcdefghij" * 20)], ["doc_id", "text"]
    )
    fpu = make_fingerprint_udf(ngram=8, window=16)
    fps = {
        r.doc_id: list(r.fingerprint)
        for r in docs.select("doc_id", fpu("text").alias("fingerprint")).collect()
    }
    assert fps[1] == fps[2]
    assert len(fps[1]) > 0


def test_repetition_signals_closed_form(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),  # 5 toks, 2 distinct, top 'a'x3, top big 'a b'x2/4
            (2, "x"),  # single token: no bigrams -> 0.0
            (3, ""),  # no tokens: dropped (documented semantics)
            (4, "u v w x y"),  # all unique
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in textstats.repetition_signals(docs).collect()
    }
    assert set(got) == {1, 2, 4}
    assert got[1].n_tokens == 5
    assert got[1].dup_word_frac == pytest.approx(1 - 2 / 5)
    assert got[1].top_word_frac == pytest.approx(3 / 5)
    assert got[1].top_bigram_frac == pytest.approx(2 / 4)
    assert got[2].top_bigram_frac == 0.0
    assert got[4].dup_word_frac == 0.0
    assert got[4].top_word_frac == pytest.approx(1 / 5)


def test_dup_ngram_stats_closed_form(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " nine"),  # 2 distinct 8-grams, 1 shared with doc 2
            (2, shared + " ten"),
            (3, "too short"),  # < 8 tokens: zero-count row kept
            (4, "alpha beta gamma delta epsilon zeta eta theta"),  # unique
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in textstats.dup_ngram_stats(docs, n=8, min_docs=2).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1].n_distinct_ngrams == 2
    assert got[1].n_dup_ngrams == 1
    assert got[1].dup_frac == pytest.approx(0.5)
    assert got[2].n_dup_ngrams == 1
    assert got[3].n_distinct_ngrams == 0
    assert got[3].dup_frac == 0.0
    assert got[4].n_dup_ngrams == 0


def test_pii_profile_counts_and_mask(spark):
    docs = spark.createDataFrame(
        [
            (1, "reach a.b+c@mail-x.co or 555-0199 via 192.168.0.1 ok"),
            (2, "no pii here at all"),
            (3, "two mails p@q.io and r@s.net plus 555-0000 555-1234"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in textstats.pii_profile(docs).collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (1, 1, 1)
    assert got[1].masked_text == "reach <EMAIL> or <PHONE> via <IP> ok"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0)
    assert got[2].masked_text == "no pii here at all"
    assert got[3].n_emails == 2
    assert got[3].n_phones == 2
    assert "<EMAIL>" in got[3].masked_text


def test_c4_line_stats_rules(spark):
    text = "\n".join(
        [
            "this line has six good words.",  # kept
            "too short.",  # dropped: < 5 words
            "no terminal punctuation on this line here",  # dropped: ending
            "please enable JavaScript to continue browsing!",  # blocklist
            "we accept the cookie policy terms today.",  # blocklist
            'he said "hello there my old friend"',  # kept: closing quote
            "function f() { return 1; } and more words.",  # dropped: brace
            "   padded line with five trimmed words.   ",  # kept after trim
            "",  # empty: not counted at all
        ]
    )
    docs = spark.createDataFrame([(1, text), (2, "")], ["doc_id", "text"])
    got = {r.doc_id: r for r in textstats.c4_line_stats(docs).collect()}
    assert got[1].n_lines == 8  # empty line excluded
    assert got[1].n_kept == 3
    assert got[1].clean_text.split("\n") == [
        "this line has six good words.",
        'he said "hello there my old friend"',
        "padded line with five trimmed words.",
    ]
    assert got[2].n_lines == 0
    assert got[2].n_kept == 0
    assert got[2].kept_frac == 0.0
    assert got[2].clean_text == ""


def test_normalized_documents_nfc_and_cleanup(spark):
    decomposed = "café  naïve"  # e+combining acute, i+diaeresis
    docs = spark.createDataFrame(
        [
            (1, "\x07" + decomposed + "\t\t end "),
            (2, "already clean"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r for r in textstats.normalized_documents(docs).collect()
    }
    assert got[1].norm_text == "café naïve end"
    assert got[1].changed is True
    # before: BEL + 10 decomposed chars + 2 combining + 2 spaces + 2 tabs
    # + ' end ' = counted in code points
    assert got[1].n_chars_before > got[1].n_chars_after
    assert got[2].norm_text == "already clean"
    assert got[2].changed is False
