"""Privacy-preserving record linkage: CLK Bloom encodings + Dice.

The standard PPRL construction (Schnell/Bachteler/Reiher, "Privacy-
preserving record linkage using Bloom filters", BMC Med Inform 2009):
each party encodes a quasi-identifier field as a Cryptographic Long-
term Key — character bigrams hashed k times into an n-bit Bloom
filter — and parties compare ONLY the encodings with the Dice
coefficient 2|A&B| / (|A|+|B|), never the raw values. sassy itself
has no privacy layer; this is part of the cluster-scale ER
reimagining (same family as operators/em.py), giving the engine the
cross-organization linkage mode production ER deployments need.

Engine-exactness contract (what makes the DuckDB oracle byte-equal):
the k positions of bigram (a, b) use double hashing with pure integer
arithmetic — no library hash whose algorithm could differ between
engines:

    h1     = ascii(a) * 256 + ascii(b)          (the bigram code)
    h2     = (h1 * 2654435761) mod 2^32         (Knuth multiplicative)
    pos_j  = (h1 + j * h2) mod n_bits,  j = 0..k-1

The encoding is the SORTED DISTINCT position set (array<int>), which
doubles as the Bloom bitset for cardinality and intersection. Dice is
quantized as (2e6 * |A&B|) div (|A|+|B|) floor-micros.

Fields are expected sanitized (lowercase ASCII) upstream — ascii() on
a multibyte char reads only the first byte on some engines; q93
sanitizes with regexp_replace(lower(text), '[^a-z0-9 ]', '').

Scale: clk_encode is ONE JVM-side projection (no shuffle, no UDF —
the transform/flatten pipeline is Catalyst all the way down);
dice_pairs is two id equi-joins shuffling bounded arrays (<= n_bits
ints per record, independent of field length). At 10^12 records the
natural next step is packing the bitset into n_bits/64 longs and
intersecting with bit_count(a & b) — same contract, smaller shuffle;
the position-set form is kept here because both engines compare it
exactly and n_bits = 256 keeps the array under 1 KB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KNUTH = 2_654_435_761
_MOD32 = 4_294_967_296


def _clk_expr(field: str, n_bits: int, k: int) -> str:
    h1 = (
        f"(ascii(substr({field}, i, 1)) * 256"
        f" + ascii(substr({field}, i + 1, 1)))"
    )
    pos = (
        f"CAST(({h1} + j * ({h1} * CAST({_KNUTH} AS BIGINT)"
        f" % {_MOD32})) % {n_bits} AS INT)"
    )
    return (
        f"CASE WHEN length({field}) < 2 THEN CAST(array() AS array<int>)"
        f" ELSE array_sort(array_distinct(flatten(transform("
        f"sequence(1, length({field}) - 1),"
        f" i -> transform(sequence(0, {k - 1}), j -> {pos}))))) END"
    )


def clk_encode(
    records: DataFrame,
    field_col: str,
    url: str = "url",
    n_bits: int = 256,
    k: int = 4,
    out_col: str = "clk",
) -> DataFrame:
    """Encode ``field_col`` as a CLK position set per record.

    Returns (url, out_col array<int> sorted distinct, <out_col>_card).
    NULL fields encode as the empty set (cardinality 0). Pure
    Catalyst projection — see module docstring for the position
    formula and scale notes.
    """
    f = f"coalesce({field_col}, '')"
    return records.select(
        F.col(url),
        F.expr(_clk_expr(f, n_bits, k)).alias(out_col),
    ).withColumn(f"{out_col}_card", F.size(out_col))


def clk_pack(
    encodings: DataFrame,
    clk_col: str = "clk",
    n_bits: int = 256,
    word_bits: int = 32,
    out_col: str = "clk_words",
) -> DataFrame:
    """Pack a CLK position set into ``n_bits / word_bits`` bigint words.

    This is the documented scale path: the shuffle payload drops from
    <= n_bits ints to n_bits/word_bits longs per record and the Dice
    intersection becomes bit_count(a & b) — O(words), not O(set size).
    Because the position set is DISTINCT, word w is the plain integer
    SUM of 2^(p mod word_bits) over positions p with p div word_bits
    = w — no bitwise OR, so any engine's integer arithmetic packs the
    identical value. word_bits = 32 keeps every word positive in a
    signed 64-bit lane (no sign-bit dialect risk). Pure Catalyst
    projection; drops the position-set column.
    """
    n_words = n_bits // word_bits
    words = (
        f"transform(sequence(0, {n_words - 1}), w -> "
        f"aggregate(filter({clk_col}, p -> p div {word_bits} = w), "
        f"CAST(0 AS BIGINT), "
        f"(acc, p) -> acc + shiftleft(CAST(1 AS BIGINT), "
        f"p % {word_bits})))"
    )
    return encodings.select(
        *[c for c in encodings.columns if c != clk_col],
        F.expr(words).alias(out_col),
    )


def dice_pairs_packed(
    pairs: DataFrame,
    packed: DataFrame,
    url: str = "url",
    words_col: str = "clk_words",
    pair_a: str = "url_a",
    pair_b: str = "url_b",
    out_col: str = "dice_qmicros",
) -> DataFrame:
    """Dice over PACKED encodings: bit_count(a & b) summed per word.

    Contract-identical to :func:`dice_pairs` (same floor-micros
    quantization, same output columns) — pinned by test_pprl — but the
    join shuffles n_bits/64-ish longs per side and the intersection is
    a fixed-width popcount loop, the form that survives 10^12 records.
    Cardinalities are recomputed from the words (popcount), so the
    packed frame is self-contained.
    """
    card = (
        f"aggregate(transform({{0}}, w -> bit_count(w)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    inter = (
        "aggregate(zip_with(_w_a, _w_b, (x, y) -> bit_count(x & y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    enc = packed.select(
        F.col(url).alias("_u"), F.col(words_col).alias("_w")
    )
    joined = (
        pairs.join(
            enc.select(
                F.col("_u").alias(pair_a), F.col("_w").alias("_w_a")
            ),
            pair_a,
        )
        .join(
            enc.select(
                F.col("_u").alias(pair_b), F.col("_w").alias("_w_b")
            ),
            pair_b,
        )
        .withColumn("inter_card", F.expr(inter))
        .withColumn("card_a", F.expr(card.format("_w_a")))
        .withColumn("card_b", F.expr(card.format("_w_b")))
    )
    return joined.select(
        *[F.col(c) for c in pairs.columns],
        "inter_card",
        "card_a",
        "card_b",
        F.when(
            F.col("card_a") + F.col("card_b") > 0,
            F.expr(
                "(CAST(2000000 AS BIGINT) * inter_card)"
                " div (card_a + card_b)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias(out_col),
    )


def hlsh_candidates(
    packed: DataFrame,
    url: str = "url",
    words_col: str = "clk_words",
    pair_a: str = "url_a",
    pair_b: str = "url_b",
) -> DataFrame:
    """Hamming-LSH blocking over packed CLKs (Durham-style HLSH).

    Splits the n-bit encoding into its packed words as LSH segments:
    two records become ONE candidate pair iff they agree exactly on
    at least one non-zero segment (zero = no bits in the segment —
    shared emptiness is not evidence). This is the PPRL blocking
    step: candidates are generated from the ENCODINGS alone, so the
    whole encode -> block -> Dice-score pipeline never touches raw
    values. Collision semantics: a segment agreeing exactly means 32
    encoding bits agree, so high-Dice pairs (few differing bigrams)
    collide in >= 1 segment with high probability while random pairs
    rarely do — the standard banding trade-off, tuned by word width.

    Plan: posexplode to (segment, value), ONE shuffle grouping by the
    compound key, then JVM in-array pair expansion within each bucket
    (:func:`~sassy_spark.operators.linkage.block_pairs`, the shape of
    the dedup gate). The grouped form matters beyond the shuffle count:
    a (seg, val) SELF-JOIN would carry the upstream encode expression
    into both join subtrees, and Catalyst's projection collapse then
    re-evaluates it per joined row — measured 119 s vs ~2 s at 500
    docs. The groupBy materializes values into the exchange exactly
    once. Buckets are not capped: the candidate set is exact.
    """
    from .linkage import block_pairs

    seg = packed.select(
        F.col(url).alias("_u"),
        F.posexplode(words_col).alias("_seg", "_val"),
    ).where(F.col("_val") != 0)
    groups = seg.groupBy("_seg", "_val").agg(F.collect_list("_u").alias("_us"))
    return (
        block_pairs(groups, "_us")
        .select(F.col("a").alias(pair_a), F.col("b").alias(pair_b))
        .dropDuplicates()
    )


def dice_pairs(
    pairs: DataFrame,
    encodings: DataFrame,
    url: str = "url",
    clk_col: str = "clk",
    pair_a: str = "url_a",
    pair_b: str = "url_b",
    out_col: str = "dice_qmicros",
) -> DataFrame:
    """Dice similarity of CLK encodings per candidate pair.

    out_col = (2e6 * |A&B|) div (|A|+|B|) floor-micros; 0 when both
    encodings are empty. Also emits inter_card / card_a / card_b so
    audits can re-derive the score. Two id equi-joins; the
    intersection is JVM-side array_intersect on bounded arrays.
    """
    enc = encodings.select(
        F.col(url).alias("_u"),
        F.col(clk_col).alias("_clk"),
        F.col(f"{clk_col}_card").alias("_card"),
    )
    joined = (
        pairs.join(
            enc.select(
                F.col("_u").alias(pair_a),
                F.col("_clk").alias("_clk_a"),
                F.col("_card").alias("card_a"),
            ),
            pair_a,
        )
        .join(
            enc.select(
                F.col("_u").alias(pair_b),
                F.col("_clk").alias("_clk_b"),
                F.col("_card").alias("card_b"),
            ),
            pair_b,
        )
        .withColumn(
            "inter_card",
            F.size(F.array_intersect("_clk_a", "_clk_b")),
        )
    )
    return joined.select(
        *[F.col(c) for c in pairs.columns],
        "inter_card",
        "card_a",
        "card_b",
        F.when(
            F.col("card_a") + F.col("card_b") > 0,
            F.expr(
                "(CAST(2000000 AS BIGINT) * inter_card)"
                " div (card_a + card_b)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias(out_col),
    )
