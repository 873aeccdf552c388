"""Deterministic corpus curation: hash-based splits and skew-safe
per-key caps.

These are training-data-pipeline operators layered on top of the
reference's search core (the reference, /root/reference/src/lib.rs, is a
single-node approximate string-search engine; corpus curation has no
analogue there and is specified by the graft brief). All three are pure
Catalyst — no UDFs, no collect, no state.

Scale notes (100 TB):

* ``deterministic_split`` is a stateless projection over ``md5`` of
  the row key — zero shuffle, and the assignment of a row depends ONLY
  on its key, so it is stable across reruns, cluster sizes, input
  order, and incremental re-ingestion (the property that
  makes hash splits the standard train/val/test mechanism for web-scale
  corpora: a re-crawled page never migrates between splits). ``md5`` is
  used instead of ``xxhash64`` deliberately: its hex output is engine-
  portable, so the exact same assignment is reproducible in any engine
  that can compute md5 of the same key string (pinned by the q57
  DuckDB oracle).

* ``cap_per_key`` is the hot-host-skew-safe per-key top-N (e.g. "keep
  at most N pages per registered domain", the standard crawl-corpus
  balancing step). A naive ``row_number() OVER (PARTITION BY host)``
  sorts every page of a hot host in ONE task — a host with 10^8 pages
  is a straggler or an OOM. Stage 1 here ranks within (key, salt) so
  no task ever sees more than ~1/n_salts of a hot key, and only the
  per-salt top-N (<= n_salts * n rows per key, independent of the
  key's true size) reach the stage-2 exact ranking. Any row in the
  true per-key top-N is necessarily in the top-N of its salted
  subgroup, so the two-stage result is exactly the single-window
  result (pinned by tests against the naive formulation).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 12  # 16^12 ~ 2.8e14 buckets: integer-exact in float64


def hex_threshold(fraction: float, digits: int = _HEX_DIGITS) -> str:
    """The ``digits``-char lowercase-hex string t such that a uniform
    ``digits``-digit hex hash h satisfies ``h < t`` with probability
    ``fraction`` (exactly, in units of 16**-digits)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    t = round(fraction * (16**digits))
    return format(min(t, 16**digits - 1), f"0{digits}x")


def split_cutpoints(
    fractions: Mapping[str, float], digits: int = _HEX_DIGITS
) -> list[tuple[str, str]]:
    """Cumulative (split_name, upper_hex_threshold) cutpoints in the
    mapping's iteration order; fractions must sum to ~1. Shared by the
    Spark operator and the q57 DuckDB oracle so both engines compare
    against literally identical hex literals."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    out, cum = [], 0.0
    for name, frac in fractions.items():
        cum += frac
        out.append((name, hex_threshold(cum, digits)))
    return out


def _key_hash(key_col: str, salt: str) -> Column:
    return F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1,
        _HEX_DIGITS,
    )


def deterministic_split(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions: Mapping[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashing its key: rows land in
    splits with the given fractions, deterministically per key. ``salt``
    derives independent partitionings from the same keys (e.g. one salt
    per experiment). Pure projection — no shuffle at any scale."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    cuts = split_cutpoints(fractions)
    h = _key_hash(key_col, salt)
    expr: Column | None = None
    for name, threshold in cuts[:-1]:
        cond = h < F.lit(threshold)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(cuts[-1][0])
    return df.withColumn(out_col, last if expr is None else expr.otherwise(last))


def cap_per_key(
    df: DataFrame,
    key_col: str,
    order_by: Sequence[tuple[str, str]],
    n: int,
    n_salts: int = 16,
    rank_col: str = "rank_in_key",
) -> DataFrame:
    """Keep the top ``n`` rows per key under the total order ``order_by``
    (list of (column, 'asc'|'desc'); the LAST column must be a unique
    tiebreaker so the order is total and the result deterministic).

    Skew-safe two-stage plan: stage 1 ranks within (key, salt) — the
    salt is a hash of the tiebreaker columns, so it is deterministic per
    row — and keeps each subgroup's top ``n``; stage 2 exactly ranks the
    <= ``n_salts * n`` survivors per key. Identical output to the naive
    single-window formulation (any global per-key top-n row is in its
    subgroup's top-n), but no task ever sorts more than ~1/n_salts of a
    hot key."""
    if not order_by:
        raise ValueError("order_by must name at least one column")

    def _sort_cols() -> list[Column]:
        cols = []
        for name, direction in order_by:
            if direction not in ("asc", "desc"):
                raise ValueError(f"direction {direction!r} not asc|desc")
            c = F.col(name)
            cols.append(c.desc() if direction == "desc" else c.asc())
        return cols

    salt = F.pmod(
        F.xxhash64(*[F.col(name) for name, _ in order_by]), F.lit(n_salts)
    )
    stage1 = Window.partitionBy(F.col(key_col), salt).orderBy(*_sort_cols())
    pruned = (
        df.withColumn("_rn_salted", F.row_number().over(stage1))
        .where(F.col("_rn_salted") <= n)
        .drop("_rn_salted")
    )
    stage2 = Window.partitionBy(key_col).orderBy(*_sort_cols())
    return pruned.withColumn(rank_col, F.row_number().over(stage2)).where(
        F.col(rank_col) <= n
    )


def review_queue(
    scored: DataFrame,
    stratum_col: str,
    lr_col: str = "lr_qmicros",
    indifference_qmicros: int = 1_000_000,
    per_stratum: int = 25,
    tiebreak_cols: Sequence[str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Clerical-review queue selection (active-learning stage of the
    Fellegi-Sunter pipeline): from FS-scored candidate pairs, pick the
    ``per_stratum`` pairs per stratum whose likelihood ratio is closest
    to the indifference point LR = 1 — the pairs a human label would
    move the decision boundary most, quota'd per stratum so dense
    strata cannot starve sparse ones of review coverage.

    uncertainty = |lr - indifference| in exact integer micros; the
    per-stratum top-n runs on :func:`cap_per_key`'s two-stage salted
    plan, so one hot stratum (e.g. one dominant language at web scale)
    never sorts in a single task. ``tiebreak_cols`` must end in a
    unique pair id so the queue is deterministic. Returns the input
    columns plus ``uncertainty_qmicros`` and ``queue_rank`` (1 = most
    uncertain in its stratum).
    """
    with_u = scored.withColumn(
        "uncertainty_qmicros",
        F.abs(
            F.col(lr_col) - F.lit(int(indifference_qmicros)).cast("long")
        ).cast("long"),
    )
    order = [("uncertainty_qmicros", "asc")] + [
        (c, "asc") for c in tiebreak_cols
    ]
    return cap_per_key(
        with_u,
        key_col=stratum_col,
        order_by=order,
        n=per_stratum,
        rank_col="queue_rank",
    )
