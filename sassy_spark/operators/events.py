"""Event-stream relational operators over the events table shape
(event_id, ts, user_id, event_type, value, props): the distributed as-of
join."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    right_value: str = "value",
    order_cols: tuple = ("event_id",),
    out_prefix: str = "asof_",
) -> DataFrame:
    """Distributed as-of join: attach to each LEFT row the RIGHT row with
    the greatest ``ts <= left.ts`` for the same key (ties on ts broken by
    ``order_cols``, highest wins — deterministic). Rows with no prior
    right match are DROPPED (inner as-of).

    Spark has no native ASOF JOIN; the naive formulations are a range
    join (quadratic blow-up per key) or a per-key collect. This is the
    scale-safe form: tag-union both sides, ONE shuffle on the key, and a
    running ``last(value, ignorenulls)`` over the (ts, side, order)
    window — right rows sort before left rows at equal ts so same-ts
    matches are included. Cost is a single exchange + sort regardless of
    match distances; skewed keys follow the events table's own key
    distribution (no pair expansion ever materializes).

    Returns the LEFT columns plus ``{out_prefix}{right_value}`` and
    ``{out_prefix}{ts_col}`` of the matched right row. A matched right
    row whose value is NULL still counts as a match (with a NULL value
    attached) — SQL ASOF JOIN semantics. NULL keys never match (SQL
    equality), so both sides filter them out up front.
    """
    lcols = left.columns
    left = left.where(F.col(key_col).isNotNull())
    right = right.where(F.col(key_col).isNotNull())
    # the matched right row travels as ONE struct so value and ts can
    # never come from different rows (a value-NULL right row is still a
    # non-null struct, so it both matches and carries its NULL value)
    r_struct = F.struct(
        F.col(right_value).alias("_rv"), F.col(ts_col).alias("_rts")
    )
    tag_r = right.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in order_cols],
        F.lit(0).alias("_side"),
        r_struct.alias("_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in lcols],
    )
    rv_t = right.schema[right_value].dataType.simpleString()
    rts_t = right.schema[ts_col].dataType.simpleString()
    null_struct = F.lit(None).cast(f"struct<_rv:{rv_t},_rts:{rts_t}>")
    tag_l = left.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in order_cols],
        F.lit(1).alias("_side"),
        null_struct.alias("_r"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "_side", *order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = tag_r.unionByName(tag_l).select(
        "*", F.last("_r", ignorenulls=True).over(w).alias("_m")
    )
    out = u.where((F.col("_side") == 1) & F.col("_m").isNotNull())
    return out.select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        F.col("_m._rv").alias(f"{out_prefix}{right_value}"),
        F.col("_m._rts").alias(f"{out_prefix}{ts_col}"),
    )
