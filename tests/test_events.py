"""Event operators: the as-of join against hand-computed matches."""


def test_asof_join_semantics(spark):
    from datetime import datetime

    from sassy_spark.operators.events import asof_join

    T = datetime
    right = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 9, 0), 1.0),
            (2, 10, T(2024, 1, 1, 10, 0), 2.0),
            (3, 10, T(2024, 1, 1, 12, 0), 3.0),   # after the left row
            (4, 20, T(2024, 1, 1, 11, 0), 4.0),   # same-ts as left
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    left = spark.createDataFrame(
        [
            (100, 10, T(2024, 1, 1, 11, 0)),  # matches id=2 (10:00)
            (101, 20, T(2024, 1, 1, 11, 0)),  # same-ts view counts
            (102, 30, T(2024, 1, 1, 11, 0)),  # no view at all -> dropped
            (103, 10, T(2024, 1, 1, 8, 0)),   # before any view -> dropped
        ],
        ["event_id", "user_id", "ts"],
    )
    rows = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert set(rows) == {100, 101}
    assert rows[100]["asof_value"] == 2.0
    assert rows[100]["asof_ts"] == T(2024, 1, 1, 10, 0)
    assert rows[101]["asof_value"] == 4.0  # ties on ts: right sorts first


def test_asof_join_null_value_and_null_keys(spark):
    from datetime import datetime

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)

    from sassy_spark.operators.events import asof_join

    T = datetime
    schema_r = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    right = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 9, 0), 1.0),
            (2, 10, T(2024, 1, 1, 10, 0), None),   # most recent, NULL value
            (3, None, T(2024, 1, 1, 10, 0), 5.0),  # NULL key: never matches
        ],
        schema_r,
    )
    schema_l = StructType(schema_r.fields[:3])
    left = spark.createDataFrame(
        [
            (100, 10, T(2024, 1, 1, 11, 0)),
            (101, None, T(2024, 1, 1, 11, 0)),     # NULL key: dropped
        ],
        schema_l,
    )
    rows = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert set(rows) == {100}
    # the matched ROW is the 10:00 one: NULL value travels with ITS ts —
    # value and ts must never come from different right rows
    assert rows[100]["asof_value"] is None
    assert rows[100]["asof_ts"] == T(2024, 1, 1, 10, 0)


def test_asof_join_preserves_carried_left_columns(spark):
    from datetime import datetime

    from sassy_spark.operators.events import asof_join

    T = datetime
    right = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1, 9, 0), 7.5)],
        ["event_id", "user_id", "ts", "value"],
    )
    left = spark.createDataFrame(
        [(100, 10, T(2024, 1, 1, 11, 0), "checkout", 42)],
        ["event_id", "user_id", "ts", "page", "cart_size"],
    )
    (row,) = asof_join(left, right).collect()
    # every left column survives, plus the two asof_ outputs
    assert row["page"] == "checkout" and row["cart_size"] == 42
    assert row["asof_value"] == 7.5
    assert set(asof_join(left, right).columns) == {
        "event_id", "user_id", "ts", "page", "cart_size",
        "asof_value", "asof_ts",
    }
