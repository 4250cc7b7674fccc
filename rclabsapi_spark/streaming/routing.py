"""ST1/P9 — filtered pub/sub routing (message_broadcaster.cpp:154-233,
ConnectionFilters semantics job_monitoring_models.cpp:817-859).

Each subscriber holds three membership filters (message types, job ids,
log levels) where the empty set means match-all, combined conjunctively.
The engine routes by joining the event stream to a broadcast subscriptions
table under that predicate — one pass routes every event to every matching
subscriber, instead of the reference's per-connection loop.

Works identically on a batch DataFrame and a streaming one (the join is
stateless), so live routing is ``readStream → route_events → writeStream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rclabsapi_spark.catalog import local_df

# Fixture subscription set (FIXTURES.md §8): includes empty lists
# (match-all) and each filter dimension. Mirrored in suites/events.py SQL.
DEFAULT_SUBSCRIPTIONS = [
    ("conn_all", [], [], []),
    ("conn_errors", [], ["ERROR"], ["error"]),
    ("conn_user7", [7], [], []),
    ("conn_mixed", [1, 2, 3], ["WARN", "ERROR"], ["purchase", "view"]),
]

_SUBS_SCHEMA = StructType(
    [
        StructField("connection_id", StringType()),
        StructField("job_ids", ArrayType(LongType())),
        StructField("levels", ArrayType(StringType())),
        StructField("types", ArrayType(StringType())),
    ]
)


def subscriptions_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, DEFAULT_SUBSCRIPTIONS, _SUBS_SCHEMA)


def _match(filter_col: str, value_col: str):
    """Empty list ⇒ pass-all, else membership
    (job_monitoring_models.cpp:823-858)."""
    return (F.size(F.col(filter_col)) == 0) | F.array_contains(
        F.col(filter_col), F.col(value_col)
    )


def route_events(events: DataFrame, subscriptions: DataFrame) -> DataFrame:
    """shouldReceiveMessage as a broadcast theta-join: (connection_id,
    event) pairs for every passing subscriber."""
    pred = (
        _match("types", "event_type")
        & _match("job_ids", "user_id")
        & _match("levels", "level")
    )
    return (
        events.join(F.broadcast(subscriptions), pred, "inner")
        .select(
            "connection_id",
            "event_id",
            F.col("user_id"),
            F.col("event_type"),
            F.col("level"),
        )
    )
