"""Declared record schemas — the reference's implicit JSON contracts
(FIXTURES.md §A) as explicit StructTypes.

The reference is schema-less (Jackson JsonNode, missing fields read as
zero-defaults — SURVEY.md §1.2); the idiomatic Spark replacement is
schema-on-read with these declared contracts plus explicit coalesce
defaults where the zero-default semantics matter
(functions.scalars.json_*).  A2 question attempts derive from the
events table (plans.views.question_attempts_from); the A3 user-profile
allow-list is sources.jdbc.USER_PROFILE_COLUMNS.
"""

from __future__ import annotations

from pyspark.sql import types as T

# A1 — the value on topic_logged_events (KafkaLoader.java:100-110)
LOGGED_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("anonymous_user", T.BooleanType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_details_type", T.StringType()),
        T.StructField("event_details", T.StringType()),  # polymorphic: raw JSON
        T.StructField("ip_address", T.StringType()),
        T.StructField("timestamp", T.LongType()),  # epoch millis
    ]
)

# The driver's synthetic events table (TESTDATA.md), post read_table
# normalization (ts -> TimestampType)
EVENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
