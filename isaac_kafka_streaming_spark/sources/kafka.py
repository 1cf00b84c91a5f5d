"""S1/K1/K2 — Kafka source and sink adapters.

The reference subscribes to `topic_logged_events` with String keys and
JSON values (LoggedEventsListener.java:49-53,81) and writes the
anonymous branch to `topic_anonymous_logged_events` (:88).  Spark
mapping: the built-in kafka source/sink with from_json/to_json and the
declared LOGGED_EVENT_SCHEMA.

The test container has no Kafka broker (and may lack the
spark-sql-kafka artifact), so these builders construct the plan but
callers must be prepared for a runtime error if the kafka data source
is unavailable — the file-based twin in streaming.topology covers
tests.  The topic names below are the reference's config.properties
defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LOGGED_EVENT_SCHEMA

LOGGED_EVENTS_TOPIC = "topic_logged_events"
ANONYMOUS_EVENTS_TOPIC = "topic_anonymous_logged_events"

# The data source format every adapter below builds its plan against.
# Production value is the real connector's name; tests that run in a
# brokerless container repoint it at the in-process test double
# (tests/kafka_double.py, registered as "kafkasim") — Spark hardwires
# the literal "kafka" lookup to fail without the spark-sql-kafka
# artifact before consulting the Python data source registry, so the
# seam has to be the format name itself.  Everything else in the plan
# (options, schema contract, parse/serialize stack) is identical.
KAFKA_FORMAT = "kafka"


def read_logged_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = LOGGED_EVENTS_TOPIC,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1 — streaming Kafka source -> parsed logged-event records.

    Key = user_id (string), value = JSON logged event; missing fields
    parse to NULL (from_json permissive mode) with the reference's
    zero-defaults applied via coalesce (SURVEY.md §1.2).
    """
    raw = (
        spark.readStream.format(KAFKA_FORMAT)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return _parse(raw)


def read_logged_events_batch(
    spark: SparkSession, bootstrap_servers: str, topic: str = LOGGED_EVENTS_TOPIC
) -> DataFrame:
    """Batch twin of S1 (bounded replay of a topic)."""
    raw = (
        spark.read.format(KAFKA_FORMAT)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
    )
    return _parse(raw)


def _parse(raw: DataFrame) -> DataFrame:
    parsed = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), LOGGED_EVENT_SCHEMA).alias("v"),
        "timestamp",
    )
    return parsed.select(
        "kafka_key",
        F.coalesce(F.col("v.user_id"), F.lit("")).alias("user_id"),
        F.coalesce(F.col("v.anonymous_user"), F.lit(False)).alias(
            "anonymous_user"
        ),
        F.coalesce(F.col("v.event_type"), F.lit("")).alias("event_type"),
        F.col("v.event_details").alias("event_details"),
        F.coalesce(F.col("v.timestamp"), F.lit(0)).alias("event_ts_ms"),
        F.timestamp_millis(F.coalesce(F.col("v.timestamp"), F.lit(0))).alias(
            "ts"
        ),
    )


def to_kafka_records(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Shape a record stream for the kafka sink: key = user_id, value =
    JSON of ALL columns — the key column included, duplicating it onto
    the wire exactly as the reference does (KafkaLoader.java:104,112
    puts user_id in the ObjectNode AND keys the ProducerRecord with it),
    so `_parse(to_kafka_records(df))` is an identity on the payload
    (K1/K2, LoggedEventsListener.java:88)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def write_stream_to_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str = "user_id",
):
    """K1 — continuous Kafka sink. Returns the StreamingQuery."""
    return (
        to_kafka_records(df, key_col)
        .writeStream.format(KAFKA_FORMAT)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_batch_to_kafka(
    df: DataFrame, bootstrap_servers: str, topic: str, key_col: str = "user_id"
) -> None:
    """K2 — batch producer (the loader sink; no per-record throttle —
    the reference's Thread.sleep(1) was a single-threaded-producer
    artifact, KafkaLoader.java:117)."""
    (
        to_kafka_records(df, key_col)
        .write.format(KAFKA_FORMAT)
        # a topic is append-only; say so instead of the ErrorIfExists
        # default (the real connector treats every mode as append)
        .mode("append")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
