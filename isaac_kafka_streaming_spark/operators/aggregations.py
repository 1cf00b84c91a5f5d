"""Keyed aggregations — the reference's state-store operators (SURVEY.md §2.6).

All are pure DataFrame -> DataFrame, built from built-in aggregate
functions so they compile to HashAggregateExec with map-side partial
aggregation (one shuffle on the grouping key, no Python in the hot path).
The streaming forms in `streaming/topology.py` reuse these where Spark's
incrementalization allows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """O1 — latest-record-per-key upsert snapshot.

    Reference: the `userData` KTable, last-write-wins per user_id
    (LoggedEventsListener.java:92-115).  row_number over a desc sort
    rather than max_by(struct): an explicit deterministic tie-break is
    required for oracle parity, and Catalyst compiles this to a single
    shuffle + in-partition sort (no second agg pass).
    """
    order = [F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_seen(df: DataFrame, user_col: str, type_col: str, ts_col: str) -> DataFrame:
    """O2 — last-seen per (user, event_type) plus an OVERALL rollup row.

    Reference: `store_user_last_seen` keeps a map event_type -> ts plus an
    "OVERALL" entry updated on every event (LoggedEventsListener.java:138-160).
    Relational form: the per-type MAX, then the OVERALL level *re-aggregated
    from the per-type partials* — one scan of the input, second level
    aggregates |users|x|types| rows instead of the raw stream.
    """
    per_type = df.groupBy(user_col, type_col).agg(F.max(ts_col).alias("last_seen"))
    overall = per_type.groupBy(user_col).agg(F.max("last_seen").alias("last_seen"))
    return per_type.unionByName(
        overall.withColumn(type_col, F.lit("OVERALL")).select(
            user_col, type_col, "last_seen"
        )
    )


def count_by_key(df: DataFrame, key_cols: Sequence[str], alias: str = "n") -> DataFrame:
    """O3 — count per key (store_log_event_counts,
    LoggedEventsListener.java:165-172). The re-key map of the reference
    (R1) is just the groupBy column set in relational form."""
    return df.groupBy(*key_cols).agg(F.count("*").alias(alias))


def hot_keys(df: DataFrame, keys: Sequence[str], cap: int) -> DataFrame:
    """The ``keys`` values that occur in more than ``cap`` rows of ``df``.

    The one hot-key cap behind every skew guard (hot shingles, wide LSH
    band buckets, bot users, boilerplate spans): callers anti-join the
    result away, or flag against it.  The count is map-side combinable,
    and the list is small by a counting bound (at most
    rows/cap entries), so AQE broadcasts it into the join."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )


def count_and_latest(
    df: DataFrame, key_cols: Sequence[str], ts_col: str
) -> DataFrame:
    """O7 — generic count+last aggregate (QuestionAnswerCounter.java:33-45,
    QuestionAnswerInitializer.java:37-48)."""
    return df.groupBy(*key_cols).agg(
        F.count("*").alias("n_attempts"),
        F.max(ts_col).alias("latest_attempt"),
    )


def daily_counts(
    df: DataFrame, ts_col: str, dim_cols: Sequence[str], alias: str = "n"
) -> DataFrame:
    """O4 — tumbling 1-day event-time counts per dimension set
    (store_daily_log_events, LoggedEventsListener.java:177-224).

    Day bucket via date_trunc('day', ts), TIMESTAMP-typed — identical
    semantics to the reference's Calendar midnight truncation under a
    pinned UTC session timezone (F8); the DuckDB oracle casts its
    date_trunc back to TIMESTAMP so both sides agree byte-for-byte.
    The nested role->type->count map shape of the reference is
    presentation-layer only (map_from_entries at the edge if needed).
    """
    return df.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"), *dim_cols
    ).agg(F.count("*").alias(alias))


def last_seen_as_map(last_seen_df: DataFrame, user_col: str, type_col: str) -> DataFrame:
    """O2 presentation — reshape the relational last-seen rows into the
    reference's store layout: one row per user with a map
    event_type -> last_seen (OVERALL included as a map key, matching
    store_user_last_seen, LoggedEventsListener.java:138-160).  Engine
    stays relational; this runs only at the presentation edge."""
    return last_seen_df.groupBy(user_col).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(type_col, "last_seen")))
        ).alias("last_seen_by_type")
    )


def daily_counts_as_map(daily_df: DataFrame, role_col: str, type_col: str) -> DataFrame:
    """O4 presentation — the reference's nested day -> role -> type ->
    count JSON (store_daily_log_events, LoggedEventsListener.java:204-218)
    from the relational daily counts: two map_from_entries levels."""
    per_role = daily_df.groupBy("day", role_col).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(type_col, "n")))
        ).alias("by_type")
    )
    # no array_sort here: structs containing maps are not orderable, and
    # map equality is content-based anyway
    return per_role.groupBy("day").agg(
        F.map_from_entries(
            F.collect_list(F.struct(role_col, "by_type"))
        ).alias("by_role")
    )


def two_level_question_counts(
    attempts: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """O6 — per-question-part correct-attempt counts, two-level.

    Reference mutates a per-(user, page) JSON array in state
    (DerivedStreams.java:152-226); relational form is a two-level
    aggregation: level 1 per (user, page, part), level 2 re-aggregates
    the level-1 partials per (user, page).  Returns (part_level,
    page_level).  The array shape (`partAttemptsCorrect`) is available
    via collect_list at presentation time; queries expose the relational
    form for deterministic oracle comparison.
    """
    part_level = (
        attempts.filter(F.col("correct"))
        .groupBy("user_id", "question_page_id", "question_part_id")
        .agg(
            F.count("*").alias("correct_attempts"),
            F.max("date_attempted").alias("latest_attempt"),
        )
    )
    page_level = part_level.groupBy("user_id", "question_page_id").agg(
        F.count("*").alias("n_parts_attempted"),
        F.sum("correct_attempts").alias("total_correct_attempts"),
        F.max("latest_attempt").alias("latest_attempt"),
    )
    return part_level, page_level
