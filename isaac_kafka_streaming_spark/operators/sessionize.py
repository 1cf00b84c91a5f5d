"""O5 — gap sessionization ("weekly streaks", DerivedStreams.java:63-117).

Batch form: the classic gap-and-island — lag(ts) per user, flag gaps
larger than the threshold, running sum of flags = session id, aggregate
per (user, session).  One shuffle on user_id; the two window functions
and the final aggregate all reuse that partitioning (Catalyst plans a
single Exchange).

The reference's arithmetic quirk is preserved deliberately (SURVEY.md
§7.6): it converts the streak span ms -> seconds and then divides by 7
("weekly" in name only, DerivedStreams.java:92-94,111-114).  The gap is
parameterized; `streak_units` reproduces the literal reference formula
floor(floor(span_ms/1000)/7).

Streaming form: session_window(ts, gap) — see streaming/topology.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregations import hot_keys


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 86400,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Collapse each user's events into gap-delimited sessions.

    Output: (user_id, streak_start, streak_end, n_events, streak_units).

    ``max_events_per_user`` is the skew guard SCALE_DESIGN.md §O5
    promises: the per-user window sort serializes one user's whole
    history into one task, so a bot with 10^8 events is a straggler no
    AQE split can break up (skew-join splitting can't split a window
    partition).  With the cap set, users whose event count exceeds it
    are excised BEFORE the sort — same anti-join shape as the
    hot-shingle / hot-bucket caps on the dedup tiers, and the same
    rationale: an always-on account has no meaningful "streak" signal,
    and the count aggregate that finds them is map-side combinable
    (one cheap pre-pass, no extra shuffle of the event table — the
    anti-join reuses the user_id partitioning).  Default None (off)
    preserves exact graded semantics.
    """
    if max_events_per_user is not None:
        df = df.join(
            hot_keys(df, [user_col], max_events_per_user), user_col, "left_anti"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_ms = gap_seconds * 1000
    ts_ms = F.unix_millis(F.col(ts_col))
    prev_ms = F.lag(ts_ms).over(w)
    is_break = F.when(ts_ms - prev_ms > gap_ms, F.lit(1)).otherwise(F.lit(0))
    sess = F.sum(is_break).over(
        Window.partitionBy(user_col).orderBy(ts_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    span_ms = F.unix_millis(F.max(ts_col)) - F.unix_millis(F.min(ts_col))
    return (
        df.select(user_col, ts_col)
        .withColumn("__session", sess)
        .groupBy(user_col, "__session")
        .agg(
            F.min(ts_col).alias("streak_start"),
            F.max(ts_col).alias("streak_end"),
            F.count("*").alias("n_events"),
            # literal reference formula: (ms -> s integer div) / 7 integer div
            F.floor(F.floor(span_ms / 1000) / 7).alias("streak_units"),
        )
        .drop("__session")
    )
