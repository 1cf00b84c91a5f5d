"""Final-state checks of the `isaac_stream` workload against DuckDB over
the same published event files.

Each store is recomputed in SQL from the definitions of the reference
topology: per-type and daily counts, latest event per user, the
anonymous/registered split (user_id % 10 = 0), the user-enriched
stream, the current streak per user (gap-and-island, gap > 1 day), and
the threshold crossings of correct question attempts (window count),
which must equal the JDBC sink's rows with no duplicate business key.
"""

from __future__ import annotations

import os

import duckdb

from boards import value_hash
from stream import SINK_KEY

THRESHOLDS = (1, 5, 10, 20, 30, 50, 75, 100)

REGISTERED = "SELECT * FROM ev WHERE user_id % 10 <> 0"

ORACLES = {
    "event_type_counts": f"""
        SELECT event_type, count(*) AS n_events FROM ({REGISTERED})
        GROUP BY event_type""",
    "daily_counts": f"""
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
               count(*) AS n_events
        FROM ({REGISTERED}) GROUP BY 1, 2""",
    # event timestamps are unique, so the latest by (ts, event_id) is
    # the latest by ts
    "latest_per_user": f"""
        SELECT user_id, max(ts) AS last_ts, arg_max(value, ts) AS last_value,
               arg_max(props, ts) AS last_props
        FROM ({REGISTERED}) GROUP BY user_id""",
    "anonymous_events": """
        SELECT event_id, user_id, event_type, ts, true AS anonymous_user,
               value, props
        FROM ev WHERE user_id % 10 = 0""",
    "enriched_events": f"""
        SELECT e.user_id, c.c_mktsegment AS user_role,
               CASE WHEN c.c_custkey % 2 = 0 THEN 'MALE' ELSE 'FEMALE' END
                   AS user_gender,
               e.event_type, e.ts, e.value, e.props
        FROM ({REGISTERED}) e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    # last island per user: a new streak starts when the gap to the
    # previous event (ms, truncated per timestamp) exceeds one day
    "streaks": f"""
        WITH r AS (
            SELECT user_id, ts, epoch_ms(ts) AS ms,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap
            FROM ({REGISTERED}) WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), g AS (
            SELECT *, sum(CASE WHEN gap > 86400000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts) AS island
            FROM r
        ), last AS (
            SELECT user_id, max(island) AS island FROM g GROUP BY user_id
        )
        SELECT g.user_id, min(ts) AS streak_start, max(ts) AS streak_end,
               count(*) AS n_events,
               ((max(ms) - min(ms)) // 1000) // 7 AS streak_units
        FROM g JOIN last USING (user_id, island) GROUP BY g.user_id""",
    "crossings": f"""
        SELECT user_id, 'QUESTIONS_ANSWERED_CORRECTLY' AS achievement_id,
               n AS threshold, ts AS achieved_at
        FROM (
            SELECT user_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts) AS n
            FROM ({REGISTERED}) WHERE value > 50
        ) WHERE n IN {THRESHOLDS}""",
}


def _compare(name, cols, rows, con) -> str | None:
    res = con.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if len(rows) != len(orows):
        return f"{name}: rows {len(rows)} != oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"
    if value_hash(rows, cols) != value_hash(orows, ocols):
        return f"{name}: values differ from oracle"
    return None


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def check(rig) -> list[str]:
    """One line per failed check; empty when every store is right."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE VIEW ev AS SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM "
        f"read_parquet('{os.path.join(rig.src, '*.parquet')}')"
    )
    for t in ("customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(rig.dims, t + '.parquet')}')"
        )
    problems = []
    (n_events,) = con.execute("SELECT count(*) FROM ev").fetchone()
    if n_events != rig.published_events:
        problems.append(f"source holds {n_events} events, published {rig.published_events}")
    for name in ("event_type_counts", "daily_counts", "latest_per_user",
                 "anonymous_events", "enriched_events"):
        problems.append(_compare(name, *_collect(rig.table(name)), con))
    # update-mode streak store: one row per user per batch that touched
    # the user; the current streak is the row with the latest end
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("streak_end").desc(),
                                              F.col("n_events").desc())
    latest = (rig.table("streaks").withColumn("_r", F.row_number().over(w))
              .filter("_r = 1").drop("_r"))
    problems.append(_compare("streaks", *_collect(latest), con))
    cols, rows = _collect(rig.sink())
    key_idx = [cols.index(k) for k in SINK_KEY]
    keys = [tuple(r[i] for i in key_idx) for r in rows]
    if len(set(keys)) != len(keys):
        problems.append(f"jdbc sink: {len(keys) - len(set(keys))} duplicate business keys")
    problems.append(_compare("crossings", cols, rows, con))
    con.close()
    return [p for p in problems if p]
