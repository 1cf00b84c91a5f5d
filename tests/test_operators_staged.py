"""Parity + invariants for the sketch and feature-grid entries
registered in round 7: the HLL distinct witness, histogram quantiles,
gap-fill, funnel and cohort retention.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from isaac_kafka_streaming_spark.queries import (
    HLL_DISTINCT_ORACLE_SQL,
    _hll_distinct_md5,
)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def test_hll_matches_oracle(spark, sf_smoke):
    got = _normalize(_hll_distinct_md5(spark, sf_smoke).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_smoke}/events.parquet'"
    )
    want = _normalize(con.execute(HLL_DISTINCT_ORACLE_SQL).fetchdf())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(got) > 0
    for col in got.columns:
        g, w = got[col].dtype, want[col].dtype
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{col}: dtype {g} vs {w}"
        )
        assert list(got[col]) == list(want[col]), f"{col} differs"


def test_hll_estimate_quality(spark, sf_smoke):
    """m=64 raw HLL: every group's estimate within a loose 3-sigma-ish
    band of the exact distinct count (1.04/sqrt(64) = 13% expected
    relative error), and deterministic across runs."""
    df = _hll_distinct_md5(spark, sf_smoke).toPandas()
    rel = (df.hll_est - df.exact_users).abs() / df.exact_users
    assert (rel < 0.4).all(), df[["event_type", "exact_users", "hll_est"]]
    again = _hll_distinct_md5(spark, sf_smoke).toPandas()
    assert sorted(df.hll_est) == sorted(again.hll_est)


def test_histogram_quantiles_matches_oracle_and_error(spark, sf_smoke):
    """Bounded-state quantile tier: hash-exact vs the
    DuckDB replay, and the 64-bin estimate lands within one bin width
    of the exact percentile (the histogram's worst-case error bound)."""
    from isaac_kafka_streaming_spark.queries import (
        HISTOGRAM_QUANTILES_ORACLE_SQL,
        _histogram_quantiles,
    )

    got = _normalize(_histogram_quantiles(spark, sf_smoke).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_smoke}/events.parquet'"
    )
    want = _normalize(
        con.execute(HISTOGRAM_QUANTILES_ORACLE_SQL).fetchdf()
    )
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(got) > 0
    for col in got.columns:
        g, w = got[col].dtype, want[col].dtype
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{col}: dtype {g} vs {w}"
        )
        assert list(got[col]) == list(want[col]), f"{col} differs"
    # error bound derived from the data, not hard-coded: the exact
    # percentile's rank (n-1)q+1 can exceed the histogram's target
    # rank q*n by up to 1 and land in the adjacent bin, so the worst
    # case is TWO bin widths, width = (hi-lo)/64 per group
    con = duckdb.connect()
    widths = dict(
        con.execute(
            "SELECT event_type, (MAX(value) - MIN(value)) / 64.0 FROM "
            f"'{sf_smoke}/events.parquet' WHERE NOT (user_id % 10 = 0) "
            "GROUP BY 1"
        ).fetchall()
    )
    con.close()
    for row in got.itertuples():
        bound = 2 * widths[row.event_type] + 1e-9
        assert abs(row.hist_p50 - row.exact_p50) <= bound, row
        assert abs(row.hist_p95 - row.exact_p95) <= bound, row


def test_histogram_bins_merge_across_shards(spark, sf_smoke):
    """The histogram's mergeability claim, executed: building bin
    counts on two disjoint shards (same per-group lo/width) and
    summing them cell-wise equals the whole-corpus bin counts — the
    property that lets 1000 executors build per-partition histograms
    and reduce them, which is the entire reason this tier replaces the
    per-group sort at scale.  (CMS and HLL have the same test in
    streaming form; the histogram's merge precondition — a shared
    binning frame — is explicit here.)"""
    from isaac_kafka_streaming_spark.io import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_smoke, "events").filter(
        ~(F.col("user_id") % 10 == 0)
    ).select("event_type", "value", "event_id")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("width", (F.col("hi") - F.col("lo")) / F.lit(64.0))
        .withColumn(
            "bin",
            F.when(F.col("width") == 0.0, F.lit(0))
            .otherwise(
                F.least(
                    F.floor((F.col("value") - F.col("lo")) / F.col("width")),
                    F.lit(63),
                )
            )
            .cast("long"),
        )
    )

    def counts(df):
        return {
            (r.event_type, r.bin): r.c
            for r in df.groupBy("event_type", "bin")
            .agg(F.count("*").alias("c"))
            .collect()
        }

    whole = counts(binned)
    shard_a = counts(binned.filter(F.col("event_id") % 2 == 0))
    shard_b = counts(binned.filter(F.col("event_id") % 2 == 1))
    merged: dict = {}
    for part in (shard_a, shard_b):
        for cell, c in part.items():
            merged[cell] = merged.get(cell, 0) + c
    assert merged == whole and len(whole) > 0


def test_user_daily_gapfill_parity_and_locf(spark, sf_smoke):
    """Spark↔DuckDB parity for the resample/gap-fill/LOCF grid, plus
    the structural properties: every user's span is dense (one row per
    day, no holes), zero-filled days exist, and value_locf is never
    null (each span starts on an observed day)."""
    import datetime

    import duckdb

    from isaac_kafka_streaming_spark.queries import (
        GAPFILL_ORACLE_SQL,
        _user_daily_gapfill,
    )

    rows = _user_daily_gapfill(spark, sf_smoke).collect()
    got = {(r.user_id, r.day): (r.n_events, r.value_locf) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/events.parquet')"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(GAPFILL_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100
    assert any(v[0] == 0 for v in got.values()), "no gap was filled"
    assert all(v[1] is not None for v in got.values())

    # density: per user, row count == span length in days
    by_user: dict = {}
    for (u, d), _ in got.items():
        by_user.setdefault(u, []).append(d)
    one_day = datetime.timedelta(days=1)
    for u, days in by_user.items():
        days.sort()
        assert len(days) == (days[-1] - days[0]) // one_day + 1, u


def test_funnel_parity_and_monotonicity(spark, sf_smoke):
    """Spark↔DuckDB parity for the windowed event funnel, plus the
    structural funnel laws: step counts are monotonically
    non-increasing, every conversion is in (0, 1], and the funnel
    genuinely discriminates (some step loses users) on this data."""
    import duckdb

    from isaac_kafka_streaming_spark.queries import (
        FUNNEL_ORACLE_SQL,
        _funnel_signup_purchase,
    )

    rows = sorted(
        (r.step, r.event_type, r.n_users, r.conversion)
        for r in _funnel_signup_purchase(spark, sf_smoke).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/events.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(FUNNEL_ORACLE_SQL).fetchall()
    )
    assert rows == want and len(rows) == 4
    ns = [r[2] for r in rows]
    assert ns == sorted(ns, reverse=True), "funnel counts increased"
    assert all(0 < r[3] <= 1 for r in rows)
    assert ns[-1] < ns[0], "funnel never discriminated"


def test_user_daily_gapfill_matches_classic_reference(spark, sf_smoke):
    """Third-implementation check for the resample/LOCF grid: an
    explicit per-user day loop over the raw events must agree with the
    relational form exactly."""
    import datetime

    from isaac_kafka_streaming_spark.io import read_table as rt
    from isaac_kafka_streaming_spark.queries import _user_daily_gapfill

    events = rt(spark, sf_smoke, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    per_user: dict = {}
    for r in events:
        per_user.setdefault(r.user_id, []).append(r)

    want = {}
    one_day = datetime.timedelta(days=1)
    for u, evs in per_user.items():
        by_day: dict = {}
        for r in evs:
            by_day.setdefault(r.ts.date(), []).append(r)
        d0, d1 = min(by_day), max(by_day)
        locf = None
        d = d0
        while d <= d1:
            rows = by_day.get(d, [])
            if rows:
                latest = max(rows, key=lambda r: (r.ts, r.event_id))
                locf = latest.value
            day_ts = datetime.datetime(d.year, d.month, d.day)
            want[(u, day_ts)] = (len(rows), round(locf, 6))
            d += one_day

    got = {
        (r.user_id, r.day): (r.n_events, r.value_locf)
        for r in _user_daily_gapfill(spark, sf_smoke).collect()
    }
    assert got == want


def test_cohort_retention_parity_and_bounds(spark, sf_smoke):
    """Spark↔DuckDB parity for the retention matrix, plus structural
    bounds: retention in (0, 1], offsets non-negative, and every
    cohort's offset-0 row exists (signup week itself counts as
    active)."""
    import duckdb

    from isaac_kafka_streaming_spark.queries import (
        COHORT_RETENTION_ORACLE_SQL,
        _cohort_retention,
    )

    rows = _cohort_retention(spark, sf_smoke).collect()
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.retention)
        for r in rows
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/events.parquet')"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(COHORT_RETENTION_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 2
    cohorts = {cw for cw, _ in got}
    assert all(off >= 0 for _, off in got)
    assert all(0 < v[1] <= 1 for v in got.values())
    assert all((cw, 0) in got for cw in cohorts), "missing offset-0 row"
