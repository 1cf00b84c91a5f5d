"""Operator edge cases — the reference quirks SURVEY.md §7.6 pins:
zero-defaults for missing JSON, single-event streaks, threshold
boundary equality, deterministic tie-breaks.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from isaac_kafka_streaming_spark.functions.scalars import (
    after,
    before,
    hex_long,
    json_bool,
    json_long,
    json_str,
    normalized_text_hash,
)
from isaac_kafka_streaming_spark.operators.aggregations import (
    hot_keys,
    last_seen,
    latest_per_key,
)
from isaac_kafka_streaming_spark.operators.sessionize import sessionize
from isaac_kafka_streaming_spark.operators.thresholds import threshold_crossings


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_json_zero_defaults(spark):
    """Jackson .path() semantics: absent -> ''/0/false, never null."""
    df = spark.createDataFrame(
        [Row(props='{"a": "x", "n": 5, "b": true}'), Row(props="{}"),
         Row(props=None)]
    )
    out = df.select(
        json_str("props", "$.a").alias("s"),
        json_long("props", "$.n").alias("n"),
        json_bool("props", "$.b").alias("b"),
    ).collect()
    assert (out[0].s, out[0].n, out[0].b) == ("x", 5, True)
    assert (out[1].s, out[1].n, out[1].b) == ("", 0, False)
    assert (out[2].s, out[2].n, out[2].b) == ("", 0, False)


def test_before_after_first_delimiter(spark):
    """F4 splits on the FIRST delimiter (Java indexOf), including the
    reference's corner cases: multiple delimiters -> everything after
    the first; absent delimiter -> substring(indexOf+1=0) = whole
    string (DerivedStreams.java:177)."""
    df = spark.createDataFrame(
        [Row(s="page|part|sub"), Row(s="page|part"), Row(s="nodelim")]
    )
    out = df.select(
        before("s", "|").alias("b"), after("s", "|").alias("a")
    ).collect()
    assert (out[0].b, out[0].a) == ("page", "part|sub")
    assert (out[1].b, out[1].a) == ("page", "part")
    assert (out[2].b, out[2].a) == ("nodelim", "nodelim")


def test_hash_helpers_match_hashlib_replica(spark):
    """hex_long and normalized_text_hash against a hashlib replica.
    ASCII inputs only: Java and Python disagree on what \\s and
    lower() cover outside ASCII, so this replica says nothing there."""
    texts = [
        "Hello   World",
        "  leading and trailing  ",
        "tabs\tand\nnew\r\nlines\x0b\x0cmixed",
        "MiXeD CaSe 123",
        "",
        "   ",
        "one",
    ]
    slices = [(1, 4), (1, 6), (1, 7), (1, 15), (7, 15), (16, 14), (31, 2)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    md5 = F.md5(F.col("text"))
    rows = df.select(
        "text",
        normalized_text_hash("text").alias("norm"),
        *[hex_long(md5, s, n).alias(f"h{s}_{n}") for s, n in slices],
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        norm = re.sub(r"\s+", " ", r.text.lower()).strip(" ")
        assert r.norm == hashlib.sha256(norm.encode()).hexdigest(), r.text
        hexd = hashlib.md5(r.text.encode()).hexdigest()
        for s, n in slices:
            assert r[f"h{s}_{n}"] == int(hexd[s - 1 : s - 1 + n], 16), (s, n)


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ts=_ts("2024-01-01T10:00:00"), event_id=1, v="first"),
            Row(k="a", ts=_ts("2024-01-01T10:00:00"), event_id=2, v="second"),
        ]
    )
    out = latest_per_key(df, ["k"], "ts", tiebreak_col="event_id").collect()
    assert len(out) == 1 and out[0].v == "second"


def test_asof_join_semantics(spark):
    """Backward as-of: greatest right_ts <= left_ts per key, inclusive
    at equality, NULLs before the first right row, later rights
    invisible."""
    from isaac_kafka_streaming_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),  # before any snapshot
            (2, "u1", _ts("2024-01-02T00:00:00")),  # == snapshot ts (tie)
            (3, "u1", _ts("2024-01-03T12:00:00")),  # between snapshots
            (4, "u2", _ts("2024-01-05T00:00:00")),  # other key
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-02T00:00:00"), 10.0),
            ("u1", _ts("2024-01-03T00:00:00"), 20.0),
            ("u1", _ts("2024-01-04T00:00:00"), 30.0),  # later: invisible to 1-3
            ("u2", _ts("2024-01-01T00:00:00"), 99.0),
        ],
        "user_id string, ts timestamp, value double",
    )
    out = {
        r.event_id: (r.asof_ts, r.asof_value)
        for r in asof_join(left, right, on="user_id",
                           value_cols=["ts", "value"]).collect()
    }
    assert out[1] == (None, None)
    assert out[2] == (_ts("2024-01-02T00:00:00"), 10.0)
    assert out[3] == (_ts("2024-01-03T00:00:00"), 20.0)
    assert out[4] == (_ts("2024-01-01T00:00:00"), 99.0)


def test_interval_join_matches_naive_inequality(spark):
    """The banded equi-join rewrite must equal the naive inequality
    join row-for-row, including chunk-boundary and half-open-edge
    cases."""
    from isaac_kafka_streaming_spark.operators.joins import interval_join

    base = _ts("2024-01-01T00:00:00")
    left = spark.createDataFrame(
        [
            # on the interval start (inclusive), just under the end,
            # exactly the end (excluded), crossing a chunk boundary
            (i, "u1", base + dt.timedelta(seconds=s))
            for i, s in enumerate([0, 3599, 3600, 5400, 7199, 7200, 10000])
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, "u1", base),
            (101, "u1", base + dt.timedelta(seconds=5400)),  # mid-chunk start
            (102, "u2", base),  # other key: never matches
        ],
        "iv_id long, user_id string, start timestamp",
    )
    got = sorted(
        (r.event_id, r.iv_id)
        for r in interval_join(
            left, right, on="user_id", left_ts="ts",
            right_start="start", band_seconds=3600,
        ).collect()
    )
    naive = sorted(
        (r.event_id, r.iv_id)
        for r in left.join(right, "user_id")
        .filter(
            (F.col("ts") >= F.col("start"))
            & (F.col("ts") < F.col("start") + F.expr("INTERVAL 3600 SECOND"))
        )
        .collect()
    )
    assert got == naive
    assert got == [(0, 100), (1, 100), (3, 101), (4, 101), (5, 101)]


def test_single_event_streak(spark):
    """One event -> one session, streak_units floor(0/1000/7) = 0."""
    df = spark.createDataFrame(
        [Row(user_id=1, ts=_ts("2024-01-01T10:00:00"))]
    )
    out = sessionize(df).collect()
    assert len(out) == 1
    assert out[0].n_events == 1 and out[0].streak_units == 0
    assert out[0].streak_start == out[0].streak_end


def test_sessionize_gap_boundary(spark):
    """Gap strictly greater than threshold breaks; exactly equal merges
    (reference compares with >, DerivedStreams.java:92-94)."""
    base = _ts("2024-01-01T00:00:00")
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=base),
            Row(user_id=1, ts=base + dt.timedelta(seconds=60)),  # == gap
            Row(user_id=1, ts=base + dt.timedelta(seconds=121)),  # > gap
        ]
    )
    out = sessionize(df, gap_seconds=60).orderBy("streak_start").collect()
    assert [r.n_events for r in out] == [2, 1]


def test_threshold_at_boundary_inclusive(spark):
    """The n-th qualifying event IS the crossing (TAP.java:68-74 inserts
    *at* threshold): 5 events -> thresholds 1 and 5, timestamped by the
    1st and 5th events."""
    base = _ts("2024-01-01T00:00:00")
    rows = [
        Row(user_id=1, date_attempted=base + dt.timedelta(minutes=i), event_id=i)
        for i in range(5)
    ]
    out = (
        threshold_crossings(spark.createDataFrame(rows))
        .orderBy("threshold")
        .collect()
    )
    assert [(r.threshold, r.achieved_at) for r in out] == [
        (1, base),
        (5, base + dt.timedelta(minutes=4)),
    ]


def test_threshold_four_events_only_first(spark):
    base = _ts("2024-01-01T00:00:00")
    rows = [
        Row(user_id=1, date_attempted=base + dt.timedelta(minutes=i), event_id=i)
        for i in range(4)
    ]
    out = threshold_crossings(spark.createDataFrame(rows)).collect()
    assert [r.threshold for r in out] == [1]


def test_last_seen_overall_rollup(spark):
    df = spark.createDataFrame(
        [
            Row(user_id=1, event_type="click", ts=_ts("2024-01-01T10:00:00")),
            Row(user_id=1, event_type="view", ts=_ts("2024-01-02T10:00:00")),
            Row(user_id=2, event_type="click", ts=_ts("2024-01-03T10:00:00")),
        ]
    )
    out = {
        (r.user_id, r.event_type): r.last_seen
        for r in last_seen(df, "user_id", "event_type", "ts").collect()
    }
    assert out[(1, "OVERALL")] == _ts("2024-01-02T10:00:00")
    assert out[(1, "click")] == _ts("2024-01-01T10:00:00")
    assert out[(2, "OVERALL")] == out[(2, "click")]
    assert len(out) == 5


def test_count_sums_to_input(spark, sf_smoke):
    """Property: O3 counts sum to the registered row count."""
    from isaac_kafka_streaming_spark.plans import views

    reg = views.registered_events(spark, sf_smoke)
    counted = reg.groupBy("event_type").agg(F.count("*").alias("n"))
    assert (
        counted.agg(F.sum("n")).collect()[0][0] == reg.count()
    )


def test_last_seen_map_presentation(spark):
    """O2 map layout: one row per user, event_type -> ts map with the
    OVERALL entry (store_user_last_seen shape)."""
    from isaac_kafka_streaming_spark.operators.aggregations import (
        last_seen_as_map,
    )

    df = spark.createDataFrame(
        [
            Row(u=1, et="view", ts=_ts("2024-01-01T10:00:00")),
            Row(u=1, et="view", ts=_ts("2024-01-02T10:00:00")),
            Row(u=1, et="click", ts=_ts("2024-01-03T10:00:00")),
        ]
    )
    rel = last_seen(df, "u", "et", "ts")
    out = {r.u: r.last_seen_by_type for r in last_seen_as_map(rel, "u", "et").collect()}
    assert out[1] == {
        "view": _ts("2024-01-02T10:00:00"),
        "click": _ts("2024-01-03T10:00:00"),
        "OVERALL": _ts("2024-01-03T10:00:00"),
    }


def test_daily_counts_map_presentation(spark):
    """O4 nested map layout: day -> role -> type -> count
    (store_daily_log_events shape)."""
    from isaac_kafka_streaming_spark.operators.aggregations import (
        daily_counts,
        daily_counts_as_map,
    )

    df = spark.createDataFrame(
        [
            Row(ts=_ts("2024-01-01T10:00:00"), role="STUDENT", et="view"),
            Row(ts=_ts("2024-01-01T11:00:00"), role="STUDENT", et="view"),
            Row(ts=_ts("2024-01-01T12:00:00"), role="TEACHER", et="click"),
        ]
    )
    rel = daily_counts(df, "ts", ["role", "et"])
    out = daily_counts_as_map(rel, "role", "et").collect()
    assert len(out) == 1
    assert out[0].by_role == {
        "STUDENT": {"view": 2},
        "TEACHER": {"click": 1},
    }


def _union_find_components(edges) -> dict:
    """node -> min reachable node over the non-self-loop edges: the
    plain-Python reference for the star alternation."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_chain_and_isolate(spark):
    """CC over a chain finds one cluster with min-label id; disjoint
    pairs stay separate."""
    from isaac_kafka_streaming_spark.extensions.dedup import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (9, 10)], "doc_a long, doc_b long"
    )
    comp = {
        r.node: r.comp for r in connected_components_star(edges).collect()
    }
    assert comp == {2: 2, 3: 2, 4: 2, 5: 2, 9: 9, 10: 9}


def test_connected_components_star_matches_propagation(spark):
    """The large-star/small-star scale path must produce the same
    (node, component) labeling as a union-find over the non-self-loop
    edges on every graph shape: long chain (worst diameter), hub star
    (worst skew), dense clique, disjoint pairs, duplicate/reversed
    edges with a self-loop-only node, and a pseudo-random near-dup-like
    graph."""
    import random

    from isaac_kafka_streaming_spark.extensions.dedup import (
        connected_components_star,
    )

    rng = random.Random(7)
    rand_edges = [
        (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)
    ]
    graphs = [
        [(i, i + 1) for i in range(1, 30)],              # chain: diameter 29
        [(100, v) for v in range(101, 140)],             # hub star
        [(a, b) for a in range(1, 9) for b in range(a + 1, 9)],  # clique
        [(2, 3), (3, 4), (9, 10), (20, 21)],             # disjoint
        [(5, 6), (6, 5), (5, 6), (7, 7)],                # dupes/reversed/self
        [(a, b) for a, b in rand_edges if a != b],
    ]
    for g in graphs:
        edges = spark.createDataFrame(g, "doc_a long, doc_b long")
        star = {
            r.node: r.comp
            for r in connected_components_star(edges).collect()
        }
        assert star == _union_find_components(g), g


def test_sketch_summaries_error_bounds(spark, sf_smoke):
    """The sketch tier must track its exact twins within declared
    error: HLL++ rsd=0.05 (assert 3 sigma = 15%), approx_percentile at
    accuracy=10000 has rank error <= 1/10000 (assert the sketch value
    lies between neighboring exact quantiles with slack)."""
    from isaac_kafka_streaming_spark.queries import _sketch_summaries

    sk = {r.event_type: r for r in
          _sketch_summaries(spark, sf_smoke).collect()}
    from isaac_kafka_streaming_spark.plans import views as v
    from pyspark.sql import functions as F

    ev = v.registered_events(spark, sf_smoke)
    exact = {r.event_type: r for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.expr("percentile(value, 0.45D)").alias("p45"),
        F.expr("percentile(value, 0.5D)").alias("p50"),
        F.expr("percentile(value, 0.55D)").alias("p55"),
        F.expr("percentile(value, 0.90D)").alias("p90"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
        F.expr("percentile(value, 0.99D)").alias("p99"),
        F.count("*").alias("n"),
    ).collect()}
    assert set(sk) == set(exact)
    for et, s in sk.items():
        e = exact[et]
        assert abs(s.approx_users - e.users) <= max(0.15 * e.users, 1), et
        assert e.p45 <= s.approx_p50 <= e.p55, et
        assert e.p90 <= s.approx_p95 <= e.p99, et
        assert s.n_events == e.n, et


def test_sessionize_skew_cap(spark):
    """max_events_per_user (the O5 bot guard): cap off == exact
    semantics; cap on excises only the manufactured bot user and leaves
    every other user's sessions byte-identical — the skewed partition
    never reaches the window sort."""
    base = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    rows = [
        # a "bot": 500 events, one per minute
        Row(user_id=99, ts=base + dt.timedelta(minutes=i))
        for i in range(500)
    ] + [
        # normal users: a handful of events each
        Row(user_id=u, ts=base + dt.timedelta(hours=u, minutes=m))
        for u in range(5)
        for m in range(3)
    ]
    df = spark.createDataFrame(rows)

    uncapped = sessionize(df, gap_seconds=60)
    off = sessionize(df, gap_seconds=60, max_events_per_user=None)
    assert sorted(map(tuple, off.collect())) == sorted(
        map(tuple, uncapped.collect())
    )

    capped = sessionize(df, gap_seconds=60, max_events_per_user=100)
    got = sorted(map(tuple, capped.collect()))
    want = sorted(
        map(tuple, uncapped.filter(F.col("user_id") != 99).collect())
    )
    assert got == want and len(got) > 0
    # cap above the bot's count is the identity again
    assert sorted(
        map(tuple, sessionize(df, gap_seconds=60, max_events_per_user=500).collect())
    ) == sorted(map(tuple, uncapped.collect()))


def test_hot_keys_cap_boundary(spark):
    """A key with exactly cap rows is kept (not hot); one with cap + 1
    rows is hot and gets dropped — the boundary every skew cap
    inherits from hot_keys."""
    cap = 3
    rows = [("at_cap", i) for i in range(cap)] + [
        ("over_cap", i) for i in range(cap + 1)
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    assert [r.k for r in hot_keys(df, ["k"], cap).collect()] == ["over_cap"]


def test_total_order_primitives_match_single_window(spark):
    """ranked_total_order / cumsum_total_order (operators.ordered) are
    drop-in partition-safe forms of the no-partition window: identical
    output to Window.orderBy on a frame spanning many range partitions,
    including duplicate sort values disambiguated by the tie-break."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
        ranked_total_order,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 37).alias("v"),  # heavy duplicate sort values
    )
    order = [F.col("v").desc(), F.col("id")]

    got_rank = {
        (r.id, r.rank)
        for r in ranked_total_order(df, order, ["id", "v"]).collect()
    }
    w = Window.orderBy(*order)
    want_rank = {
        (r.id, r.rank)
        for r in df.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        ).collect()
    }
    assert got_rank == want_rank

    got_cum = {
        (r.id, r.c)
        for r in cumsum_total_order(df, order, "v", "c").collect()
    }
    w_cum = w.rowsBetween(Window.unboundedPreceding, -1)
    want_cum = {
        (r.id, r.c)
        for r in df.withColumn(
            "c", F.coalesce(F.sum("v").over(w_cum), F.lit(0))
        ).collect()
    }
    assert got_cum == want_cum


def test_total_order_primitives_edge_cases(spark):
    """Edge shapes for operators.ordered: empty frame, single row, and
    a frame where every sort value ties (rank order then falls entirely
    to the tie-break column)."""
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
        ranked_total_order,
    )

    empty = spark.range(0).select(F.col("id"), F.lit(0).alias("v"))
    order = [F.col("v").desc(), F.col("id")]
    assert ranked_total_order(empty, order, ["id", "v"]).count() == 0
    assert cumsum_total_order(empty, order, "v", "c").count() == 0

    one = spark.range(1).select(F.col("id"), F.lit(7).alias("v"))
    (row,) = ranked_total_order(one, order, ["id", "v"]).collect()
    assert (row.id, row.v, row.rank) == (0, 7, 1)
    (row,) = cumsum_total_order(one, order, "v", "c").collect()
    assert (row.id, row.v, row.c) == (0, 7, 0)

    ties = spark.range(500).select(F.col("id"), F.lit(3).alias("v"))
    ranked = {
        r.id: r.rank for r in ranked_total_order(ties, order, ["id"]).collect()
    }
    assert ranked == {i: i + 1 for i in range(500)}  # pure tie-break order
    cums = {
        r.id: r.c for r in cumsum_total_order(ties, order, "v", "c").collect()
    }
    assert cums == {i: 3 * i for i in range(500)}

def test_cumsum_total_order_inclusive_nulls_floats(spark):
    """Round-12 Arrow-scan rewrite of cumsum_total_order: inclusive
    mode, NULL values (contribute 0, like the window-sum + coalesce
    form it replaced), and float inputs (sum widens to double) all
    match the no-partition window reference."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
    )

    df = spark.range(800).select(
        F.col("id"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") % 37)
        .alias("v"),
    )
    order = [F.col("v").desc_nulls_last(), F.col("id")]
    w = Window.orderBy(*order)

    got_inc = {
        (r.id, r.c)
        for r in cumsum_total_order(df, order, "v", "c", inclusive=True).collect()
    }
    w_inc = w.rowsBetween(Window.unboundedPreceding, 0)
    want_inc = {
        (r.id, r.c)
        for r in df.withColumn(
            "c", F.coalesce(F.sum("v").over(w_inc), F.lit(0))
        ).collect()
    }
    assert got_inc == want_inc

    fdf = df.withColumn("v", (F.col("v") / 4.0))
    out = cumsum_total_order(fdf, order, "v", "c")
    assert dict(out.dtypes)["c"] == "double"
    got_f = {(r.id, round(r.c, 9)) for r in out.collect()}
    w_ex = w.rowsBetween(Window.unboundedPreceding, -1)
    want_f = {
        (r.id, round(r.c, 9))
        for r in fdf.withColumn(
            "c", F.coalesce(F.sum("v").over(w_ex), F.lit(0.0))
        ).collect()
    }
    assert got_f == want_f


def test_total_order_helper_column_collision_raises(spark):
    """An input frame already carrying one of the injected helper
    columns (__pid etc.) must raise, not silently clobber-and-corrupt."""
    import pytest
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
        ranked_total_order,
    )

    df = spark.range(10).select(F.col("id"), F.lit(1).alias("__pid"))
    with pytest.raises(ValueError, match="__pid"):
        ranked_total_order(df, [F.col("id")], ["id"])
    with pytest.raises(ValueError, match="__pid"):
        cumsum_total_order(df, [F.col("id")], "__pid", "c")


def test_cumsum_total_order_plan_has_no_full_frame_reshuffle(spark):
    """The round-12 rewrite's whole point: the Arrow scan branch reads
    the range-pinned frame directly — no Exchange between MapInPandas
    and the checkpointed scan.  The only __pid exchange left is the
    partition-summary aggregate (partial_sum upstream => ~#partitions
    rows move, not the frame)."""
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
    )

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    out = cumsum_total_order(df, [F.col("v"), F.col("id")], "v", "c")
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_branch = plan.split("MapInPandas", 1)[1].split("Scan ExistingRDD", 1)[0]
    assert "Exchange" not in scan_branch
    pid_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning(__pid" in ln
    ]
    assert len(pid_exchanges) == 1
    below = plan.split("Exchange hashpartitioning(__pid", 1)[1]
    assert "partial_sum" in below.splitlines()[1]


def test_cumsum_total_order_multi_batch_carry(spark):
    """The Arrow scan's scalar carry across batches WITHIN a partition:
    force partitions to span many Arrow batches (maxRecordsPerBatch
    far below the partition size) and require exact equality with the
    no-partition window — the carry bug class (dropped/duplicated
    batch totals) cannot hide in single-batch fixtures."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "64")  # ~10+ batches per range partition
    try:
        df = spark.range(20_000).select(
            F.col("id"), (F.col("id") % 101).alias("v")
        )
        order = [F.col("v").desc(), F.col("id")]
        got = {
            (r.id, r.c)
            for r in cumsum_total_order(df, order, "v", "c").collect()
        }
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        want = {
            (r.id, r.c)
            for r in df.withColumn(
                "c", F.coalesce(F.sum("v").over(w), F.lit(0))
            ).collect()
        }
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_cumsum_total_order_total_alias(spark):
    """total_alias rides the grand total on the offsets frame (the
    round-13 job-count trim for the share-of-total shape): value
    equals a separate agg(sum), every row carries it, and colliding
    aliases raise."""
    import pytest
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.operators.ordered import (
        cumsum_total_order,
    )

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 23).alias("v")
    )
    order = [F.col("v").desc(), F.col("id")]
    out = cumsum_total_order(df, order, "v", "c", total_alias="tot")
    want_tot = df.agg(F.sum("v")).collect()[0][0]
    rows = out.collect()
    assert len(rows) == 500
    assert {r.tot for r in rows} == {want_tot}
    # the cumsum itself is unchanged by the extra column
    base = {(r.id, r.c) for r in cumsum_total_order(df, order, "v", "c").collect()}
    assert {(r.id, r.c) for r in rows} == base

    for bad in ("c", "v", "__pid"):
        with pytest.raises(ValueError, match="total_alias"):
            cumsum_total_order(df, order, "v", "c", total_alias=bad)
