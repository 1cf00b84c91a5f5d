"""Streaming/batch parity — the update-mode forms compute the same
final state as the batch operators on the same data (SURVEY.md §5.2.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from isaac_kafka_streaming_spark.io import read_table
from isaac_kafka_streaming_spark.operators.sessionize import sessionize
from isaac_kafka_streaming_spark.operators.thresholds import threshold_crossings
from isaac_kafka_streaming_spark.plans import views
from isaac_kafka_streaming_spark.streaming import topology as st
from isaac_kafka_streaming_spark.streaming.state import threshold_crossing_stream


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_smoke, tmp_path_factory):
    """Events re-written as two parquet files split by time — drives
    multi-batch incremental processing with maxFilesPerTrigger=1."""
    out = tmp_path_factory.mktemp("events_stream")
    ev = read_table(spark, sf_smoke, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(out / "part1")
    )
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(out / "part2")
    )
    # flatten: move part files into one dir as two files
    import shutil, glob, os  # noqa: E401

    final = tmp_path_factory.mktemp("events_stream_flat")
    for i, sub in enumerate(["part1", "part2"]):
        (src,) = glob.glob(str(out / sub / "part-*.parquet"))
        dst = final / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        # the file source orders batches by MODIFICATION TIME; copies
        # land with near-identical mtimes, so arrival order flips
        # between runs — pin strictly increasing mtimes
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    return str(final)


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_streaming_event_type_counts_parity(spark, sf_smoke, events_stream_dir):
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got = st.run_to_memory(
        st.streaming_event_type_counts(reg), "o3_counts", output_mode="complete"
    )
    want = (
        views.registered_events(spark, sf_smoke)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    assert _rows(got, "event_type", "n_events") == _rows(
        want, "event_type", "n_events"
    )


def test_streaming_daily_counts_parity(spark, sf_smoke, events_stream_dir):
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got = st.run_to_memory(
        st.streaming_daily_counts(reg), "o4_daily", output_mode="complete"
    )
    want = (
        views.registered_events(spark, sf_smoke)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    assert _rows(got, "day", "event_type", "n_events") == _rows(
        want, "day", "event_type", "n_events"
    )


def test_streaming_latest_per_user_parity(spark, sf_smoke, events_stream_dir):
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got = st.run_to_memory(
        st.streaming_latest_per_user(reg), "o1_latest", output_mode="complete"
    )
    from isaac_kafka_streaming_spark.operators.aggregations import latest_per_key

    want = latest_per_key(
        views.registered_events(spark, sf_smoke),
        ["user_id"],
        "ts",
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("props").alias("last_props"),
    )
    assert _rows(got, "user_id", "last_ts", "last_value") == _rows(
        want, "user_id", "last_ts", "last_value"
    )


def test_streaming_sessions_parity(spark, sf_smoke, events_stream_dir):
    """session_window(gap) == batch gap-and-island for continuous ts."""
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got = st.run_to_memory(
        st.streaming_sessions(reg, gap="1 day"), "o5_sessions",
        output_mode="complete",
    )
    want = sessionize(
        views.registered_events(spark, sf_smoke), gap_seconds=86400
    )
    assert _rows(got, "user_id", "streak_start", "streak_end", "n_events") == _rows(
        want, "user_id", "streak_start", "streak_end", "n_events"
    )


def test_streaming_question_part_counts_parity(spark, sf_smoke, events_stream_dir):
    """O6 level-1 update-mode aggregate == batch part-level counts."""
    from isaac_kafka_streaming_spark.operators.aggregations import (
        two_level_question_counts,
    )

    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    qa = views.question_attempts_from(reg)
    got = st.run_to_memory(
        st.streaming_question_part_counts(qa), "o6_parts", output_mode="complete"
    )
    want, _ = two_level_question_counts(views.question_attempts(spark, sf_smoke))
    cols = (
        "user_id",
        "question_page_id",
        "question_part_id",
        "correct_attempts",
        "latest_attempt",
    )
    assert _rows(got, *cols) == _rows(want, *cols)


def test_streaming_enriched_events_parity(spark, sf_smoke, events_stream_dir):
    """J1 stream-static broadcast join == batch enrichment join."""
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got = st.run_to_memory(
        st.streaming_enriched_events(reg, views.users(spark, sf_smoke)),
        "j1_enriched",
        output_mode="append",
    )
    from isaac_kafka_streaming_spark.operators.joins import enrich

    want = enrich(
        views.registered_events(spark, sf_smoke),
        views.users(spark, sf_smoke),
        on="user_id",
    )
    assert _rows(got, "user_id", "user_role", "event_type", "ts", "value") == _rows(
        want.select(
            "user_id", F.col("role").alias("user_role"), "event_type", "ts", "value"
        ),
        "user_id",
        "user_role",
        "event_type",
        "ts",
        "value",
    )
    # inner join: no event survives with an unknown user
    assert got.filter(F.col("user_role").isNull()).count() == 0


def test_threshold_crossing_stream_parity(spark, sf_smoke, events_stream_dir):
    """The applyInPandasWithState state machine emits exactly the batch
    crossings when batches arrive in time order."""
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    qa = views.question_attempts_from(reg).filter(F.col("correct"))
    got = st.run_to_memory(
        threshold_crossing_stream(qa), "t8_achievements", output_mode="append"
    )
    want = threshold_crossings(
        views.question_attempts(spark, sf_smoke).filter(F.col("correct")),
        user_col="user_id",
        ts_col="date_attempted",
    )
    got_set = _rows(got, "user_id", "threshold")
    want_set = _rows(want, "user_id", "threshold")
    assert got_set == want_set
    # crossing timestamps also match (batch order == event-time order,
    # since the two stream files are split by time)
    assert _rows(got, "user_id", "threshold", "achieved_at") == _rows(
        want, "user_id", "threshold", "achieved_at"
    )


def test_full_topology_concurrent_materializations(
    spark, sf_smoke, events_stream_dir
):
    """LoggedEventsListener.main equivalent: one source drives all five
    materializations concurrently; final states match the batch twins."""
    out = st.run_full_topology(
        spark,
        events_stream_dir,
        views.users(spark, sf_smoke),
        prefix="fulltopo",
        max_files_per_trigger=1,
    )
    assert set(out) == {
        "anonymous_events",
        "latest_per_user",
        "event_type_counts",
        "daily_counts",
        "enriched_events",
    }
    n_logged = views.logged_events(spark, sf_smoke).count()
    n_anon = views.anonymous_events(spark, sf_smoke).count()
    assert out["anonymous_events"].count() == n_anon
    # branch partition: anonymous + registered == all
    n_reg = n_logged - n_anon
    assert (
        out["event_type_counts"].agg(F.sum("n_events")).collect()[0][0] == n_reg
    )
    want_counts = _rows(
        views.registered_events(spark, sf_smoke)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events")),
        "event_type",
        "n_events",
    )
    assert _rows(out["event_type_counts"], "event_type", "n_events") == want_counts
    assert out["latest_per_user"].groupBy("user_id").count().filter(
        F.col("count") > 1
    ).count() == 0  # one snapshot row per user


def test_streak_state_machine_matches_last_session(
    spark, sf_smoke, events_stream_dir
):
    """O5 exact KTable semantics: the state machine's final per-user
    streak equals the LAST session from batch gap-and-island (the
    reference's userStreaks store keeps only the current streak)."""
    from isaac_kafka_streaming_spark.streaming.state import streak_state_stream

    # arrival order must be event-time order for the state machine to
    # agree with global-time-order sessionization (the reference's
    # arrival-time processing is racy under reordering by design), so
    # split the stream files on ts, not event_id
    import glob
    import shutil

    import os

    ev = read_table(spark, sf_smoke, "events").withColumn(
        "__ms", F.unix_millis("ts")
    )
    mid_ms = ev.approxQuantile("__ms", [0.5], 0.0)[0]
    base = events_stream_dir + "_ts_split"
    if not os.path.exists(base):
        os.makedirs(base)
        for i, part in enumerate(
            [
                ev.filter(F.col("__ms") <= mid_ms).drop("__ms"),
                ev.filter(F.col("__ms") > mid_ms).drop("__ms"),
            ]
        ):
            tmp = base + f"_tmp{i}"
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            (src,) = glob.glob(f"{tmp}/part-*.parquet")
            dst = f"{base}/{i:03d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = st.stream_events(spark, base, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    got_df = st.run_to_memory(
        streak_state_stream(reg, gap_seconds=86400),
        "o5_state_streaks",
        output_mode="update",
    )
    # memory sink in update mode appends one row per (user, batch);
    # final state = the latest update (streak_end is monotone per user,
    # n_events breaks same-end ties)
    final = {}
    for r in got_df.collect():
        cur = final.get(r.user_id)
        if cur is None or (r.streak_end, r.n_events) > (
            cur.streak_end,
            cur.n_events,
        ):
            final[r.user_id] = r
    want = {}
    for r in sessionize(
        views.registered_events(spark, sf_smoke), gap_seconds=86400
    ).collect():
        cur = want.get(r.user_id)
        if cur is None or r.streak_start > cur.streak_start:
            want[r.user_id] = r
    assert set(final) == set(want)
    for uid, w in want.items():
        g = final[uid]
        assert (
            g.streak_start,
            g.streak_end,
            g.n_events,
            g.streak_units,
        ) == (w.streak_start, w.streak_end, w.n_events, w.streak_units), uid


def test_streaming_dedup_normalized_parity(spark, sf_smoke, tmp_path_factory):
    """X1/X2 streaming twin: over a two-batch document stream, exactly
    one survivor per normalized hash, each a true member of its group;
    survivor count matches the batch dedup_normalized rollup."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.dedup import dedup_normalized
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_dedup_normalized,
    )

    docs = read_table(spark, sf_smoke, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    flat = tmp_path_factory.mktemp("docs_stream")
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = run_to_memory(
        streaming_dedup_normalized(stream), "x1_stream_dedup",
        output_mode="append",
    ).collect()

    batch = {r.text_hash: r for r in dedup_normalized(spark, sf_smoke).collect()}
    assert len(got) == len(batch)  # one survivor per normalized hash
    seen = set()
    for r in got:
        assert r.text_hash in batch and r.text_hash not in seen
        seen.add(r.text_hash)
    # first-arrival within the first file == min doc_id of that file's
    # members: every survivor must come from the hash's doc_id set —
    # re-derive membership to check
    from pyspark.sql import functions as SF

    members = {
        r.text_hash: set(r.ids)
        for r in docs.withColumn(
            "text_hash",
            SF.sha2(
                SF.trim(SF.regexp_replace(SF.lower(SF.col("text")), r"\s+", " ")),
                256,
            ),
        )
        .groupBy("text_hash")
        .agg(SF.collect_set("doc_id").alias("ids"))
        .collect()
    }
    for r in got:
        assert r.doc_id in members[r.text_hash]


def test_streaming_dedup_within_watermark_form(spark, sf_smoke, tmp_path_factory):
    """The bounded-state branch (dropDuplicatesWithinWatermark): with an
    event-time span far inside the watermark it must agree with the
    unbounded form — one survivor per hash."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.dedup import dedup_normalized
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_dedup_normalized,
    )

    # +1: a row at exactly epoch 0 ties Spark's initial watermark (0)
    # and is classed late — keep synthetic event times strictly past it
    docs = read_table(spark, sf_smoke, "documents").withColumn(
        "ingest_ts", F.timestamp_millis((F.col("doc_id") + 1) * 1000)
    )
    flat = tmp_path_factory.mktemp("docs_stream_wm")
    tmp = str(flat) + "_tmp"
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    (src,) = glob.glob(f"{tmp}/part-*.parquet")
    shutil.copy(src, flat / "000.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(flat))
    got = run_to_memory(
        streaming_dedup_normalized(stream, ts_col="ingest_ts", watermark="1 day"),
        "x1_stream_dedup_wm",
        output_mode="append",
    ).collect()
    assert len(got) == dedup_normalized(spark, sf_smoke).count()


def test_streaming_interval_join_parity(spark, sf_smoke, events_stream_dir):
    """Stream-stream banded join: (purchase, signup) attribution pairs
    from two branches of the same event stream must equal the batch
    interval_join at the same band.  Watermark is set far above the
    corpus's event-time span so no row can be classed late regardless
    of file arrival order."""
    from isaac_kafka_streaming_spark.operators.joins import interval_join

    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    purchases = reg.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    signups = reg.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    got = st.run_to_memory(
        st.streaming_interval_join(
            purchases,
            signups,
            on="user_id",
            left_ts="purchase_ts",
            right_start="signup_ts",
            band_seconds=86400,
            watermark="3650 days",
        ),
        "j_stream_interval",
        output_mode="append",
    )

    ev = views.registered_events(spark, sf_smoke)
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    bs = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    want = interval_join(
        bp, bs, on="user_id", left_ts="purchase_ts",
        right_start="signup_ts", band_seconds=86400,
    )
    cols = ("purchase_id", "signup_id", "user_id")
    assert _rows(got, *cols) == _rows(want, *cols)
    assert got.count() == want.count()  # no dup emissions either


def test_streaming_dedup_incoming_parity(spark, sf_smoke, tmp_path_factory):
    """Stream-static incremental dedup: streaming only the incoming
    slice against the existing-corpus hash index must produce exactly
    the batch dedup_incoming rows (doc_id, dup_of, is_new)."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.dedup import dedup_incoming
    from isaac_kafka_streaming_spark.extensions.sampling import _bucket
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_dedup_incoming,
    )

    docs = read_table(spark, sf_smoke, "documents")
    bucketed = docs.select("doc_id", "text", _bucket(F.col("doc_id"), "inc"))
    incoming = bucketed.filter(F.col("bucket") >= 90).drop("bucket")
    existing = bucketed.filter(F.col("bucket") < 90)
    corpus_index = (
        existing.withColumn(
            "text_hash",
            F.sha2(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                256,
            ),
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("dup_of"))
    )

    flat = tmp_path_factory.mktemp("docs_stream_inc")
    mid = incoming.approxQuantile("doc_id", [0.5], 0.0)[0]
    for i, part in enumerate(
        [
            incoming.filter(F.col("doc_id") <= mid),
            incoming.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in run_to_memory(
            streaming_dedup_incoming(stream, corpus_index),
            "x2_stream_incoming",
            output_mode="append",
        ).collect()
    }
    want = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in dedup_incoming(spark, sf_smoke).collect()
    }
    assert got == want and want


def test_streaming_decontaminate_parity(spark, sf_smoke, tmp_path_factory):
    """Stream-static decontamination: streaming the train-side docs
    against the broadcast eval-anchor index must emit exactly the true
    containment pair set (computed by a brute-force batch containment
    join over the same split) — plus a planted mid-document containment
    so the non-exact path is exercised even if the natural corpus only
    has verbatim copies."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.sampling import (
        eval_anchor_index,
        split_assignment,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_decontaminate,
    )

    docs = read_table(spark, sf_smoke, "documents").select("doc_id", "text")
    split = split_assignment(read_table(spark, sf_smoke, "documents")).select(
        "doc_id", "split"
    )
    docs = docs.join(split, "doc_id")
    eval_docs = docs.filter(F.col("split") != "train").drop("split")
    train = docs.filter(F.col("split") == "train").drop("split")
    # plant: a train doc that embeds one eval doc's text mid-document
    planted_eval = eval_docs.orderBy("doc_id").first()
    planted = spark.createDataFrame(
        [(10_000_000, f"prefix words {planted_eval.text} suffix words")],
        "doc_id long, text string",
    )
    train = train.unionByName(planted)

    idx = eval_anchor_index(eval_docs)

    flat = tmp_path_factory.mktemp("docs_stream_decontam")
    mid = train.approxQuantile("doc_id", [0.5], 0.0)[0]
    for i, part in enumerate(
        [
            train.filter(F.col("doc_id") <= mid),
            train.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        (r.train_doc_id, r.eval_doc_id): r.any_exact
        for r in run_to_memory(
            streaming_decontaminate(stream, idx),
            "x_stream_decontam",
            output_mode="append",
        ).collect()
    }

    # brute-force batch truth: norm-text containment over all pairs
    def norm(col):
        from isaac_kafka_streaming_spark.extensions.text import _tokens

        return F.concat(
            F.lit(" "), F.concat_ws(" ", _tokens(col)), F.lit(" ")
        )

    t = train.select(
        F.col("doc_id").alias("train_doc_id"), norm(F.col("text")).alias("tn")
    )
    e = eval_docs.select(
        F.col("doc_id").alias("eval_doc_id"), norm(F.col("text")).alias("en")
    ).filter(F.size(F.split(F.trim(F.col("en")), " ")) >= 5)
    want = {
        (r.train_doc_id, r.eval_doc_id): r.any_exact
        for r in t.crossJoin(e)
        .filter(F.col("tn").contains(F.col("en")))
        .select(
            "train_doc_id",
            "eval_doc_id",
            (F.col("tn") == F.col("en")).alias("any_exact"),
        )
        .collect()
    }
    assert got == want and want
    assert got[(10_000_000, planted_eval.doc_id)] is False  # non-exact hit


def test_streaming_cms_build_parity(spark, sf_smoke, tmp_path_factory):
    """The streaming CMS build over a two-batch document stream must
    end in EXACTLY the batch sketch: counters are mergeable sums, so
    micro-batch boundaries cannot change any cell."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.text import cms_positions
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_cms_build,
    )

    docs = read_table(spark, sf_smoke, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    flat = tmp_path_factory.mktemp("docs_cms_stream")
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        (r.r, r.col): r.c
        for r in run_to_memory(
            streaming_cms_build(stream), "cms_stream", output_mode="complete"
        ).collect()
    }
    want = {
        (r.r, r.col): r.c
        for r in cms_positions(docs)
        .groupBy("r", "col")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_hll_registers_parity(spark, sf_smoke, events_stream_dir):
    """The streaming HLL register build over a two-batch event stream
    must end in EXACTLY the batch registers: max is idempotent and
    mergeable, so micro-batch boundaries cannot change any register."""
    from isaac_kafka_streaming_spark.queries import hll_register_updates
    from isaac_kafka_streaming_spark.streaming.topology import (
        streaming_hll_registers,
    )

    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    got = st.run_to_memory(
        streaming_hll_registers(stream), "hll_stream", output_mode="complete"
    )
    ev = read_table(spark, sf_smoke, "events").filter(
        F.col("user_id").isNotNull()
    )
    want = (
        hll_register_updates(ev)
        .groupBy("event_type", "register")
        .agg(F.max("rho").alias("M"))
    )
    assert _rows(got, "event_type", "register", "M") == _rows(
        want, "event_type", "register", "M"
    )
    assert got.count() > 0


def test_streaming_bloom_probe_parity(spark, sf_smoke, tmp_path_factory):
    """Stateless streaming Bloom probe: over a two-batch document
    stream, per-doc bloom_hit equals the batch prefilter's verdict for
    the same corpus filter, and true duplicates are never missed."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.dedup import (
        bloom_prefilter,
        bloom_set_bits,
    )
    from isaac_kafka_streaming_spark.extensions.sampling import _bucket
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_bloom_probe,
    )

    docs = read_table(spark, sf_smoke, "documents")
    norm = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 256
    )
    hashed = docs.select(
        "doc_id", norm.alias("text_hash"), _bucket(F.col("doc_id"), "inc")
    )
    set_bits = bloom_set_bits(hashed.filter(F.col("bucket") < 90))
    incoming = docs.join(
        hashed.filter(F.col("bucket") >= 90).select("doc_id"), "doc_id"
    )

    mid = incoming.approxQuantile("doc_id", [0.5], 0.0)[0]
    flat = tmp_path_factory.mktemp("docs_bloom_stream")
    for i, part in enumerate(
        [
            incoming.filter(F.col("doc_id") <= mid),
            incoming.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        r.doc_id: r.bloom_hit
        for r in run_to_memory(
            streaming_bloom_probe(stream, set_bits),
            "bloom_stream",
            output_mode="append",
        ).collect()
    }
    batch = {
        r.doc_id: (r.bloom_hit, r.is_dup)
        for r in bloom_prefilter(spark, sf_smoke).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for doc_id, (hit, is_dup) in batch.items():
        assert got[doc_id] == hit, doc_id
        if is_dup:
            assert got[doc_id], f"false negative on true dup {doc_id}"


def test_streaming_passage_scrub_parity(spark, sf_smoke, tmp_path_factory):
    """Stateless stream-static scrub: streaming every document against
    the corpus-mined hot-span list must produce exactly the batch
    passage_scrub rows (n_blocks, n_scrubbed, cleaned_text)."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.dedup import (
        hot_passage_spans,
        passage_scrub,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_passage_scrub,
    )

    docs = read_table(spark, sf_smoke, "documents")
    hot = hot_passage_spans(spark, sf_smoke)

    flat = tmp_path_factory.mktemp("docs_stream_scrub")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    for i, part in enumerate(
        [
            docs.filter(F.col("doc_id") <= mid),
            docs.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_scrubbed, r.cleaned_text)
        for r in run_to_memory(
            streaming_passage_scrub(stream, hot),
            "x2_stream_scrub",
            output_mode="append",
        ).collect()
    }
    want = {
        r.doc_id: (r.n_blocks, r.n_scrubbed, r.cleaned_text)
        for r in passage_scrub(spark, sf_smoke).collect()
    }
    assert got == want and want
    assert any(v[1] > 0 for v in want.values())


def test_streaming_winnow_probe_parity(spark, sf_smoke, tmp_path_factory):
    """Streaming the incoming slice against the static corpus
    fingerprint index must produce exactly the batch
    winnow_probe_incoming pairs — and the equality additionally pins
    the shuffle-free HOF fingerprinting (winnow_fp_hashes, legal on
    streams) against the batch op's windowed form."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.sampling import _bucket
    from isaac_kafka_streaming_spark.extensions.text import (
        WINNOW_PROBE_MAX_DOCS_PER_FP,
        winnow_fp_hashes,
        winnow_probe_incoming,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_winnow_probe,
    )

    docs = read_table(spark, sf_smoke, "documents")
    b = docs.select("doc_id", "text", _bucket(F.col("doc_id"), "inc"))
    incoming = b.filter(F.col("bucket") >= 90).drop("bucket")
    corpus = b.filter(F.col("bucket") < 90).drop("bucket")
    sel_cor = winnow_fp_hashes(corpus).withColumnRenamed(
        "doc_id", "corpus_doc_id"
    )
    keep = (
        sel_cor.groupBy("fph")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") <= WINNOW_PROBE_MAX_DOCS_PER_FP)
        .select("fph")
    )
    corpus_fp_index = sel_cor.join(keep, "fph")

    flat = tmp_path_factory.mktemp("docs_stream_wprobe")
    mid = incoming.approxQuantile("doc_id", [0.5], 0.0)[0]
    for i, part in enumerate(
        [
            incoming.filter(F.col("doc_id") <= mid),
            incoming.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = {
        (r.incoming_doc_id, r.corpus_doc_id): r.n_shared_fp
        for r in run_to_memory(
            streaming_winnow_probe(stream, corpus_fp_index),
            "x2_stream_wprobe",
            output_mode="complete",
        ).collect()
    }
    want = {
        (r.incoming_doc_id, r.corpus_doc_id): r.n_shared_fp
        for r in winnow_probe_incoming(spark, sf_smoke).collect()
    }
    assert got == want and want


def test_funnel_state_machine_matches_batch_funnel(
    spark, sf_smoke, events_stream_dir
):
    """T7 funnel twin: replay events in event-time order through the
    per-user state machine; the final per-step user counts must equal
    the batch funnel's n_users column exactly, and every emitted chain
    must be internally consistent (strict-ascending, windowed)."""
    from isaac_kafka_streaming_spark.queries import all_queries
    from isaac_kafka_streaming_spark.streaming.state import funnel_state_stream

    # event-time-ordered two-file split (same recipe as the streak
    # twin: state-machine == batch only under in-order arrival)
    import glob
    import os
    import shutil

    ev = read_table(spark, sf_smoke, "events").withColumn(
        "__ms", F.unix_millis("ts")
    )
    mid_ms = ev.approxQuantile("__ms", [0.5], 0.0)[0]
    base = events_stream_dir + "_funnel_ts_split"
    if not os.path.exists(base):
        os.makedirs(base)
        for i, part in enumerate(
            [
                ev.filter(F.col("__ms") <= mid_ms).drop("__ms"),
                ev.filter(F.col("__ms") > mid_ms).drop("__ms"),
            ]
        ):
            tmp = base + f"_tmp{i}"
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            (src,) = glob.glob(f"{tmp}/part-*.parquet")
            dst = f"{base}/{i:03d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = st.stream_events(spark, base, max_files_per_trigger=1)
    got_df = st.run_to_memory(
        funnel_state_stream(stream),
        "t7_funnel",
        output_mode="update",
    )
    # final snapshot: step_reached is monotone per user, chain slots
    # never change once set -> max step_reached row is the final state
    final = {}
    for r in got_df.collect():
        cur = final.get(r.user_id)
        if cur is None or r.step_reached > cur.step_reached:
            final[r.user_id] = r
        # chain consistency on EVERY emitted row, not just the final
        ts_chain = [t for t in (r.t1, r.t2, r.t3, r.t4) if t is not None]
        assert len(ts_chain) == r.step_reached
        for a, b in zip(ts_chain, ts_chain[1:]):
            assert a < b <= a + __import__("datetime").timedelta(days=1)

    got_counts = {
        step: sum(1 for r in final.values() if r.step_reached >= step)
        for step in (1, 2, 3, 4)
    }
    want = {
        r.step: r.n_users
        for r in all_queries()["funnel_signup_purchase"]
        .fn(spark, sf_smoke)
        .collect()
    }
    assert got_counts == want
    assert want[1] > want[4], "funnel shows no decay on this fixture"


def test_streaming_latest_value_is_gapfill_locf_terminal(
    spark, sf_smoke, events_stream_dir
):
    """The LOCF core of user_daily_gapfill IS the O1 latest-per-key
    state: a user's final value_locf in the batch gap-fill grid must
    equal the streaming latest-per-user twin's last_value (both pick
    the max-(ts, event_id) event's value; events carry non-null values
    in the fixture, so day-level LOCF and global latest coincide).
    Pins that the new registered query and the long-standing streaming
    store materialize the same state."""
    from isaac_kafka_streaming_spark.queries import all_queries

    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    got = st.run_to_memory(
        st.streaming_latest_per_user(stream),
        "o1_locf_terminal",
        output_mode="complete",
    )
    streaming_last = {
        r.user_id: round(r.last_value, 6) for r in got.collect()
    }
    grid = (
        all_queries()["user_daily_gapfill"].fn(spark, sf_smoke).collect()
    )
    final = {}
    for r in grid:
        cur = final.get(r.user_id)
        if cur is None or r.day > cur.day:
            final[r.user_id] = r
    batch_last = {u: r.value_locf for u, r in final.items()}
    assert batch_last == streaming_last
    assert len(batch_last) >= 10  # the smoke fixture's user universe


def test_streaming_cohort_activity_matches_batch_matrix(
    spark, sf_smoke, events_stream_dir
):
    """The streaming first-activity store, aggregated at read time,
    yields exactly the batch cohort_retention matrix (counts AND
    retention fractions)."""
    from isaac_kafka_streaming_spark.queries import all_queries

    ev = read_table(spark, sf_smoke, "events")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    )
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    store = st.run_to_memory(
        st.streaming_cohort_activity(stream, cohorts),
        "cohort_store",
        output_mode="append",
    )
    sizes = {r.cw: r.n for r in cohorts.groupBy("cw").count()
             .withColumnRenamed("count", "n").collect()}
    got = {}
    for r in store.collect():
        got[(r.cw, r.week_offset)] = got.get((r.cw, r.week_offset), 0) + 1
    want_rows = (
        all_queries()["cohort_retention"].fn(spark, sf_smoke).collect()
    )
    want = {(r.cohort_week, r.week_offset): r.n_active for r in want_rows}
    assert got == want and len(got) > 3
    for r in want_rows:
        assert r.retention == round(
            got[(r.cohort_week, r.week_offset)] / sizes[r.cohort_week], 6
        )


def test_streaming_histogram_matches_batch_estimates(
    spark, sf_smoke, events_stream_dir
):
    """The streaming histogram store (fixed edges from a static stats
    dim) plus read-time read-off equals the batch tier exactly: bin
    counts AND interpolated p50/p95."""
    from isaac_kafka_streaming_spark.queries import all_queries

    bins = 64
    reg_batch = views.registered_events(spark, sf_smoke).select(
        "event_type", "value"
    )
    stats_df = reg_batch.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        ((F.max("value") - F.min("value")) / F.lit(float(bins))).alias(
            "width"
        ),
    )
    # materialize: stats shares lineage with reg_batch, and joining two
    # frames off the same scan trips a conflicting-attribute error in
    # the batch twin below (the static dim would be a separate table
    # in production anyway)
    stats = spark.createDataFrame(stats_df.collect(), stats_df.schema)
    stream = st.stream_events(spark, events_stream_dir, max_files_per_trigger=1)
    reg = st.as_logged_events(stream).filter(~F.col("anonymous_user"))
    store = st.run_to_memory(
        st.streaming_histogram_bins(
            reg.select("event_type", "value", "ts"), stats, bins=bins
        ),
        "hist_store",
        output_mode="complete",
    )
    # bin counts: store == batch binning over the same fixed edges
    batch_bins = {
        (r.event_type, r.bin): r.c
        for r in st.streaming_histogram_bins(
            reg_batch.withColumn("ts", F.lit(None).cast("timestamp")),
            stats,
            bins=bins,
        ).collect()
    }
    got_bins = {(r.event_type, r.bin): r.c for r in store.collect()}
    assert got_bins == batch_bins and len(got_bins) > 10

    # read-off == the graded batch estimates
    est = {
        r.event_type: (r.hist_p50, r.hist_p95)
        for r in st.histogram_readoff(store, stats).collect()
    }
    want = {
        r.event_type: (r.hist_p50, r.hist_p95)
        for r in all_queries()["histogram_quantiles"]
        .fn(spark, sf_smoke)
        .collect()
    }
    assert est == want and len(want) >= 3


def test_streaming_histogram_clamps_below_static_lo(spark):
    """Regression (round-7 review): the streaming tier's edges are a
    static prior, so streamed values can undershoot lo — they must
    clamp into bin 0 (as overflow clamps into bins-1), never mint
    negative bin rows that break the `bins` state bound and shift the
    read-off."""
    stats = spark.createDataFrame(
        [("a", 10.0, 1.0)], "event_type string, lo double, width double"
    )
    ev = spark.createDataFrame(
        [("a", 7.5), ("a", 10.2), ("a", 9999.0)],
        "event_type string, value double",
    )
    rows = {
        r.bin: r.c
        for r in st.streaming_histogram_bins(
            ev.withColumn("ts", F.lit(None).cast("timestamp")),
            stats,
            bins=64,
        ).collect()
    }
    assert rows == {0: 2, 63: 1}, rows


def _two_batch_docs_stream(spark, sf_smoke, tmp_path_factory, name):
    """documents split into two doc_id-halved parquet files consumed
    one per micro-batch (the dedup-twin fixture shape)."""
    import glob
    import os
    import shutil

    docs = read_table(spark, sf_smoke, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    flat = tmp_path_factory.mktemp(name)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )


def test_streaming_bm25_score_parity(spark, sf_smoke, tmp_path_factory):
    """X4 streaming twin: documents scored at ingest against the
    static query-term index must carry EXACTLY the batch scores — the
    read-time top-k over the streaming store reproduces bm25_top_docs
    bit-for-bit (score, tf, rank), and the store itself is one row per
    (term, doc) with tf > 0."""
    from pyspark.sql import Window

    from isaac_kafka_streaming_spark.extensions.text import (
        bm25_query_index,
        bm25_top_docs,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_bm25_score,
    )

    index = bm25_query_index(spark, sf_smoke)
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "bm25_stream"
    )
    store = run_to_memory(
        streaming_bm25_score(stream, index),
        "x4_stream_bm25",
        output_mode="append",
    )
    rows = store.collect()
    # stateless append: one row per (term, doc) hit, no dupes
    assert len({(r.query_term, r.doc_id) for r in rows}) == len(rows)
    assert len(rows) > 0

    # read-time top-k over the store == the batch ranking, exactly
    w = Window.partitionBy("query_term").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    got = {
        (r.query_term, r.doc_id, r.tf, r.bm25, r.rank)
        for r in store.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= 10)
        .collect()
    }
    want = {
        (r.query_term, r.doc_id, r.tf, r.bm25, r.rank)
        for r in bm25_top_docs(spark, sf_smoke).collect()
    }
    assert got == want


def test_streaming_corpus_report_parity(spark, sf_smoke, tmp_path_factory):
    """X4 streaming twin: the two card stores (algebraic volume rollup
    + canonical-text dedup state) composed at read time must equal the
    batch corpus_report card exactly — including n_kept, whose
    min_by(doc_id) canonical pick is arrival-order-independent by
    construction."""
    from isaac_kafka_streaming_spark.extensions.text import corpus_report
    from isaac_kafka_streaming_spark.streaming.topology import (
        corpus_report_from_stores,
        run_to_memory,
        streaming_canonical_texts,
        streaming_corpus_volume,
    )

    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "card_stream"
    )
    volume = run_to_memory(
        streaming_corpus_volume(stream),
        "x4_card_volume",
        output_mode="complete",
    )
    stream2 = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "card_stream2"
    )
    canonical = run_to_memory(
        streaming_canonical_texts(stream2),
        "x4_card_canonical",
        output_mode="complete",
    )
    got = {
        tuple(r) for r in corpus_report_from_stores(volume, canonical).collect()
    }
    want = {tuple(r) for r in corpus_report(spark, sf_smoke).collect()}
    assert got == want


def test_streaming_ingest_gate_chain(spark, sf_smoke, tmp_path_factory):
    """Composition of the stateless ingest gates in ONE streaming DAG:
    arriving docs -> exact-dup gate against the corpus hash index
    (stream-static broadcast) -> BM25 scoring against the trusted term
    index (stream-static broadcast).  Injected exact copies of corpus
    docs must be dropped by the gate before scoring, and the surviving
    rows must equal the same chain applied in batch — the whole
    pipeline is pure transformations, so the identical code runs on
    both engines' DataFrames.
    """
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.sampling import _bucket
    from isaac_kafka_streaming_spark.extensions.text import bm25_query_index
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_bm25_score,
        streaming_dedup_incoming,
    )

    docs = read_table(spark, sf_smoke, "documents")
    bucketed = docs.select("doc_id", "text", _bucket(F.col("doc_id"), "inc"))
    existing = bucketed.filter(F.col("bucket") < 90)
    max_id = docs.agg(F.max("doc_id")).first()[0]
    # three exact copies of existing docs under fresh ids — the leak
    # the gate must stop
    dup_ids = [max_id + 1, max_id + 2, max_id + 3]
    from pyspark.sql import Window

    dups = (
        existing.orderBy("doc_id")
        .limit(3)
        .select("text")
        .withColumn("rn", F.row_number().over(Window.orderBy("text")))
        .select((F.lit(max_id) + F.col("rn")).alias("doc_id"), "text")
    )
    incoming = (
        bucketed.filter(F.col("bucket") >= 90)
        .select("doc_id", "text")
        .unionByName(dups)
    )
    corpus_index = (
        existing.withColumn(
            "text_hash",
            F.sha2(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                256,
            ),
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    query_index = bm25_query_index(spark, sf_smoke)

    def chain(df):
        gated = (
            streaming_dedup_incoming(df, corpus_index)
            .filter(F.col("is_new"))
            .select("doc_id", "text")
        )
        return streaming_bm25_score(gated, query_index)

    flat = tmp_path_factory.mktemp("ingest_chain")
    mid = incoming.approxQuantile("doc_id", [0.5], 0.0)[0]
    for i, part in enumerate(
        [
            incoming.filter(F.col("doc_id") <= mid),
            incoming.filter(F.col("doc_id") > mid),
        ]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )

    got = {
        (r.query_term, r.doc_id, r.tf, r.bm25)
        for r in run_to_memory(
            chain(stream), "ingest_chain", output_mode="append"
        ).collect()
    }
    want = {
        (r.query_term, r.doc_id, r.tf, r.bm25)
        for r in chain(incoming).collect()
    }
    assert got == want and want
    assert not any(d in dup_ids for _, d, _, _ in got), (
        "an exact corpus duplicate leaked through the ingest gate"
    )


def test_priority_sample_stream_parity(spark, sf_smoke, tmp_path_factory):
    """The streaming weighted reservoir's final emission per stratum
    must equal batch priority_sample BIT-FOR-BIT — same deterministic
    priorities, same tau, same HALF_UP rounding — because merging a
    top-(k+1) set is arrival-order-independent.  Also pins the
    mid-stream contract: version is monotone and each emission holds
    at most k rows per stratum."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        priority_sample,
    )
    from isaac_kafka_streaming_spark.streaming.state import (
        priority_sample_stream,
    )
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    docs = read_table(spark, sf_smoke, "documents")
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "prio_stream"
    )
    emitted = run_to_memory(
        priority_sample_stream(stream.select("doc_id", "lang", "n_chars")),
        "x_prio_reservoir",
        output_mode="update",
    ).collect()

    final_version = {}
    for r in emitted:
        final_version[r.lang] = max(final_version.get(r.lang, 0), r.version)
    per_lang_batch = {}
    for r in emitted:
        per_lang_batch.setdefault((r.lang, r.version), []).append(r)
    for (lang, v), rows in per_lang_batch.items():
        assert len(rows) <= 20, f"{lang}@{v}: reservoir emitted > k rows"

    got = {
        (r.doc_id, r.lang, r.weight, r.prio_rank, r.priority, r.est_weight)
        for r in emitted
        if r.version == final_version[r.lang]
    }
    want = {
        (r.doc_id, r.lang, r.weight, r.prio_rank, r.priority, r.est_weight)
        for r in priority_sample(spark, sf_smoke).collect()
    }
    assert got == want and want
    # every stratum's final version equals its total corpus size
    sizes = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert final_version == sizes


def test_streaming_length_buckets_parity(spark, sf_smoke, tmp_path_factory):
    """The streamed bucket store plus read-off equals the batch
    padding-waste card exactly."""
    from isaac_kafka_streaming_spark.extensions.packing import (
        length_bucket_plan,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        length_bucket_readoff,
        run_to_memory,
        streaming_length_buckets,
    )

    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "lenbucket_stream"
    )
    store = run_to_memory(
        streaming_length_buckets(stream),
        "x_len_buckets",
        output_mode="complete",
    )
    got = {tuple(r) for r in length_bucket_readoff(store).collect()}
    want = {tuple(r) for r in length_bucket_plan(spark, sf_smoke).collect()}
    assert got == want and want


def test_pack_stream_next_fit_laws(spark, sf_smoke, tmp_path_factory):
    """Online ingest packing: across a two-batch stream, every doc gets
    exactly one bin, non-oversize bins never exceed ctx, oversize docs
    sit alone in closed bins, and the per-shard bin count respects the
    next-fit bound (2x the token lower bound, plus one potential
    early-close per oversize doc).  Deterministic across reruns."""
    import math

    from isaac_kafka_streaming_spark.streaming.state import (
        pack_stream_next_fit,
    )
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    CTX = 128

    def run(name):
        stream = _two_batch_docs_stream(
            spark, sf_smoke, tmp_path_factory, name
        ).select("doc_id", "text")
        return run_to_memory(
            pack_stream_next_fit(stream, ctx=CTX),
            name, output_mode="append",
        ).collect()

    rows = run("packstream_a")
    docs = read_table(spark, sf_smoke, "documents")
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)

    per_bin: dict = {}
    for r in rows:
        per_bin.setdefault((r.shard, r.bin), []).append(r)
    for (shard, b), members in per_bin.items():
        if any(r.oversize for r in members):
            assert len(members) == 1, f"oversize shares bin {(shard, b)}"
            assert members[0].n_tokens > CTX
        else:
            tok = sum(r.n_tokens for r in members)
            assert tok <= CTX, f"bin {(shard, b)} over capacity: {tok}"

    per_shard: dict = {}
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r)
    for shard, members in per_shard.items():
        normal = [r for r in members if not r.oversize]
        n_over = sum(1 for r in members if r.oversize)
        tokens = sum(r.n_tokens for r in normal)
        n_bins = len({r.bin for r in normal})
        lo = math.ceil(tokens / CTX) if tokens else 0
        assert n_bins <= max(2 * lo, 1) + n_over, (
            shard, tokens, n_bins, n_over,
        )

    again = run("packstream_b")
    assert {(r.doc_id, r.shard, r.bin) for r in again} == {
        (r.doc_id, r.shard, r.bin) for r in rows
    }


def test_pack_stream_oversize_never_shares_with_empty_doc(
    spark, tmp_path_factory
):
    """Regression (round-8 review): a zero-token document occupies the
    open bin without filling it; an oversize doc arriving next must
    STILL get a solo bin — the close decision tracks occupancy, not
    fill."""
    import pandas as pd

    from isaac_kafka_streaming_spark.streaming.state import (
        pack_stream_next_fit,
    )
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    flat = tmp_path_factory.mktemp("pack_zero_over")
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "   ",  # zero tokens, occupies bin 0
                " ".join(f"w{i}" for i in range(300)),  # oversize
                "a few small words here",  # normal, fresh bin
            ],
        }
    ).to_parquet(flat / "000.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(flat))
    )
    rows = {
        r.doc_id: r
        for r in run_to_memory(
            pack_stream_next_fit(stream, ctx=128, n_shards=1),
            "pack_zero_over",
            output_mode="append",
        ).collect()
    }
    assert rows[1].n_tokens == 0 and not rows[1].oversize
    assert rows[2].oversize
    assert rows[2].bin != rows[1].bin, "oversize shared the occupied bin"
    assert rows[3].bin != rows[2].bin, "normal doc joined a closed bin"


def test_streaming_nb_score_parity(spark, sf_smoke, tmp_path_factory):
    """X4 streaming twin: arriving documents scored at ingest against
    the one-row broadcast NB model artifact (map<token, weight> +
    prior) must carry exactly the batch classifier's logits and keep
    decisions — both forms round to 6 dp before comparing or deciding,
    so the fold-order/shuffle-order summation difference cannot
    surface.  Stateless append mode: one row per arriving doc."""
    from isaac_kafka_streaming_spark.extensions.text import (
        nb_quality_score,
        nb_weight_model,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_nb_score,
    )

    model = nb_weight_model(spark, sf_smoke)
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "nb_stream"
    )
    store = run_to_memory(
        streaming_nb_score(stream, model),
        "x4_stream_nb",
        output_mode="append",
    )
    got = {
        r.doc_id: (r.n_tokens, r.nb_logit, r.nb_keep)
        for r in store.collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.nb_logit, r.nb_keep)
        for r in nb_quality_score(spark, sf_smoke).collect()
    }
    assert got == want


def test_streaming_dsir_score_parity(spark, sf_smoke, tmp_path_factory):
    """Sampling streaming twin: arriving documents scored at ingest
    against the one-row broadcast DSIR bucket model must carry exactly
    the batch candidate surface's log weights and Gumbel selection
    keys (both at 6 dp) — so a read-time top-k over the streaming
    store IS the batch selection.  Stateless append mode."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        dsir_bucket_model,
        dsir_select,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_dsir_score,
    )

    model = dsir_bucket_model(spark, sf_smoke)
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "dsir_stream"
    )
    store = run_to_memory(
        streaming_dsir_score(stream, model),
        "dsir_stream_store",
        output_mode="append",
    )
    got = {
        r.doc_id: (r.lang, r.n_feats, r.log_weight, r.sel_key)
        for r in store.collect()
    }
    n = len(got)
    want = {
        r.doc_id: (r.lang, r.n_feats, r.log_weight, r.sel_key)
        for r in dsir_select(spark, sf_smoke, k=n).collect()
    }
    assert len(want) == n  # k=n returns the full candidate surface
    assert got == want


def test_streaming_selection_scores_parity(
    spark, sf_smoke, tmp_path_factory
):
    """The one-pass combined ingest scorer must reproduce BOTH batch
    selection surfaces simultaneously: per doc, the NB logit/keep of
    nb_quality_score and the DSIR log_weight/sel_key of dsir_select's
    full candidate surface, all at the same 6-dp grain — so a single
    streaming annotation pass serves whichever selection method a
    downstream consumer picks."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        dsir_bucket_model,
        dsir_select,
    )
    from isaac_kafka_streaming_spark.extensions.text import (
        nb_quality_score,
        nb_weight_model,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_selection_scores,
    )

    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "sel_scores"
    )
    store = run_to_memory(
        streaming_selection_scores(
            stream,
            nb_weight_model(spark, sf_smoke),
            dsir_bucket_model(spark, sf_smoke),
        ),
        "sel_scores_store",
        output_mode="append",
    )
    got = {
        r.doc_id: (r.nb_logit, r.nb_keep, r.log_weight, r.sel_key)
        for r in store.collect()
    }
    n = len(got)
    nb = {
        r.doc_id: (r.nb_logit, r.nb_keep)
        for r in nb_quality_score(spark, sf_smoke).collect()
    }
    ds = {
        r.doc_id: (r.log_weight, r.sel_key)
        for r in dsir_select(spark, sf_smoke, k=n).collect()
    }
    assert len(nb) == n and len(ds) == n
    want = {d: nb[d] + ds[d] for d in nb}
    assert got == want


def test_streaming_domain_xent_parity(spark, sf_smoke, tmp_path_factory):
    """Drift-monitor twin: after the whole corpus has streamed
    through, each domain's running cross-entropy under the broadcast
    reference LM must equal the h_ref column of the batch DoReMi plan
    (same token counts, same 6-dp grain) — the live readout converges
    to exactly the number the offline replan would compute."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        doremi_mixture_plan,
        doremi_ref_model,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_domain_xent,
    )

    model = doremi_ref_model(spark, sf_smoke)
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "domain_xent"
    )
    store = run_to_memory(
        streaming_domain_xent(stream, model),
        "domain_xent_store",
        output_mode="update",
    )
    # update mode re-emits a domain each batch; keep the last version
    rows = store.collect()
    got = {}
    for r in rows:
        prev = got.get(r.source)
        if prev is None or r.n_tokens >= prev[0]:
            got[r.source] = (r.n_tokens, r.h_ref)
    want = {
        r.source: (r.n_tokens, r.h_ref)
        for r in doremi_mixture_plan(spark, sf_smoke).collect()
    }
    assert got == want and want


def test_streaming_scorers_honor_nondefault_model_params(
    spark, sf_smoke, tmp_path_factory
):
    """The model artifacts carry their own parameters: a 64-bucket
    DSIR model must make the streaming fold bucket mod 64 (the model
    row's n_buckets, not the module default), and a de-target NB
    model must reproduce nb_quality_score(target_lang='de') — the
    parametrization-drift class the shared-expression factoring
    exists to prevent."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        dsir_bucket_model,
        dsir_select,
    )
    from isaac_kafka_streaming_spark.extensions.text import (
        nb_quality_score,
        nb_weight_model,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        run_to_memory,
        streaming_dsir_score,
        streaming_nb_score,
    )

    ds_model = dsir_bucket_model(spark, sf_smoke, n_buckets=64)
    nb_model = nb_weight_model(spark, sf_smoke, target_lang="de")
    stream = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "nondefault_models"
    )
    ds_store = run_to_memory(
        streaming_dsir_score(stream, ds_model),
        "nondefault_ds_store",
        output_mode="append",
    )
    got_ds = {
        r.doc_id: (r.log_weight, r.sel_key) for r in ds_store.collect()
    }
    want_ds = {
        r.doc_id: (r.log_weight, r.sel_key)
        for r in dsir_select(
            spark, sf_smoke, k=len(got_ds), n_buckets=64
        ).collect()
    }
    assert got_ds == want_ds and got_ds

    stream2 = _two_batch_docs_stream(
        spark, sf_smoke, tmp_path_factory, "nondefault_nb"
    )
    nb_store = run_to_memory(
        streaming_nb_score(stream2, nb_model),
        "nondefault_nb_store",
        output_mode="append",
    )
    got_nb = {
        r.doc_id: (r.nb_logit, r.nb_keep) for r in nb_store.collect()
    }
    want_nb = {
        r.doc_id: (r.nb_logit, r.nb_keep)
        for r in nb_quality_score(
            spark, sf_smoke, target_lang="de"
        ).collect()
    }
    assert got_nb == want_nb and got_nb


def test_streaming_pagerank_pipeline_parity(spark, sf_smoke, tmp_path_factory):
    """The streaming PageRank pipeline — per-user GroupState transition
    machine + first-seen page catalog + read-time rank recompute —
    reproduces BOTH halves of the graded batch entry exactly: the edge
    store equals page_transition_edges and pagerank_from_stores equals
    pagerank_pages bit-for-bit (6-dp ranks, dense ordering)."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.graph import (
        page_transition_edges,
        pagerank_from_stores,
        pagerank_pages,
    )
    from isaac_kafka_streaming_spark.streaming.state import (
        page_transition_state_stream,
    )

    # two time-ordered micro-batches (split at the ts median, so every
    # user's earlier events arrive in the earlier batch — the state
    # machine's documented event-time-ordered arrival contract)
    base = tmp_path_factory.mktemp("pr_stream")
    ev = read_table(spark, sf_smoke, "events")
    mid = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    mid_ts = F.timestamp_micros(F.lit(int(mid)))
    flat = base / "flat"
    flat.mkdir()
    for i, part in enumerate(
        [ev.filter(F.col("ts") <= mid_ts), ev.filter(F.col("ts") > mid_ts)]
    ):
        tmp = str(base / f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = st.stream_events(spark, str(flat), max_files_per_trigger=1)
    transitions = st.run_to_memory(
        page_transition_state_stream(stream), "pr_transitions",
        output_mode="append",
    )
    edges_store = transitions.groupBy("src", "dst").agg(
        F.sum("n").alias("n")
    )
    want_edges = page_transition_edges(spark, sf_smoke)
    assert _rows(edges_store, "src", "dst", "n") == {
        (r.src, r.dst, int(r.w)) for r in want_edges.collect()
    }

    stream2 = st.stream_events(spark, str(flat), max_files_per_trigger=1)
    catalog = st.run_to_memory(
        st.streaming_page_catalog(stream2), "pr_catalog",
        output_mode="append",
    )
    got_pr = pagerank_from_stores(catalog, edges_store)
    want_pr = pagerank_pages(spark, sf_smoke)
    assert _rows(got_pr, "page_id", "pagerank", "rank") == _rows(
        want_pr, "page_id", "pagerank", "rank"
    )

    # the other two family members recompute from the SAME stores:
    # personalized PageRank additionally needs the streamed
    # purchase-count store for its seed top-k, LP needs nothing new
    from isaac_kafka_streaming_spark.extensions.graph import (
        label_propagation_pages,
        lp_from_stores,
        pagerank_personalized,
        ppr_from_stores,
    )

    stream3 = st.stream_events(spark, str(flat), max_files_per_trigger=1)
    purch = st.run_to_memory(
        st.streaming_purchase_page_counts(stream3), "pr_purch",
        output_mode="complete",
    )
    got_ppr = ppr_from_stores(catalog, edges_store, purch)
    want_ppr = pagerank_personalized(spark, sf_smoke)
    assert _rows(got_ppr, "page_id", "ppr", "rank") == _rows(
        want_ppr, "page_id", "ppr", "rank"
    )
    got_lp = lp_from_stores(catalog, edges_store)
    want_lp = label_propagation_pages(spark, sf_smoke)
    assert _rows(got_lp, "page_id", "community", "community_size") == _rows(
        want_lp, "page_id", "community", "community_size"
    )

    # exact CC, the fourth family member, from the same two stores
    from isaac_kafka_streaming_spark.extensions.graph import (
        components_from_stores,
        page_components,
    )

    got_cc = components_from_stores(catalog, edges_store)
    want_cc = page_components(spark, sf_smoke)
    assert _rows(got_cc, "page_id", "component", "component_size") == _rows(
        want_cc, "page_id", "component", "component_size"
    )


def test_streaming_budget_counters_parity(spark, sf_smoke, tmp_path_factory):
    """Streamed budget counters + read-time ratios reproduce the graded
    batch selection_budget_curve exactly when the broadcast threshold
    artifact and the stream cover the same corpus — the two-level
    split's full-circle check for the selection sweep."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.text import (
        nb_weight_model,
        selection_budget_curve,
        selection_budget_thresholds,
    )
    base = tmp_path_factory.mktemp("budget_stream")
    docs = read_table(spark, sf_smoke, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    flat = base / "flat"
    flat.mkdir()
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        tmp = str(base / f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    wm = nb_weight_model(spark, sf_smoke)
    th = selection_budget_thresholds(spark, sf_smoke)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    counters = st.run_to_memory(
        st.streaming_budget_counters(stream, wm, th),
        "budget_counters",
        output_mode="complete",
    )
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    totals = st.run_to_memory(
        st.streaming_label_totals(stream2), "budget_totals",
        output_mode="complete",
    )
    got = st.budget_curve_readoff(counters, totals)
    want = selection_budget_curve(spark, sf_smoke)
    cols = (
        "budget_pct", "logit_threshold", "n_docs_kept", "n_tokens_kept",
        "pos_capture", "keep_precision",
    )
    assert _rows(got, *cols) == _rows(want, *cols)


def test_streamed_edge_store_split_gap_parity(
    spark, sf_smoke, tmp_path_factory
):
    """The hot-user pre-split knob holds bit-for-bit batch/stream
    parity (round-11): with split_gap_days=1 on BOTH sides, the
    GroupState machine drops exactly the transitions the batch
    window's (user, day-bucket) partitioning never forms — and the
    knob demonstrably binds (strictly fewer transitions than the
    unsplit graph on the same events)."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.graph import (
        page_transition_edges,
    )
    from isaac_kafka_streaming_spark.streaming.state import (
        page_transition_state_stream,
    )

    base = tmp_path_factory.mktemp("pr_split_stream")
    ev = read_table(spark, sf_smoke, "events")
    mid = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    mid_ts = F.timestamp_micros(F.lit(int(mid)))
    flat = base / "flat"
    flat.mkdir()
    for i, part in enumerate(
        [ev.filter(F.col("ts") <= mid_ts), ev.filter(F.col("ts") > mid_ts)]
    ):
        tmp = str(base / f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = st.stream_events(spark, str(flat), max_files_per_trigger=1)
    transitions = st.run_to_memory(
        page_transition_state_stream(stream, split_gap_days=1),
        "pr_transitions_split",
        output_mode="append",
    )
    edges_store = transitions.groupBy("src", "dst").agg(
        F.sum("n").alias("n")
    )
    want = {
        (r.src, r.dst, int(r.w))
        for r in page_transition_edges(
            spark, sf_smoke, split_gap_days=1
        ).collect()
    }
    assert _rows(edges_store, "src", "dst", "n") == want and want

    # the split bound: the unsplit graph has strictly more transitions
    # (the boundary-straddling pairs this knob trades away)
    n_split = sum(n for _s, _d, n in want)
    n_unsplit = sum(
        int(r.w) for r in page_transition_edges(spark, sf_smoke).collect()
    )
    assert n_split < n_unsplit


def test_streamed_store_mmr_rerank_parity(spark, sf_smoke, tmp_path_factory):
    """Round-12: MMR as a read-time rerank over a STREAM-ingested ANN
    store (the *_from_stores discipline).  Two IVF stores grown from
    the same base index — one by streaming_index_ingest micro-batches,
    one by direct batch appends — must produce BIT-FOR-BIT identical
    mmr_rerank_indexed output, and the shortlist must actually contain
    the streamed vectors (a planted duplicate of each query ranks at
    cosine 1.0, so MMR rank 1 is the duplicate)."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        mmr_rerank_indexed,
    )
    from isaac_kafka_streaming_spark.streaming.topology import (
        streaming_index_ingest,
    )

    emb = read_table(spark, sf_smoke, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    base = tmp_path_factory.mktemp("mmr_stream")
    batch_ix, stream_ix = str(base / "ix_batch"), str(base / "ix_stream")
    build_ivf_index(spark, sf_smoke, batch_ix, n_cells=8)
    shutil.copytree(batch_ix, stream_ix)

    # incoming vectors: duplicates of vecs 1-3 under new ids, split
    # into two single-file micro-batches
    incoming = emb.filter(F.col("vec_id").isin([1, 2, 3])).select(
        (F.col("vec_id") + F.lit(max_id + 1)).cast("long").alias("vec_id"),
        "label",
        "embedding",
    )
    flat = base / "vecs"
    flat.mkdir()
    for i, ids in enumerate([(max_id + 2, max_id + 3), (max_id + 4,)]):
        part = incoming.filter(F.col("vec_id").isin(list(ids)))
        tmp = str(base / f"tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = flat / f"{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    q = streaming_index_ingest(
        stream, stream_ix, append_to_ivf_index, checkpoint=str(base / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    append_to_ivf_index(spark, batch_ix, incoming)

    queries = emb.filter(F.col("vec_id").isin([1, 2, 3])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    queries = queries.withColumn(
        "qnorm",
        F.sqrt(
            F.aggregate(
                F.zip_with("qv", "qv", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )

    def rerank(path):
        return sorted(
            tuple(r)
            for r in mmr_rerank_indexed(
                spark, path, queries, k=4, shortlist=10, nprobe=3
            ).collect()
        )

    got_stream, got_batch = rerank(stream_ix), rerank(batch_ix)
    assert got_stream == got_batch  # bit-for-bit store parity
    by_query = {}
    for qid, nid, mmr, rank in got_stream:
        by_query.setdefault(qid, []).append((rank, nid, mmr))
    assert set(by_query) == {1, 2, 3}
    for qid, rows in by_query.items():
        assert len(rows) == 4
        # the streamed duplicate (cosine 1.0 with its query) wins rank 1
        top = min(rows)
        assert top[1] == qid + max_id + 1


def test_curation_pipeline_streaming_parity(spark, sf_smoke, tmp_path):
    """The end-to-end curation entry's streaming twin: REAL jsonl.gz
    shard FILES tailed by stream_jsonl_gz_dir, the fused gate's
    map-side tiers (token quality, stopword lang-id) applied on the
    stream, and the dedup-canonical tier as a streaming per-hash
    min-struct aggregate (min over struct(doc_id, lang, n_tok) ==
    the batch window's min-doc_id survivor, carrying the survivor's
    lang/token count).  The final per-lang (n_docs_kept,
    n_tokens_kept) must equal the batch curation_pipeline's — and
    since the temperature-mixture scalars are a deterministic
    function of exactly those numbers, plan parity follows."""
    import gzip
    import json

    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.extensions import multimodal as mm
    from isaac_kafka_streaming_spark.extensions.text import _tokens
    from isaac_kafka_streaming_spark.extensions.text import _STOPWORDS, _n_in
    from isaac_kafka_streaming_spark.io import read_table
    from isaac_kafka_streaming_spark.queries import all_queries
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    # batch side: the graded entry's per-lang numbers
    batch = {
        (r.lang): (r.n_docs_kept, r.n_tokens_kept)
        for r in all_queries()["curation_pipeline"].fn(
            spark, sf_smoke
        ).collect()
    }

    # write REAL shard files from the same documents — every third
    # shard re-coded as .jsonl.zst (round 15: the stream must read a
    # MIXED-coding directory, the shape a corpus migrating codings
    # actually has)
    import pyarrow as pa

    from isaac_kafka_streaming_spark.extensions import codecs

    docs = read_table(spark, sf_smoke, "documents")
    d = tmp_path / "shards"
    d.mkdir()
    for row in mm.documents_as_jsonl_gz_shards(docs).collect():
        blob = bytes(row.blob)
        if row.shard_id % 3 == 0:
            zblob = pa.Codec("zstd").compress(
                codecs.inflate_shard(blob, "recode"), asbytes=True
            )
            (d / f"shard-{row.shard_id:05d}.jsonl.zst").write_bytes(zblob)
        else:
            (d / f"shard-{row.shard_id:05d}.jsonl.gz").write_bytes(blob)

    meta = read_table(spark, sf_smoke, "documents").select(
        "doc_id", "lang"
    )
    stream = mm.stream_jsonl_gz_dir(spark, str(d)).select(
        "doc_id", "text"
    ).join(meta, "doc_id")
    norm_hash = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 256
    )
    avg_len = F.round(
        F.aggregate(
            F.col("tokens"), F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / F.greatest(F.size("tokens"), F.lit(1)),
        4,
    )
    gated = (
        stream.withColumn("text_hash", norm_hash)
        .withColumn("tokens", _tokens(F.col("text")))
        .filter(
            (F.size("tokens") >= 5)
            & avg_len.between(2, 15)
            & (_n_in(F.col("tokens"), _STOPWORDS) > 0)
        )
        .select(
            "text_hash",
            F.struct(
                "doc_id", "lang", F.size("tokens").alias("n_tok")
            ).alias("s"),
        )
    )
    # canonical tier: per-hash min struct (lexicographic by doc_id
    # first == the batch window's min-doc_id survivor)
    survivors = gated.groupBy("text_hash").agg(F.min("s").alias("s"))
    final = run_to_memory(
        survivors, "curation_stream", output_mode="complete"
    )
    got = {}
    for r in final.collect():
        n_docs, n_tok = got.get(r.s.lang, (0, 0))
        got[r.s.lang] = (n_docs + 1, n_tok + r.s.n_tok)
    assert got == batch


def test_warc_curation_pipeline_streaming_parity(spark, sf_smoke, tmp_path):
    """The WARC-framed curation entry's streaming twin: REAL .warc.gz
    shard FILES tailed by stream_warc_dir, doc_id recovered from the
    WARC-Record-ID urn exactly as the graded warc_curation_pipeline
    does, then the same gate tiers + per-hash min-struct survivor
    state as the jsonl twin above.  The final per-lang (n_docs_kept,
    n_tokens_kept) must equal the batch entry's — the mixture scalars
    are a deterministic function of exactly those numbers."""
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.extensions import multimodal as mm
    from isaac_kafka_streaming_spark.extensions.text import _tokens
    from isaac_kafka_streaming_spark.extensions.text import _STOPWORDS, _n_in
    from isaac_kafka_streaming_spark.io import read_table
    from isaac_kafka_streaming_spark.queries import all_queries
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    batch = {
        (r.lang): (r.n_docs_kept, r.n_tokens_kept)
        for r in all_queries()["warc_curation_pipeline"].fn(
            spark, sf_smoke
        ).collect()
    }

    docs = read_table(spark, sf_smoke, "documents")
    d = tmp_path / "warc_shards"
    d.mkdir()
    for row in mm.documents_as_warc_shards(docs).collect():
        (d / f"shard-{row.shard_id:05d}.warc.gz").write_bytes(
            bytes(row.blob)
        )

    meta = docs.select("doc_id", "lang")
    stream = (
        mm.stream_warc_dir(spark, str(d))
        .select(
            F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
        .join(meta, "doc_id")
    )
    norm_hash = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 256
    )
    avg_len = F.round(
        F.aggregate(
            F.col("tokens"), F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / F.greatest(F.size("tokens"), F.lit(1)),
        4,
    )
    gated = (
        stream.withColumn("text_hash", norm_hash)
        .withColumn("tokens", _tokens(F.col("text")))
        .filter(
            (F.size("tokens") >= 5)
            & avg_len.between(2, 15)
            & (_n_in(F.col("tokens"), _STOPWORDS) > 0)
        )
        .select(
            "text_hash",
            F.struct(
                "doc_id", "lang", F.size("tokens").alias("n_tok")
            ).alias("s"),
        )
    )
    survivors = gated.groupBy("text_hash").agg(F.min("s").alias("s"))
    final = run_to_memory(
        survivors, "warc_curation_stream", output_mode="complete"
    )
    got = {}
    for r in final.collect():
        n_docs, n_tok = got.get(r.s.lang, (0, 0))
        got[r.s.lang] = (n_docs + 1, n_tok + r.s.n_tok)
    assert got == batch


def test_threshold_state_survives_checkpoint_restart(spark, tmp_path):
    """T9 at the STATE level: stop a GroupState query mid-corpus and
    restart it from the same checkpoint — the restored per-user count
    must complete a crossing that spans the restart, the pre-restart
    crossing must not re-emit (file-sink exactly-once via the
    _spark_metadata commit log), and a lost-state run would emit
    nothing at all (the crossing only fires at cumulative count 3)."""
    import datetime as dt
    import glob
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, date_attempted timestamp"
    t0 = dt.datetime(2024, 1, 1)

    def add_file(name, rows, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            threshold_crossing_stream(stream, thresholds=(3,))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # phase 1: user 1 reaches count 2 (no crossing), user 2 crosses
    add_file(
        "b0",
        [
            (1, t0),
            (1, t0 + dt.timedelta(hours=1)),
            (2, t0),
            (2, t0 + dt.timedelta(hours=1)),
            (2, t0 + dt.timedelta(hours=2)),
        ],
        1_000_000_000,
    )
    run_once()
    after1 = {
        (r.user_id, r.threshold) for r in spark.read.parquet(out).collect()
    }
    assert after1 == {(2, 3)}

    # phase 2: ONE more attempt for user 1 — crosses only if the
    # restarted query restored count=2 from the checkpoint
    add_file("b1", [(1, t0 + dt.timedelta(days=1))], 1_000_000_100)
    run_once()
    rows = spark.read.parquet(out).collect()
    got = sorted((r.user_id, r.threshold) for r in rows)
    assert got == [(1, 3), (2, 3)]  # state restored; no re-emission
    (u1,) = [r for r in rows if r.user_id == 1]
    assert u1.achieved_at == t0 + dt.timedelta(days=1)


def test_streak_state_survives_checkpoint_restart(spark, tmp_path):
    """The multi-field GroupState witness: restart the O5 streak
    machine from its checkpoint — an event arriving after the restart
    must EXTEND the restored (start_us, end_us, n_events) streak, not
    begin a fresh one (the lost-state signature would be a streak of
    length 1 starting at the new event)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.streaming.state import (
        streak_state_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)

    def add_file(name, rows, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            streak_state_stream(stream, gap_seconds=8)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(
        "b0",
        [(1, t0), (1, t0 + dt.timedelta(seconds=5))],
        1_000_000_000,
    )
    run_once()

    # 5 s after the last event — inside the 8 s gap, so it CONTINUES
    # the streak iff (start_us, end_us, n) was restored
    add_file("b1", [(1, t0 + dt.timedelta(seconds=10))], 1_000_000_100)
    run_once()

    rows = spark.read.parquet(out).collect()
    got = {(r.streak_start, r.n_events) for r in rows}
    assert (t0, 3) in got          # restored state extended the streak
    assert (t0 + dt.timedelta(seconds=10), 1) not in got  # no reset
    (final,) = [r for r in rows if r.n_events == 3]
    assert final.streak_end == t0 + dt.timedelta(seconds=10)
    assert final.streak_units == 10 // 7


def test_funnel_state_survives_checkpoint_restart(spark, tmp_path):
    """Third GroupState restart witness — the 4-slot funnel chain: a
    'click' arriving after the restart advances the chain to step 3
    only if the restored (t1, t2) slots carried over; lost state could
    never reach step 3 from a bare click (the chain only starts at
    signup)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.streaming.state import (
        funnel_state_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, event_type string, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)

    def add_file(name, rows, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            funnel_state_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(
        "b0",
        [
            (1, "signup", t0),
            (1, "view", t0 + dt.timedelta(seconds=10)),
        ],
        1_000_000_000,
    )
    run_once()

    add_file("b1", [(1, "click", t0 + dt.timedelta(seconds=20))],
             1_000_000_100)
    run_once()

    rows = spark.read.parquet(out).collect()
    assert max(r.step_reached for r in rows) == 3
    (final,) = [r for r in rows if r.step_reached == 3]
    assert (final.t1, final.t2, final.t3, final.t4) == (
        t0,
        t0 + dt.timedelta(seconds=10),
        t0 + dt.timedelta(seconds=20),
        None,
    )


def test_page_transition_state_survives_checkpoint_restart(
    spark, tmp_path
):
    """Fourth GroupState restart witness — the graph-maintenance
    machine: a page visit arriving after the restart must pair with
    the LAST PAGE SEEN before the restart into a (src, dst) edge;
    lost state would emit no transition at all (a lone visit has
    nothing to pair with)."""
    import datetime as dt
    import glob
    import json
    import os
    import shutil

    from isaac_kafka_streaming_spark.streaming.state import (
        page_transition_state_stream,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, ts timestamp, event_id long, props string"
    t0 = dt.datetime(2024, 1, 1)

    def add_file(name, rows, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src_dir / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        q = (
            page_transition_state_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(
        "b0", [(1, t0, 100, json.dumps({"k": "7"}))], 1_000_000_000
    )
    run_once()
    assert spark.read.parquet(out).count() == 0  # nothing to pair yet

    add_file(
        "b1",
        [(1, t0 + dt.timedelta(seconds=30), 101, json.dumps({"k": "9"}))],
        1_000_000_100,
    )
    run_once()
    rows = spark.read.parquet(out).collect()
    assert [(r.src, r.dst, r.n) for r in rows] == [(7, 9, 1)]


def test_priority_reservoir_survives_checkpoint_restart(
    spark, sf_smoke, tmp_path
):
    """Fifth GroupState restart witness — the weighted reservoir: the
    corpus split ACROSS a stop/restart must still converge to batch
    priority_sample bit-for-bit, because the k+1-row per-stratum state
    (and the rows-seen version counter) rides the checkpoint.  Lost
    state would leave only the post-restart documents in the
    reservoir and a too-small version."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.extensions.sampling import (
        priority_sample,
    )
    from isaac_kafka_streaming_spark.streaming.state import (
        priority_sample_stream,
    )

    docs = read_table(spark, sf_smoke, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def add_file(name, df, mtime):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, lang string, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            priority_sample_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file("b0", docs.filter(F.col("doc_id") <= mid), 1_000_000_000)
    run_once()
    add_file("b1", docs.filter(F.col("doc_id") > mid), 1_000_000_100)
    run_once()

    emitted = spark.read.parquet(out).collect()
    final_version = {}
    for r in emitted:
        final_version[r.lang] = max(final_version.get(r.lang, 0), r.version)
    got = {
        (r.doc_id, r.lang, r.weight, r.prio_rank, r.priority, r.est_weight)
        for r in emitted
        if r.version == final_version[r.lang]
    }
    want = {
        (r.doc_id, r.lang, r.weight, r.prio_rank, r.priority, r.est_weight)
        for r in priority_sample(spark, sf_smoke).collect()
    }
    assert got == want and want
    # version counters crossed the restart too: totals, not tails
    sizes = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert final_version == sizes


def test_next_fit_packer_survives_checkpoint_restart(spark, tmp_path):
    """Sixth GroupState restart witness — the online packer: a
    document arriving after the restart must respect the OPEN BIN's
    restored fill (60/100 tokens -> a 50-token doc closes it and opens
    bin 1); lost state would re-open bin 0 empty and co-locate the two
    documents in violation of capacity."""
    import glob
    import os
    import shutil

    from isaac_kafka_streaming_spark.streaming.state import (
        pack_stream_next_fit,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"

    def add_file(name, rows, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            pack_stream_next_fit(stream, ctx=100, n_shards=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file("b0", [(1, " ".join(["tok"] * 60))], 1_000_000_000)
    run_once()
    add_file("b1", [(2, " ".join(["tok"] * 50))], 1_000_000_100)
    run_once()

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].n_tokens == 60 and rows[1].bin == 0
    # 60 + 50 > 100: the restored fill forces bin 1 (lost state would
    # have packed doc 2 into a fresh bin 0 next to doc 1)
    assert rows[2].n_tokens == 50 and rows[2].bin == 1


def _one_file_stream(spark, tmp_path, schema, rows):
    """A file-source stream over one parquet file holding `rows`."""
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    return spark.readStream.schema(schema).parquet(src)


def test_streak_state_gap_boundary_at_microsecond_timestamps(spark, tmp_path):
    """The streak machine keeps event time exact to the microsecond and
    compares gaps on ms-truncated timestamps (delta_ms > gap_ms), like
    unix_millis in the batch form; its schema is the declared one."""
    import datetime as dt

    from isaac_kafka_streaming_spark.streaming.state import (
        STREAK_OUTPUT_SCHEMA,
        streak_state_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 400)
    s = dt.timedelta(seconds=1)
    ms = dt.timedelta(milliseconds=1)
    us = dt.timedelta(microseconds=1)
    z = dt.datetime(2024, 1, 2)
    rows = [
        # exactly gap_ms apart: same streak
        (1, t0),
        (1, t0 + 8 * s),
        # gap_ms + 1 apart: a new streak
        (2, t0),
        (2, t0 + 8 * s + ms),
        # 8000.001 ms apart in micros, 8001 ms after truncation: new
        (3, z + 999 * us),
        (3, z + 8 * s + ms),
        # 8000.999 ms apart in micros, 8000 ms after truncation: same
        (4, z),
        (4, z + 8 * s + 999 * us),
    ]
    df = streak_state_stream(
        _one_file_stream(spark, tmp_path, "user_id long, ts timestamp", rows),
        gap_seconds=8,
    )
    assert df.schema == STREAK_OUTPUT_SCHEMA
    got = {
        r.user_id: (r.streak_start, r.streak_end, r.n_events, r.streak_units)
        for r in st.run_to_memory(df, "streak_us_boundary").collect()
    }
    assert got == {
        1: (t0, t0 + 8 * s, 2, 1),
        2: (t0 + 8 * s + ms, t0 + 8 * s + ms, 1, 0),
        3: (z + 8 * s + ms, z + 8 * s + ms, 1, 0),
        4: (z, z + 8 * s + 999 * us, 2, 1),
    }


def test_threshold_crossing_keeps_microseconds_and_schema(spark, tmp_path):
    import datetime as dt

    from isaac_kafka_streaming_spark.streaming.state import OUTPUT_SCHEMA

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 123456)
    rows = [(7, t0 + dt.timedelta(microseconds=i)) for i in (3, 1, 2)]
    df = threshold_crossing_stream(
        _one_file_stream(
            spark, tmp_path, "user_id long, date_attempted timestamp", rows
        ),
        thresholds=(1, 3),
    )
    assert df.schema == OUTPUT_SCHEMA
    got = sorted(
        (r.user_id, r.achievement_id, r.threshold, r.achieved_at)
        for r in st.run_to_memory(df, "crossing_us", output_mode="append").collect()
    )
    aid = "QUESTIONS_ANSWERED_CORRECTLY"
    assert got == [
        (7, aid, 1, t0 + dt.timedelta(microseconds=1)),
        (7, aid, 3, t0 + dt.timedelta(microseconds=3)),
    ]


def test_state_machines_drop_null_event_times(spark, tmp_path):
    """A NULL event time cannot be placed in event-time order, so both
    machines drop it before the state operator: it never counts toward
    a streak or a threshold, and no crossing carries a NULL
    achieved_at.  Output schemas stay the declared ones."""
    import datetime as dt

    from isaac_kafka_streaming_spark.streaming.state import (
        OUTPUT_SCHEMA,
        STREAK_OUTPUT_SCHEMA,
        streak_state_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = t0 + dt.timedelta(seconds=1)
    rows = [(7, t0), (7, None), (7, t1)]

    streak = streak_state_stream(
        _one_file_stream(
            spark, tmp_path / "streak", "user_id long, ts timestamp", rows
        )
    )
    assert streak.schema == STREAK_OUTPUT_SCHEMA
    got = [
        (r.user_id, r.streak_start, r.streak_end, r.n_events)
        for r in st.run_to_memory(streak, "streak_null_ts").collect()
    ]
    assert got == [(7, t0, t1, 2)]

    crossings = threshold_crossing_stream(
        _one_file_stream(
            spark,
            tmp_path / "crossing",
            "user_id long, date_attempted timestamp",
            rows,
        ),
        thresholds=(1, 2, 3),
    )
    assert crossings.schema == OUTPUT_SCHEMA
    got = sorted(
        (r.threshold, r.achieved_at)
        for r in st.run_to_memory(
            crossings, "crossing_null_ts", output_mode="append"
        ).collect()
    )
    assert got == [(1, t0), (2, t1)]
