"""T8 — exact threshold-*crossing* emission as a custom stateful operator.

The reference's ThresholdAchievedProcessor (ThresholdAchievedProcessor.
java:49-111) consumes a per-user running count and inserts one
achievement row the moment the count reaches each threshold.  The batch
form (operators.thresholds) recovers crossings from event ranks; this
streaming form is the faithful state machine: per-user state holds the
count so far, each micro-batch advances it and emits exactly the
thresholds crossed by that batch's increments — exactly once per
(user, threshold) across the stream's lifetime.

applyInPandasWithState is the Spark-idiomatic Processor-API equivalent
(SURVEY.md §2.10 T7): init/process = the generator function, punctuate
is unused (empty in the reference too), state = GroupState.

The streak and threshold machines take event time across the Python
boundary as epoch micros (`unix_micros` before the state operator,
`timestamp_micros` after it).  Their state already holds longs, so the
workers then handle plain ints: no per-group pandas datetime column,
no `pd.Timestamp` per output value, and no session-timezone
conversion on either side of Arrow.  Micros are exactly what a
TimestampType stores, so the round trip is lossless.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.thresholds import ACHIEVEMENT_THRESHOLDS

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("achievement_id", T.StringType()),
        T.StructField("threshold", T.LongType()),
        T.StructField("achieved_at", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


STREAK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("streak_start", T.TimestampType()),
        T.StructField("streak_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("streak_units", T.LongType()),
    ]
)

STREAK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def streak_state_stream(
    events: DataFrame, gap_seconds: int = 86400
) -> DataFrame:
    """O5 exact KTable semantics — per-user CURRENT streak state machine
    (DerivedStreams.java:68-106): the store holds one {streakStart,
    streakEnd} per user; a gap larger than the threshold resets it.
    Unlike sessionize (which emits every historical session), this
    emits the latest streak per user per batch — the reference's
    userStreaks store discards history the same way.

    Gap rule matches operators.sessionize (delta_ms > gap_ms); the
    reference's truncating SECONDS.convert compare is a pinned quirk
    discussed in SURVEY.md §7.6.  streak_units reproduces the literal
    floor(floor(span_ms/1000)/7).  Input columns: (user_id, ts).
    Event time reaches the machine as epoch micros (module docstring).
    """
    gap_ms = gap_seconds * 1000

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        start_us, end_us, n = (
            state.get if state.exists else (None, None, 0)
        )
        # gather every chunk before sorting (see threshold processor)
        for us in sorted(us for pdf in pdfs for us in pdf["ts_us"].tolist()):
            # gap compare in ms, truncated per-timestamp like
            # unix_millis does in the batch form
            if (
                end_us is not None
                and us // 1000 - end_us // 1000 > gap_ms
            ):
                start_us, n = us, 0
            if start_us is None:
                start_us = us
            end_us = max(end_us, us) if end_us is not None else us
            n += 1
        state.update((start_us, end_us, n))
        if start_us is not None:
            span_ms = end_us // 1000 - start_us // 1000
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "start_us": [start_us],
                    "end_us": [end_us],
                    "n_events": [n],
                    "streak_units": [(span_ms // 1000) // 7],
                }
            )

    return (
        events.select("user_id", F.unix_micros("ts").alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            process,
            outputStructType="user_id long, start_us long, end_us long,"
            " n_events long, streak_units long",
            stateStructType=STREAK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .select(
            "user_id",
            F.timestamp_micros("start_us").alias("streak_start"),
            F.timestamp_micros("end_us").alias("streak_end"),
            "n_events",
            "streak_units",
        )
    )


def threshold_crossing_stream(
    qualifying: DataFrame,
    thresholds: Sequence[int] = ACHIEVEMENT_THRESHOLDS,
    achievement_id: str = "QUESTIONS_ANSWERED_CORRECTLY",
) -> DataFrame:
    """Emit one achievement row per (user, threshold) crossing.

    `qualifying` is the stream of events that increment the measure
    (e.g. correct question attempts) with columns
    (user_id, date_attempted).  Event time reaches the machine as epoch
    micros (module docstring).
    """
    thresholds_set = frozenset(int(t) for t in thresholds)

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        count = state.get[0] if state.exists else 0
        out_thresholds = []
        out_us = []
        # a group's batch rows may arrive as SEVERAL chunks — gather
        # them all before sorting, or event-time order only holds
        # within a chunk (a real flake caught by the parity test)
        for us in sorted(us for pdf in pdfs for us in pdf["at_us"].tolist()):
            count += 1
            if count in thresholds_set:
                out_thresholds.append(count)
                out_us.append(us)
        state.update((count,))
        if out_thresholds:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_thresholds),
                    "achievement_id": [achievement_id] * len(out_thresholds),
                    "threshold": out_thresholds,
                    "achieved_at_us": out_us,
                }
            )

    return (
        qualifying.select(
            "user_id", F.unix_micros("date_attempted").alias("at_us")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            process,
            outputStructType="user_id long, achievement_id string,"
            " threshold long, achieved_at_us long",
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .select(
            "user_id",
            "achievement_id",
            "threshold",
            F.timestamp_micros("achieved_at_us").alias("achieved_at"),
        )
    )


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step_reached", T.LongType()),
        T.StructField("t1", T.TimestampType()),
        T.StructField("t2", T.TimestampType()),
        T.StructField("t3", T.TimestampType()),
        T.StructField("t4", T.TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1_us", T.LongType()),
        T.StructField("t2_us", T.LongType()),
        T.StructField("t3_us", T.LongType()),
        T.StructField("t4_us", T.LongType()),
    ]
)


def funnel_state_stream(
    events: DataFrame,
    steps: Sequence[str] = ("signup", "view", "click", "purchase"),
    window_seconds: int = 86400,
) -> DataFrame:
    """Streaming twin of queries._funnel_signup_purchase — the windowed
    event-sequence funnel as a per-user state machine (T7 family,
    applyInPandasWithState like streak_state_stream).

    The batch funnel is a forward-only earliest chain: t1 = first
    step-1 event; t{i} = first step-i event with
    t{i-1} < ts <= t{i-1} + window.  Scanned in event-time order that
    chain is incrementally computable with four nullable timestamps of
    per-user state — once a slot fills it never changes, so the state
    machine is exactly the batch semantics under in-order arrival
    (same-arrival-order caveat as the reference's KTable processors;
    ties at identical ts are safe because every window compare is
    STRICT ts > t_prev, so intra-timestamp scan order cannot matter).
    Each batch emits the user's current chain; step_reached is
    monotone per user, so the latest row is the funnel position.

    Aggregating the final snapshot (n_users per reached step) equals
    the batch funnel's counts — pinned in tests/test_streaming.py; the
    state transition itself is property-tested batch-split-invariant
    against a brute-force chain in tests/test_properties.py (via
    funnel_process).
    Scale: state is 4 longs per user; one shuffle on user_id.
    """
    return (
        events.select("user_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            funnel_process(steps, window_seconds),
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_process(
    steps: Sequence[str] = ("signup", "view", "click", "purchase"),
    window_seconds: int = 86400,
):
    """The funnel state-transition function, exposed at module level so
    tests can drive it directly (hypothesis batch-split invariance)
    and executors can pickle it without capturing a DataFrame."""
    n_steps = len(steps)
    assert n_steps == 4, "schema is fixed at the 4-step product funnel"
    step_index = {s: i for i, s in enumerate(steps)}
    window_us = window_seconds * 1_000_000

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        t = list(state.get) if state.exists else [None] * n_steps
        rows = sorted(
            (ts.value // 1_000, et)
            for pdf in pdfs
            for ts, et in zip(pdf["ts"], pdf["event_type"])
            if et in step_index
        )
        for us, et in rows:
            i = step_index[et]
            if i == 0:
                if t[0] is None:
                    # first-seen signup == earliest signup under
                    # in-order arrival (the declared contract; under
                    # disorder the chain stays internally consistent
                    # — t{i} in (t{i-1}, t{i-1}+window] always — it
                    # just may differ from the batch chain)
                    t[0] = us
            elif (
                t[i] is None
                and t[i - 1] is not None
                and t[i - 1] < us <= t[i - 1] + window_us
            ):
                t[i] = us
        state.update(tuple(t))
        reached = 0
        for v in t:
            if v is None:
                break
            reached += 1
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "step_reached": [reached],
                **{
                    f"t{i + 1}": [
                        pd.Timestamp(t[i], unit="us")
                        if t[i] is not None
                        else pd.NaT
                    ]
                    for i in range(n_steps)
                },
            }
        )

    return process


PRIORITY_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("weight", T.LongType()),
        T.StructField("prio_rank", T.LongType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("est_weight", T.DoubleType()),
        T.StructField("version", T.LongType()),
    ]
)

PRIORITY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("qs", T.ArrayType(T.DoubleType())),
        T.StructField("seen", T.LongType()),
    ]
)


def _reservoir_merge(rows: list, k: int) -> list:
    """The priority reservoir's merge: keep the k+1 largest
    (doc_id, weight, q) rows by (q desc, doc_id asc).  Associative and
    commutative — merge(merge(A) + B) == merge(A + B) for any
    partition of the input — which is WHY the streaming reservoir's
    fixed point is arrival-order-independent and equals the batch
    top-(k+1); pinned by a hypothesis property test."""
    rows.sort(key=lambda r: (-r[2], r[0]))
    return rows[: k + 1]


def _round_half_up(x: float, scale: int = 4) -> float:
    """Spark's F.round semantics on doubles (BigDecimal.valueOf ->
    HALF_UP on the shortest decimal repr) — python's round() is
    banker's and WOULD diverge on .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def priority_sample_stream(docs: DataFrame, k: int = 20) -> DataFrame:
    """Streaming form of sampling.priority_sample — a bounded weighted
    reservoir per stratum (Duffield-Lund-Thorup priority sampling):
    per-lang state holds the k+1 largest priorities seen so far, each
    arriving micro-batch merges its documents in, and every batch
    emits the stratum's CURRENT top-k with the running threshold tau
    and Horvitz-Thompson est_weight.  State is k+1 rows per stratum —
    fixed regardless of stream length, the defining property of
    priority sampling at ingest.

    EXACT batch parity, not approximate: the priority q = w * 2^24 /
    u_int uses the same identity-hash u as the batch form (computed
    JVM-side in the pre-state projection with the identical md5/conv
    expressions), so the reservoir's fixed point over any arrival
    order equals priority_sample's output bit-for-bit — merging a
    top-(k+1) set is order-independent.  `version` (rows seen so far
    per stratum) is monotone; readers take each stratum's max-version
    emission as the current sample (the same store+read-off discipline
    as streaming_last_seen).  Rounding uses BigDecimal-HALF_UP
    semantics to match F.round exactly.

    Input: any DataFrame/stream with (doc_id, lang, n_chars).
    """
    u_int = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        ((F.col("n_chars") * F.lit(float(1 << 24))) / u_int).alias("q"),
    )

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (lang,) = key
        if state.exists:
            doc_ids, weights, qs, seen = state.get
            rows = list(zip(list(doc_ids), list(weights), list(qs)))
        else:
            rows, seen = [], 0
        for pdf in pdfs:
            for d, w, q in zip(pdf["doc_id"], pdf["n_chars"], pdf["q"]):
                rows.append((int(d), int(w), float(q)))
                seen += 1
        rows = _reservoir_merge(rows, k)
        state.update(
            (
                [r[0] for r in rows],
                [r[1] for r in rows],
                [r[2] for r in rows],
                seen,
            )
        )
        tau = rows[k][2] if len(rows) == k + 1 else 0.0
        top = rows[:k]
        yield pd.DataFrame(
            {
                "doc_id": [r[0] for r in top],
                "lang": [lang] * len(top),
                "weight": [r[1] for r in top],
                "prio_rank": list(range(1, len(top) + 1)),
                "priority": [_round_half_up(r[2]) for r in top],
                "est_weight": [
                    _round_half_up(max(float(r[1]), tau)) for r in top
                ],
                "version": [seen] * len(top),
            }
        )

    return keyed.groupBy("lang").applyInPandasWithState(
        process,
        outputStructType=PRIORITY_OUTPUT_SCHEMA,
        stateStructType=PRIORITY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PACK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin", T.LongType()),
        T.StructField("oversize", T.BooleanType()),
    ]
)

PACK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bin", T.LongType()),
        T.StructField("fill", T.LongType()),
        T.StructField("n_in_bin", T.LongType()),
    ]
)


def pack_stream_next_fit(
    docs: DataFrame, ctx: int = 128, n_shards: int = 16
) -> DataFrame:
    """Online no-split sample packing at ingest — the streaming
    counterpart of packing.pack_samples: per-shard GroupState holds
    just (current bin id, current fill), and each arriving document
    either joins the open bin or closes it and opens the next
    (next-fit).  Emits (doc_id, shard, bin, n_tokens, oversize) in
    append mode; state is TWO longs per shard regardless of stream
    length.

    Semantics are deliberately NOT batch-FFD-equal: an online packer
    cannot resort history, so bins differ from pack_samples' FFD by
    design — what holds instead are the packing LAWS (pinned in
    tests/test_streaming.py): capacity is never exceeded, oversize
    docs (> ctx tokens) get a closed solo bin (state tracks bin
    OCCUPANCY, not just fill — a zero-token doc occupies the open bin
    without filling it, and must still force the close), bin ids are
    monotone per shard, and next-fit's classic 2x-OPT bound caps the
    bin count.  Within a micro-batch, documents pack in doc_id order
    (arrival order inside a batch is partition-nondeterministic; the
    sort makes replays reproducible).  Input: (doc_id, text) stream;
    the shard/token projection is packing.tokenized_shards, shared
    with the batch packers so the two can never hash differently.
    """
    from ..extensions.packing import tokenized_shards

    base = tokenized_shards(docs, n_shards)

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        b, fill, n_in_bin = state.get if state.exists else (0, 0, 0)
        items = sorted(
            (int(d), int(n))
            for pdf in pdfs
            for d, n in zip(pdf["doc_id"], pdf["n_tokens"])
        )
        out = {"doc_id": [], "n_tokens": [], "bin": [], "oversize": []}
        for d, n in items:
            if n > ctx:
                # solo closed bin: advance past the open bin if it has
                # ANY member (occupancy, not fill — a zero-token doc
                # occupies without filling), park the oversize doc,
                # reopen fresh
                if n_in_bin > 0:
                    b += 1
                out["doc_id"].append(d)
                out["n_tokens"].append(n)
                out["bin"].append(b)
                out["oversize"].append(True)
                b, fill, n_in_bin = b + 1, 0, 0
                continue
            if fill + n > ctx:
                b, fill, n_in_bin = b + 1, n, 1
            else:
                fill, n_in_bin = fill + n, n_in_bin + 1
            out["doc_id"].append(d)
            out["n_tokens"].append(n)
            out["bin"].append(b)
            out["oversize"].append(False)
        state.update((b, fill, n_in_bin))
        if out["doc_id"]:
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "shard": [shard] * len(out["doc_id"]),
                    "n_tokens": out["n_tokens"],
                    "bin": out["bin"],
                    "oversize": out["oversize"],
                }
            )

    return base.groupBy("shard").applyInPandasWithState(
        process,
        outputStructType=PACK_OUTPUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PAGE_TRANSITION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

PAGE_TRANSITION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_k", T.LongType()),
    ]
)


def page_transition_process(split_gap_days: "int | None" = None):
    """The page-transition state-transition function, exposed at module
    level so tests can drive it directly (hypothesis batch-split
    invariance, the funnel_process pattern) and executors can pickle it
    without capturing a DataFrame.

    ``split_gap_days`` mirrors the batch knob
    (graph.page_transition_edges): when set, a transition whose two
    events fall in different ``split_gap_days``-day time buckets is
    DROPPED (the batch window partitions by (user, bucket), so the
    straddling pair never forms there either) — the state machine still
    advances, it just skips the emission at the bucket boundary.
    Enable on both sides or neither for bit-for-bit parity."""
    bucket_us = (
        None
        if split_gap_days is None
        else int(split_gap_days) * 86_400_000_000
    )

    def process(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, _last_eid, last_k = state.get
        else:
            last_ts, _last_eid, last_k = None, None, None
        rows = sorted(
            (int(ts.value // 1_000), int(eid), int(k))
            for pdf in pdfs
            for ts, eid, k in zip(pdf["ts"], pdf["event_id"], pdf["k"])
        )
        counts: dict = {}
        for ts_us, eid, k in rows:
            same_bucket = bucket_us is None or (
                last_ts is not None
                and ts_us // bucket_us == last_ts // bucket_us
            )
            if last_k is not None and k != last_k and same_bucket:
                counts[(last_k, k)] = counts.get((last_k, k), 0) + 1
            last_k, last_ts, _last_eid = k, ts_us, eid
        if last_k is not None:
            state.update((last_ts, _last_eid, last_k))
        if counts:
            yield pd.DataFrame(
                {
                    "src": [s for s, _ in counts],
                    "dst": [d for _, d in counts],
                    "n": list(counts.values()),
                }
            )

    return process


def page_transition_state_stream(
    events: DataFrame, split_gap_days: "int | None" = None
) -> DataFrame:
    """Streaming half of the PageRank pipeline (batch twin:
    extensions.graph.page_transition_edges): a per-user GroupState
    machine holds the LAST page seen, so consecutive-event transitions
    pair up across micro-batch boundaries exactly as the batch lag
    window pairs them — each batch emits its per-(src, dst) transition
    counts (append mode), the downstream edge store sums them, and
    PageRank itself is the read-time / periodic recompute over the
    store (graph.pagerank_from_graph — the two-level split every
    post-aggregate pass uses; ranking is iterative and belongs in the
    periodic batch, the stream maintains the graph).

    Within a batch, a user's rows sort by (ts, event_id) — the batch
    window's exact order; across batches the contract is event-time-
    ordered arrival per user (the streak/funnel machines' documented
    micro-batch contract).  Same-page repeats advance the state but
    emit nothing, matching the batch dst != src filter.

    Input columns: (user_id, ts, event_id, props JSON) — the page id
    parses from props exactly like the batch side.  ``split_gap_days``
    forwards to the state machine so the hot-user pre-split knob holds
    bit-for-bit batch/stream parity when enabled on both sides (see
    page_transition_process)."""
    parsed = events.select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    ).filter(F.col("k").isNotNull())
    return parsed.groupBy("user_id").applyInPandasWithState(
        page_transition_process(split_gap_days),
        outputStructType=PAGE_TRANSITION_OUTPUT_SCHEMA,
        stateStructType=PAGE_TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
