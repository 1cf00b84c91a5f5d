"""The `isaac_stream` workload: the streaming form of
LoggedEventsListener + DerivedStreams over one file-source event stream.

Seven concurrent StreamingQueries read the same directory:
  * the five stores of `streaming.topology.run_full_topology`
    (anonymous branch, latest per user, per-type counts, daily counts,
    the user-enriched stream), built from the same public functions;
  * `streaming.state.streak_state_stream` (current streak per user);
  * the correct-question-attempt `threshold_crossing_stream`, written
    through `foreach_batch_jdbc_idempotent` into in-memory Derby.

Phases: warm-up (one file, untimed, part of set-up), backlog drain
(a staged backlog of BACKLOG_FILES files published at once; one pass),
closed-loop trickle (publish one small file by atomic rename, wait until
every query committed it, repeat; whole rounds of TRICKLE_ROUND files).
Backlog files are large, so the drain is dominated by per-row work;
trickle files are small, so each is dominated by the fixed cost of a
micro-batch.  Every published file after the warm-up is one operation.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import measure
from gen import EventStream, customer_table, nation_table, write

N_USERS = 15_000          # the whole users dimension (customer rows)
EVENTS_PER_FILE = 2_000   # warm-up and backlog files
BACKLOG_FILES = 3
TRICKLE_EVENTS = 500      # events per trickle file
TRICKLE_ROUND = 2         # files per closed-loop round
DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
SINK_TABLE = "ACHIEVEMENTS"
SINK_KEY = ["user_id", "achievement_id", "threshold"]
SINK_QUERY = "jdbc_sink"


class StreamRig:
    """Owns the source directory, the running queries and their outputs."""

    def __init__(self, spark, work: str, seed: int, spans) -> None:
        self.spark = spark
        self.work = work
        self.spans = spans
        self.src = os.path.join(work, "src")
        self.stage = os.path.join(work, "stage")
        self.dims = os.path.join(work, "dims")
        for d in (self.src, self.stage):
            os.makedirs(d, exist_ok=True)
        self.seed = seed
        self.gen = EventStream(seed, N_USERS)
        self.published = 0
        self.published_events = 0
        self.staged_events: dict[str, int] = {}
        self.queries: dict = {}
        self.jdbc_url = f"jdbc:derby:memory:perfbench_{seed}_{os.getpid()};create=true"
        self.prefix = f"pb{os.getpid()}"

    # -- input ----------------------------------------------------------

    def write_dims(self) -> None:
        """The users dimension: customer (every one of the 15,000 ids)
        joined to nation, as `plans.views.users` reads it."""
        os.makedirs(self.dims, exist_ok=True)
        rng = np.random.default_rng([self.seed, 3])
        write(nation_table(), os.path.join(self.dims, "nation.parquet"))
        write(customer_table(rng, N_USERS), os.path.join(self.dims, "customer.parquet"))

    def stage_file(self, i: int, n: int) -> str:
        path = os.path.join(self.stage, f"events-{i:05d}.parquet")
        pq.write_table(self.gen.table(i, n), path)
        self.staged_events[path] = n
        # file sources order new files by modification time
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
        return path

    def publish(self, staged: list[str]) -> None:
        for path in staged:
            os.rename(path, os.path.join(self.src, os.path.basename(path)))
            self.published_events += self.staged_events.pop(path)
        self.published += len(staged)

    # -- queries --------------------------------------------------------

    def start(self) -> None:
        from pyspark.sql import functions as F

        from isaac_kafka_streaming_spark.plans import views
        from isaac_kafka_streaming_spark.streaming import state, topology

        spark = self.spark
        with self.spans.span("queries.build_s"):
            user_dim = views.users(spark, self.dims)
            stream = topology.stream_events(spark, self.src)
            logged = topology.as_logged_events(stream)
            reg = logged.filter(~F.col("anonymous_user"))
            anon = logged.filter(F.col("anonymous_user"))
            memory = {
                "anonymous_events": (anon, "append"),
                "latest_per_user": (topology.streaming_latest_per_user(reg), "complete"),
                "event_type_counts": (topology.streaming_event_type_counts(reg), "complete"),
                "daily_counts": (topology.streaming_daily_counts(reg), "complete"),
                "enriched_events": (topology.streaming_enriched_events(reg, user_dim), "append"),
                "streaks": (state.streak_state_stream(reg), "update"),
            }
            qa = views.question_attempts_from(reg).filter(F.col("correct"))
            crossings = state.threshold_crossing_stream(qa)
        ckpt = os.path.join(self.work, "checkpoints")
        for name, (df, mode) in memory.items():
            self.queries[name] = (
                df.writeStream.format("memory")
                .queryName(f"{self.prefix}_{name}")
                .outputMode(mode)
                .option("checkpointLocation", os.path.join(ckpt, name))
                .start()
            )
        self.queries[SINK_QUERY] = topology.foreach_batch_jdbc_idempotent(
            crossings, self.jdbc_url, SINK_TABLE, SINK_KEY, DERBY_PROPS,
            checkpoint=os.path.join(ckpt, "jdbc_sink"),
        )

    def wait_all(self) -> None:
        """Block until every query has committed all published files."""
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best effort at teardown
                pass

    def progress(self) -> dict:
        return {name: list(q.recentProgress) for name, q in self.queries.items()}

    def table(self, name: str):
        return self.spark.table(f"{self.prefix}_{name}")

    def sink(self):
        return self.spark.read.jdbc(self.jdbc_url, SINK_TABLE, properties=DERBY_PROPS)


def run(rig: StreamRig, seconds: float, tree, ctx: dict) -> dict:
    """Drive the three phases.  Sets ctx["setup_s"] at the first timed
    operation and ctx["stream_window"] to the epoch span of the timed
    phases; returns the raw samples."""
    rig.write_dims()
    out: dict = {"latencies": [], "attempted": 0}
    rig.start()
    # warm-up: first batches compile every plan and start Python workers
    rig.publish([rig.stage_file(0, EVENTS_PER_FILE)])
    rig.wait_all()
    # the timed window opens before staging, so a trigger that started
    # polling before the backlog appeared still falls inside it
    w0 = time.time()
    next_file = 1
    staged = [rig.stage_file(next_file + i, EVENTS_PER_FILE) for i in range(BACKLOG_FILES)]
    next_file += BACKLOG_FILES

    # backlog drain: the whole staged backlog published at once
    ctx["setup_s"] = measure.process_age_s()
    tree.reset_peak()
    m0 = tree.mark()
    t0 = time.perf_counter()
    rig.publish(staged)
    with rig.spans.span("queries.exec_s"):
        rig.wait_all()
    out["drain_s"] = time.perf_counter() - t0
    m1 = tree.mark()
    out["drain_cpu"] = m1["cpu"] - m0["cpu"]
    out["attempted"] += BACKLOG_FILES
    out["drain_events"] = BACKLOG_FILES * EVENTS_PER_FILE

    # closed-loop trickle, in whole rounds, until the run length is reached
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        for _ in range(TRICKLE_ROUND):
            path = rig.stage_file(next_file, TRICKLE_EVENTS)
            next_file += 1
            t1 = time.perf_counter()
            rig.publish([path])
            with rig.spans.span("queries.exec_s"):
                rig.wait_all()
            out["latencies"].append(time.perf_counter() - t1)
            out["attempted"] += 1
    ctx["stream_window"] = (w0, time.time())
    print(f"drain {out['drain_s']:.2f}s trickle " + " ".join(
        f"{t:.2f}" for t in out["latencies"]), file=sys.stderr)
    m2 = tree.mark()
    out["timed_wall"] = time.perf_counter() - t0
    out["py_cpu"] = (m2["py_cpu"] - m0["py_cpu"]) / out["attempted"]
    out["peak_pss_mb"] = tree.peak_pss_mb
    return out
