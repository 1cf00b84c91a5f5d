"""Benchmark entry point.

    python3 perfbench/run.py --workload isaac_board --seed 1 --seconds 10 --trace 0

Runs one workload (`isaac_board` or `isaac_stream`) in
one process on all cores, checks every output against a computation made
apart from the program, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end ones; with --trace 1 the Spark event log
is turned on from the launch environment and the per-layer ones are
printed instead.  The line before it records the deployment settings.

Inputs are generated from --seed under `.perfbench_work/` in the
current directory (the repository checkout), which is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("isaac_board", "isaac_stream")
# isaac_board times whole rounds of this many passes; the first pass
# after the warm-up is still slower than the next, so every run holds
# the same mix
PASS_ROUND = 2

# tables each workload reads through io.read_table, and the views of
# plans.views it goes through (the io/views probes of a traced run)
READ_TABLES = {
    "isaac_board": ["events", "customer", "nation", "orders", "lineitem",
                    "supplier", "region", "documents", "embeddings"],
    "isaac_stream": ["customer", "nation"],
}
VIEWS = {
    "isaac_board": ["logged_events", "users", "question_attempts"],
    "isaac_stream": ["users"],
}


def deployment(work: str, trace: bool) -> dict:
    """Pin the settings `session.get_spark` reads, so a bare run does not
    default to local[32] and a 16g heap."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    submit = [f'--driver-java-options "{java_opts}"', "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            # Spark 4 compresses with zstd and rolls into a directory by
            # default; keep one plain JSON-lines file
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the inputs are a few MB; a heap the workloads fill keeps peak
        # memory from following where the collector happened to stop
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        # pandas deprecation notices from pyspark's own serializers
        "PYTHONWARNINGS": "ignore::FutureWarning",
    }
    os.environ.update(env)
    return env


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric(value, unit):
    return {"value": float(value), "unit": unit}


# ---- workloads -----------------------------------------------------------


def run_board(ctx) -> dict:
    import boards
    import measure
    from gen import write_board_tables

    spark, spans, tree = ctx["spark"], ctx["spans"], ctx["tree"]
    data = os.path.join(ctx["work"], "data")
    entries = boards.resolve(boards.ISAAC_BOARD)
    failed_names: set = set()
    pass_walls, op_times, pass_cpu, py_cpu = [], [], [], []
    try:
        write_board_tables(data, ctx["seed"])
        t0 = time.perf_counter()
        results = boards.warmup_pass(spark, entries, data, int(os.environ["SPARK_GRAFT_CPUS"]))
        print(f"warm-up pass {time.perf_counter() - t0:.2f}s", file=sys.stderr)

        ctx["setup_s"] = measure.process_age_s()
        tree.reset_peak()
        t_end = time.perf_counter() + ctx["seconds"]
        while time.perf_counter() < t_end:
            for _ in range(PASS_ROUND):
                m0 = tree.mark()
                t0 = time.perf_counter()
                times = boards.timed_pass(spark, entries, data, spans, failed_names)
                pass_walls.append(time.perf_counter() - t0)
                m1 = tree.mark()
                pass_cpu.append(m1["cpu"] - m0["cpu"])
                py_cpu.append(m1["py_cpu"] - m0["py_cpu"])
                op_times += [t for t in times.values() if t is not None]
                print("timed pass " + " ".join(
                    f"{n}={t:.2f}" if t is not None else f"{n}=FAILED" for n, t in times.items()
                ), file=sys.stderr)
        if ctx["trace"]:
            probe_layers(ctx, data)
        problems = boards.check(entries, results, data)
    except Exception as e:  # noqa: BLE001 - counted, the run still reports
        problems = {n: f"raised {type(e).__name__}: {str(e)[:300]}" for n in entries}
    bad = {n for n, p in problems.items() if p} | failed_names
    for n in sorted(bad):
        print(f"FAILED {n}: {problems.get(n) or 'raised in a timed pass'}", file=sys.stderr)
    n_pass = max(len(pass_walls), 1)
    return {
        "attempted": n_pass * len(entries),
        "failed": n_pass * len(bad),
        "correct": not bad,
        "pass_s": median(pass_walls),
        "op_p50_s": median(op_times),
        "cpu_s": median(pass_cpu),
        "peak_pss_mb": tree.peak_pss_mb,
        "py_cpu_s": median(py_cpu),
        "n_pass": n_pass,
        "wall_timed": sum(pass_walls),
        "families": {n: fam for n, (_, _, fam) in entries.items() if fam},
    }


def run_stream(ctx) -> dict:
    import stream
    import stream_check

    spark, spans, tree = ctx["spark"], ctx["spans"], ctx["tree"]
    work = os.path.join(ctx["work"], "stream")
    out: dict = {"attempted": 0}
    rig = None
    try:
        rig = stream.StreamRig(spark, work, ctx["seed"], spans)
        out = stream.run(rig, ctx["seconds"], tree, ctx)
        if ctx["trace"]:
            probe_layers(ctx, rig.dims)
        ctx["progress"] = rig.progress()
        problems = stream_check.check(rig)
    except Exception as e:  # noqa: BLE001 - counted, the run still reports
        problems = [f"raised {type(e).__name__}: {str(e)[:300]}"]
    finally:
        if rig is not None:
            rig.stop()
    for p in problems:
        print(f"FAILED isaac_stream: {p}", file=sys.stderr)
    attempted = max(out.get("attempted", 0), 1)
    lat = out.get("latencies", [])
    return {
        "attempted": attempted,
        "failed": attempted if problems else 0,
        "correct": not problems,
        "pass_s": out.get("drain_s", 0.0),
        "op_p50_s": median(lat),
        "cpu_s": out.get("drain_cpu", 0.0),
        "peak_pss_mb": out.get("peak_pss_mb", 0.0),
        "py_cpu_s": out.get("py_cpu", 0.0),
        "events_per_s": out.get("drain_events", 0) / out["drain_s"] if out.get("drain_s") else 0.0,
        "n_pass": attempted,
        "wall_timed": out.get("timed_wall", 0.0),
    }


def probe_layers(ctx, data: str) -> None:
    """Traced runs only: time the io and plans.views layers on their own,
    each table / view read in full to the noop sink."""
    from isaac_kafka_streaming_spark import io
    from isaac_kafka_streaming_spark.plans import views

    spark, spans = ctx["spark"], ctx["spans"]
    spark.sparkContext.setJobDescription("perfbench:probe")
    for t in READ_TABLES[ctx["workload"]]:
        with spans.span("io.read_table_s"):
            io.read_table(spark, data, t).write.format("noop").mode("overwrite").save()
    for v in VIEWS[ctx["workload"]]:
        with spans.span("plans.views_s"):
            getattr(views, v)(spark, data).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)


# ---- metrics -------------------------------------------------------------


def end_to_end(r: dict, ctx: dict) -> dict:
    return {
        "setup_s": metric(ctx["setup_s"], "s"),
        "pass_s": metric(r["pass_s"], "s"),
        "op_p50_s": metric(r["op_p50_s"], "s"),
        "cpu_s": metric(r["cpu_s"], "s"),
        "peak_pss_mb": metric(r["peak_pss_mb"], "MB"),
    }


def per_layer(r: dict, ctx: dict) -> dict:
    import boards
    import measure

    spans = ctx["spans"]
    # board values are per pass; stream values per published file
    div = r["n_pass"]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    log = measure.read_event_log(measure.find_event_log(ctx["eventlog"]))
    families = r.get("families", {})

    def labels_of(job):
        if ctx["workload"] == "isaac_stream":
            a, b = ctx.get("stream_window", (0, 0))
            return ("timed",) if a <= job.get("Submission Time", 0) / 1e3 <= b else ()
        desc = (job.get("Properties") or {}).get("spark.job.description") or ""
        if not desc.startswith("perfbench:pass:"):
            return ()
        fam = families.get(desc[len("perfbench:pass:"):])
        return ("timed", fam) if fam else ("timed",)

    totals = measure.event_log_totals(log, labels_of)
    timed = totals.get("timed", {})
    m = {
        "session.get_spark_s": metric(spans.total["session.get_spark_s"], "s"),
        "io.read_table_s": metric(spans.total["io.read_table_s"], "s"),
        "plans.views_s": metric(spans.total["plans.views_s"], "s"),
        "queries.build_s": metric(spans.total["queries.build_s"] / div, "s"),
        "queries.exec_s": metric(spans.total["queries.exec_s"] / div, "s"),
    }
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
        ("python_rows", "count"), ("python_mb", "MB"),
    ):
        m[f"spark.{key}"] = metric(timed.get(key, 0.0) / div, unit)
    wall = r["wall_timed"]
    m["spark.utilization"] = metric(
        timed.get("executor_run_s", 0.0) / (wall * cpus) if wall else 0.0, "ratio"
    )
    m["spark.python_worker_cpu_s"] = metric(r["py_cpu_s"], "s")
    for fam in boards.FAMILIES:
        t = totals.get(fam, {})
        m[f"extensions.{fam}.wall_s"] = metric(spans.total[f"extensions.{fam}.wall_s"] / div, "s")
        m[f"extensions.{fam}.jobs"] = metric(t.get("jobs", 0.0) / div, "count")
        m[f"extensions.{fam}.shuffle_mb"] = metric(
            (t.get("shuffle_write_mb", 0.0) + t.get("shuffle_read_mb", 0.0)) / div, "MB"
        )
    m.update(stream_layers(ctx, div))
    m["trace.pass_s"] = metric(r["pass_s"], "s")
    return m


def stream_layers(ctx, div) -> dict:
    import stream
    import measure

    progress = ctx.get("progress", {})
    a, b = ctx.get("stream_window", (0, 0))
    topo = {k: 0.0 for k in ("batches", "add_batch_s", "planning_s", "latest_offset_s", "commit_s")}
    st = {k: 0.0 for k in ("state_rows_total", "state_rows_updated", "state_memory_mb", "state_commit_s")}
    jdbc_write = 0.0
    for name, reports in progress.items():
        timed = [p for p in reports if a <= measure.progress_epoch(p) <= b]
        t = measure.progress_totals(timed)
        if name == stream.SINK_QUERY:
            jdbc_write += t.get("add_batch_s", 0.0)
        for k in topo:
            topo[k] += t.get(k, 0.0)
        for k in st:
            st[k] += t.get(k, 0.0)
    return {
        "streaming.topology.batches": metric(topo["batches"] / div, "count"),
        "streaming.topology.add_batch_s": metric(topo["add_batch_s"] / div, "s"),
        "streaming.topology.planning_s": metric(topo["planning_s"] / div, "s"),
        "streaming.topology.latest_offset_s": metric(topo["latest_offset_s"] / div, "s"),
        "streaming.topology.commit_s": metric(topo["commit_s"] / div, "s"),
        "streaming.state.rows_total": metric(st["state_rows_total"], "count"),
        "streaming.state.rows_updated": metric(st["state_rows_updated"] / div, "count"),
        "streaming.state.memory_mb": metric(st["state_memory_mb"], "MB"),
        "streaming.state.commit_s": metric(st["state_commit_s"] / div, "s"),
        "sources.jdbc.write_s": metric(jdbc_write / div, "s"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both the
    JVM and Spark's Python workers to exit."""
    import signal

    from pyspark import SparkContext

    import measure

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    for pid in measure.wait_for_descendants(timeout_s=30):
        os.kill(pid, signal.SIGKILL)
    measure.wait_for_descendants(timeout_s=10)


# ---- main ----------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import isaac_kafka_streaming_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import measure

    settings = deployment(work, bool(args.trace))
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "work": work, "spans": measure.Spans(),
        "eventlog": os.path.join(work, "eventlog"),
    }
    with measure.ProcessTree() as tree:
        ctx["tree"] = tree
        from isaac_kafka_streaming_spark.session import get_spark

        with ctx["spans"].span("session.get_spark_s"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ctx["spark"] = spark
        try:
            if args.workload == "isaac_stream":
                r = run_stream(ctx)
            else:
                r = run_board(ctx)
        finally:
            stop_spark(spark)
    print(json.dumps({"settings": {k: settings[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "events_per_s": r.get("events_per_s"), "per_layer_divisor": r.get("n_pass")}))
    # a run that failed before its first timed operation still reports
    ctx.setdefault("setup_s", measure.process_age_s())
    try:
        metrics = per_layer(r, ctx) if args.trace else end_to_end(r, ctx)
    except Exception as e:  # noqa: BLE001 - e.g. an unreadable event log
        print(f"FAILED metrics: raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        r.update(correct=False, failed=r["attempted"])
        metrics = {}
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
