"""Measurement from outside the program: spans, the process tree, the
Spark event log and StreamingQuery progress reports.

Nothing here imports the package under test; the parsers take plain
dicts / JSON lines so they can be tested on small fixtures.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

MB = 1024 * 1024
_CLK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


# ---- spans ---------------------------------------------------------------


class Spans:
    """Named wall-time totals of the benchmark's own calls into a layer."""

    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, *names: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            for name in names:
                self.total[name] += dt


# ---- process tree --------------------------------------------------------


def _read_stat(pid: int):
    """(ppid, cpu_s, starttime) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces/parens: split after the last ')'
    fields = raw[raw.rfind(")") + 2 :].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _CLK, int(fields[19])


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between processes (the Python
    workers forked from Spark's daemon) count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _all_stats() -> dict:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _tree(root: int, stats: dict) -> list[int]:
    """`root` and every live descendant."""
    children = defaultdict(list)
    for pid, st in stats.items():
        children[st[0]].append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree.append(pid)
            todo.extend(children.get(pid, ()))
    return tree


def wait_for_descendants(timeout_s: float = 60.0) -> list[int]:
    """Wait until this process has no live descendants; returns those
    still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = _tree(os.getpid(), _all_stats())[1:]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.2)


def _is_python_worker(cmdline: str) -> bool:
    # forked workers inherit the daemon's command line
    return "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline


class ProcessTree:
    """Samples CPU and memory (PSS) of this process and all its
    descendants (the JVM and Spark's Python workers) on a background
    thread.

    CPU of a process is attributed from its first to its last sample, so
    `cpu_s()` between two marks covers every process alive in between;
    a worker that starts and exits inside one sampling interval is
    missed (Spark reuses its Python workers, so this is rare).
    """

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._cpu: dict[tuple, float] = {}  # (pid, starttime) -> last cpu_s
        self._python_worker: set[tuple] = set()
        self._peak_mem = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "ProcessTree":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        stats = _all_stats()
        tree = _tree(self.root, stats)
        mem = sum(_pss_mb(pid) for pid in tree)
        with self._lock:
            for pid in tree:
                _, cpu, start = stats[pid]
                key = (pid, start)
                if key not in self._cpu and _is_python_worker(_cmdline(pid)):
                    self._python_worker.add(key)
                self._cpu[key] = cpu
            self._peak_mem = max(self._peak_mem, mem)

    def mark(self) -> dict:
        """A snapshot to diff against later: total and Python-worker CPU."""
        self.sample()
        with self._lock:
            return {
                "cpu": sum(self._cpu.values()),
                "py_cpu": sum(self._cpu[k] for k in self._python_worker),
            }

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_mem = 0.0

    @property
    def peak_pss_mb(self) -> float:
        with self._lock:
            return self._peak_mem


# ---- Spark event log -----------------------------------------------------

# SQL metric names of the Python plan nodes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "number of output rows"  # of a node that has PY_RECV
_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metric of every Python node."""
    metrics = {m.get("name"): m.get("accumulatorId") for m in plan.get("metrics", [])}
    if PY_RECV in metrics and PY_ROWS in metrics:
        out.add(metrics[PY_ROWS])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def read_event_log(path: str) -> list[dict]:
    """Events of an uncompressed Spark event log (one JSON per line)."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def event_log_totals(events: list[dict], labels_of) -> dict:
    """Totals of an event log per label.

    `labels_of(job_start_event)` gives the labels a job counts under
    (possibly none); returns {label: {...}} where each dict holds jobs,
    stages, tasks, executor_run_s, executor_cpu_s, gc_s,
    shuffle_write_mb, shuffle_read_mb, spill_mb, python_rows, python_mb.
    """
    stage_labels: dict[int, tuple] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def add(labels, key, v):
        for label in labels:
            out[label][key] += v

    stages_seen = set()
    py_rows: set = set()
    for ev in events:
        kind = ev.get("Event")
        if kind in _PLAN_EVENTS:
            _python_row_accumulators(ev.get("sparkPlanInfo") or {}, py_rows)
        elif kind == "SparkListenerJobStart":
            labels = tuple(labels_of(ev))
            add(labels, "jobs", 1)
            for sid in ev.get("Stage IDs", []):
                stage_labels[sid] = labels
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            key = (info.get("Stage ID"), info.get("Stage Attempt ID"))
            if key not in stages_seen:
                stages_seen.add(key)
                add(stage_labels.get(key[0], ()), "stages", 1)
        elif kind == "SparkListenerTaskEnd":
            label = stage_labels.get(ev.get("Stage ID"), ())
            m = ev.get("Task Metrics") or {}
            add(label, "tasks", 1)
            add(label, "executor_run_s", m.get("Executor Run Time", 0) / 1e3)
            add(label, "executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
            add(label, "gc_s", m.get("JVM GC Time", 0) / 1e3)
            sw = m.get("Shuffle Write Metrics") or {}
            add(label, "shuffle_write_mb", sw.get("Shuffle Bytes Written", 0) / MB)
            sr = m.get("Shuffle Read Metrics") or {}
            add(
                label, "shuffle_read_mb",
                (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
            )
            add(
                label, "spill_mb",
                (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                is_rows = name == PY_ROWS and acc.get("ID") in py_rows
                if not (is_rows or name in (PY_SENT, PY_RECV)):
                    continue
                try:
                    v = float(acc.get("Update"))
                except (TypeError, ValueError):
                    continue
                if is_rows:
                    add(label, "python_rows", v)
                else:
                    add(label, "python_mb", v / MB)
    return {k: dict(v) for k, v in out.items()}


def find_event_log(log_dir: str) -> str:
    """The single finished application log in `log_dir`."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


# ---- StreamingQuery progress ---------------------------------------------


def progress_epoch(report: dict) -> float:
    """Epoch seconds of a progress report's trigger start."""
    ts = report.get("timestamp", "")
    try:
        return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    except ValueError:
        return 0.0


def progress_totals(progress: list[dict]) -> dict:
    """Per-phase totals over the progress reports of one query.

    Batches with no input still appear in progress reports (trigger
    polls); only reports with a batch that ran are summed.
    """
    tot = defaultdict(float)
    last_state = []
    for p in progress:
        d = p.get("durationMs") or {}
        if "addBatch" not in d:
            continue
        tot["batches"] += 1
        tot["add_batch_s"] += d.get("addBatch", 0) / 1e3
        tot["planning_s"] += d.get("queryPlanning", 0) / 1e3
        tot["latest_offset_s"] += d.get("latestOffset", 0) / 1e3
        tot["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        ops = p.get("stateOperators") or []
        for op in ops:
            tot["state_rows_updated"] += op.get("numRowsUpdated", 0)
            tot["state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
        if ops:
            last_state = ops
    tot["state_rows_total"] = sum(op.get("numRowsTotal", 0) for op in last_state)
    tot["state_memory_mb"] = sum(op.get("memoryUsedBytes", 0) for op in last_state) / MB
    return dict(tot)
