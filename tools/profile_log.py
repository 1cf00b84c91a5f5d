"""Per-entry Spark cost of one traced bench run, from its event log.

Turn Spark's event log on for a `bench.py` or `tools/bench_scaled.py`
run through the launch environment (the recipe perfbench/run.py uses),
then read the one log it leaves:

    mkdir -p eventlog
    PYSPARK_SUBMIT_ARGS="--conf spark.eventLog.enabled=true \\
        --conf spark.eventLog.dir=file://$PWD/eventlog \\
        --conf spark.eventLog.compress=false \\
        --conf spark.eventLog.rolling.enabled=false pyspark-shell" \\
        python bench.py
    python tools/profile_log.py eventlog/local-*

Each job counts under the entry its job description names: the text
after the description's last ':' (`bench: <name>` from
`bench.time_entries`, `perfbench:pass:<name>` from perfbench).  Jobs
without a description (session start, warm-up) count nowhere.  Prints
one JSON object, entry -> totals over the whole run; `samples` is how
many timed samples of the entry the log holds, so per-sample figures
are the totals divided by it.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.measure import event_log_totals, read_event_log  # noqa: E402

FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_mb", "spill_mb", "python_rows",
)
COUNTS = ("samples", "jobs", "stages", "tasks", "python_rows")


def entry_of(job: dict) -> tuple:
    desc = (job.get("Properties") or {}).get("spark.job.description") or ""
    return (desc.rsplit(":", 1)[-1].strip(),) if desc else ()


def profile(path: str) -> dict:
    events = read_event_log(path)
    samples = defaultdict(set)
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            for entry in entry_of(ev):
                samples[entry].add(ev["Properties"].get("bench.sample"))
    out = {}
    for entry, t in event_log_totals(events, entry_of).items():
        t = dict(t, samples=len(samples[entry]))
        t["shuffle_mb"] = t.get("shuffle_write_mb", 0.0) + t.get("shuffle_read_mb", 0.0)
        out[entry] = {
            k: int(t.get(k, 0)) if k in COUNTS else round(t.get(k, 0.0), 3)
            for k in ("samples",) + FIELDS
        }
    return out


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(f"usage: {sys.argv[0]} <event-log>")
    # one entry a line, so two reports diff entry by entry
    rows = [f" {json.dumps(k)}: {json.dumps(v)}" for k, v in profile(sys.argv[1]).items()]
    print("{\n" + ",\n".join(rows) + "\n}")


if __name__ == "__main__":
    main()
