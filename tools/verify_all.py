"""One-shot verification gate: everything the grading driver and the
judge check, in one command, with one summary line per gate.

    cd /tmp && python /root/repo/tools/verify_all.py [sf_dir]

Runs, in order (each in its own process):
  1. registry-shape tests (driver window rule — pure checks)
  2. entry smoke: __spark_entry__.entry() on a BARE session from a
     neutral cwd — the driver's t1 check verbatim (catches conf or
     path dependencies the tuned test session would mask)
  3. live-registry oracle parity sweep (driver-exact compare)
  4. whole-surface plan lint (cartesian / Python-eval / global-sort)
  5. PLANS.md current: tools/gen_plans.py rerun at the core count the
     file records must leave its bytes unchanged (compared with the
     file as it was before the rerun, staged or not)

Exit 0 iff every gate is clean.  The heavy pytest suite and bench are
NOT included — run those separately (`python -m pytest tests/ -x -q`,
`python bench.py`); this tool is the fast driver-shaped gate for
"did my operator change break anything graded".
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    results: list[tuple[str, bool, str]] = []

    def run(name: str, cmd: list[str], ok_marker: str, env=None) -> None:
        p = subprocess.run(
            cmd, capture_output=True, text=True, cwd="/tmp", env=env
        )
        out = (p.stdout or "") + (p.stderr or "")
        ok = p.returncode == 0 and ok_marker in out
        lines = [ln.strip() for ln in out.strip().splitlines() if ln.strip()]
        marked = [ln for ln in lines if ok_marker in ln]
        results.append(
            (name, ok, marked[-1] if marked else (lines[-1] if lines else ""))
        )

    run(
        "registry-shape",
        [sys.executable, "-m", "pytest", str(REPO / "tests/test_registry.py"),
         "-q"],
        " passed",
    )
    entry_smoke = f"""
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {str(REPO / '__spark_entry__.py')!r})
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
n = len(mod.entry(spark).collect())
qs, osql = mod.queries(), mod.oracle_sql()
assert n >= 0 and len(qs) >= len(osql) > 0
print(f"entry ok: {{n}} rows, {{len(qs)}} queries, {{len(osql)}} oracles")
"""
    run("entry-smoke", [sys.executable, "-c", entry_smoke], "entry ok")
    run(
        "live-parity",
        [sys.executable, str(REPO / "tools/parity_sweep.py"), sf_dir],
        " pass",
    )
    run(
        "plan-lint",
        [sys.executable, str(REPO / "tools/plan_lint.py")],
        "plans clean",
    )
    plans = REPO / "PLANS.md"
    before = plans.read_bytes()
    cpus = re.search(rb"SPARK_GRAFT_CPUS=(\d+)", before).group(1).decode()
    plans_env = {**os.environ, "SPARK_GRAFT_CPUS": cpus}
    plans_env.pop("SPARK_GRAFT_SF_DIR", None)  # the plans are of sf0.1
    run(
        "plans-current",
        [sys.executable, str(REPO / "tools/gen_plans.py")],
        "wrote PLANS.md",
        env=plans_env,
    )
    name, ok, _tail = results[-1]
    if ok:
        same = plans.read_bytes() == before
        state = "current" if same else "changed by regeneration"
        results[-1] = (name, same, f"PLANS.md {state} at {cpus} cpus")

    width = max(len(n) for n, _, _ in results)
    all_ok = True
    for name, ok, tail in results:
        all_ok &= ok
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {tail}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
