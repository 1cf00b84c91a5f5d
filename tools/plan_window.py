"""The driver window rule: which 50 registry entries go first in
``all_queries()``.

The grading driver hash-checks only the first 50 entries of the
registry each round and records the result in ``CORRECTNESS_r{N}.json``.
The window is the 50 stalest entries.  An entry's staleness is the round
of its last green driver row; an entry that was never green, or whose
newest row is red, counts as -1.  Ties break by name.  The rule can
always be met, whatever the history holds.

Usage:
    python tools/plan_window.py    # paste-ready block for queries.py

It prints ``_DRIVER_WINDOW_HISTORY`` and ``_DRIVER_CHECK_ORDER``
computed over every CORRECTNESS file present, and reports freshness (the
largest number of rounds since any entry's last green row) on stderr.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

WINDOW = 50


def is_green(row: dict) -> bool:
    """A clean driver row: oracle triple-match, or the declared rows-only
    contract (``err == "no_oracle"`` with a row count recorded).
    Affirmative signals required — an all-None row with no err (a query
    that never actually executed) must NOT count as green."""
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return (
        not row.get("err")
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def load_history(upto: int | None = None) -> dict[int, dict]:
    """round number -> parsed CORRECTNESS_r{N}.json, rounds <= ``upto``."""
    hist = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m and (upto is None or int(m.group(1)) <= upto):
            hist[int(m.group(1))] = json.loads(p.read_text())
    return hist


def staleness(history: dict[int, dict]) -> dict[str, int]:
    """name -> round of its last green row, or -1 if its newest row is
    red.  Names without any row are absent (the caller's -1)."""
    stale: dict[str, int] = {}
    for rnd in sorted(history):
        for name, row in history[rnd].items():
            stale[name] = rnd if is_green(row) else -1
    return stale


def stalest_window(
    names: list[str], history: dict[int, dict], n: int = WINDOW
) -> list[str]:
    """The ``n`` stalest of ``names``, stalest first, ties by name."""
    stale = staleness(history)
    return sorted(names, key=lambda name: (stale.get(name, -1), name))[:n]


def freshness(names: list[str], history: dict[int, dict]) -> int:
    """Rounds since the stalest entry's last green row (an entry never
    green counts from round 0)."""
    stale = staleness(history)
    latest = max(history, default=0)
    return max(latest - max(stale.get(name, -1), 0) for name in names)


def main() -> int:
    sys.path.insert(0, str(REPO))
    from isaac_kafka_streaming_spark.queries import all_queries

    hist = load_history()
    if not hist:
        print("no CORRECTNESS_r*.json history found", file=sys.stderr)
        return 1
    names = list(all_queries())
    print(f"_DRIVER_WINDOW_HISTORY = {max(hist)}")
    print("_DRIVER_CHECK_ORDER = [")
    for name in stalest_window(names, hist):
        print(f'    "{name}",')
    print("]")
    print(
        f"freshness: {freshness(names, hist)} rounds "
        f"({len(names)} entries, history through r{max(hist)})",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
