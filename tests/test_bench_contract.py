"""bench.py output-contract pins (no Spark needed).

The grading driver captures only the LAST 2000 characters of bench
stdout and json-parses them; BENCH_r07.json came back unparseable once
the per-query map outgrew that buffer.  These tests pin the round-8
fix: the printed line always fits, always parses, always leads with
the round-1 baseline subset, and the full map goes to BENCH_FULL.json.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

DRIVER_TAIL_CHARS = 2000


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", REPO / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _payload(bench, timings):
    return {
        "metric": "headline_queries_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "r1_headline_subtotal_sec": 6.7,
        "n_queries_benched": len(timings),
        "full_results": "BENCH_FULL.json",
        "cpus": 8,
    }


def test_compact_line_fits_driver_tail_at_any_scale():
    """Even at 4x today's query count with worst-case long names, the
    printed line must stay inside the driver's tail buffer and remain
    valid JSON with the headline totals intact."""
    bench = _bench()
    timings = {q: 123.456 for q in bench.HEADLINE}
    timings.update(
        {f"future_query_with_a_rather_long_name_{i:03d}": 99.999
         for i in range(3 * len(bench.HEADLINE))}
    )
    compact = bench._compact_payload(_payload(bench, timings), timings)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= DRIVER_TAIL_CHARS
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall_sec"
    assert parsed["r1_headline_subtotal_sec"] == 6.7
    # the benched count, full_results pointer and core count live in
    # BENCH_FULL.json only (freed from the printed line for roster room)
    assert "n_queries_benched" not in parsed
    assert "full_results" not in parsed
    assert "cpus" not in parsed


def test_compact_line_keeps_r1_baseline_subset_first():
    """The round-1 headline subset (the BASELINE.md comparable) must
    survive compaction ahead of everything else; the remaining slots go
    to the most expensive queries (the regression-relevant ones)."""
    bench = _bench()
    timings = {q: 0.1 for q in bench.HEADLINE}
    timings["dedup_clusters"] = 9.9  # expensive -> must be kept
    compact = bench._compact_payload(_payload(bench, timings), timings)
    for q in bench._r1_set():
        assert q in compact["queries"], f"r1 query {q} compacted away"
    assert "dedup_clusters" in compact["queries"]


def test_print_roster_is_stable_and_fits():
    """Round-16 (r15 verdict item 2): the printed per-query subset is
    PINNED to the roster round 15 printed, so the driver's per-query
    series stops churning with every perf shift.  At realistic value
    magnitudes the whole roster must fit the tail budget, in roster
    order, with extras (new registrations) only after it."""
    bench = _bench()
    # roster is a subset of the benched set, no duplicates
    assert len(bench.PRINT_ROSTER) == len(set(bench.PRINT_ROSTER))
    assert set(bench.PRINT_ROSTER) <= set(bench.HEADLINE)
    # realistic stress: the r15 driver board's values DOUBLED (a full
    # 2x across-the-board regression — several queries cross the
    # 10-second digit) must still print the whole roster
    r15 = json.load(open(REPO / "BENCH_r15.json"))["parsed"]["queries"]
    timings = {q: round(2 * r15.get(q, 0.9), 3) for q in bench.HEADLINE}
    compact = bench._compact_payload(_payload(bench, timings), timings)
    for q in bench.PRINT_ROSTER:
        assert q in compact["queries"], f"roster query {q} compacted away"
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= DRIVER_TAIL_CHARS
    # roster leads the printed map in pinned order
    printed = list(compact["queries"])
    assert printed[: len(bench.PRINT_ROSTER)] == bench.PRINT_ROSTER


def test_headline_names_resolve_in_registry_or_retired_tiers():
    """Every benched name must resolve to a callable — registry entry
    or retired production tier — so bench.py can't silently KeyError
    after a future retirement."""
    from isaac_kafka_streaming_spark.queries import all_queries, retired_tiers

    bench = _bench()
    known = set(all_queries()) | set(retired_tiers())
    missing = [q for q in bench.HEADLINE if q not in known]
    assert not missing, missing
