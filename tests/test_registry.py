"""Registry shape and the driver window rule.

The grading driver hash-checks only the first 50 entries of
``all_queries()`` per round.  ``queries._DRIVER_CHECK_ORDER`` is the 50
stalest entries by last green driver row (tools/plan_window.py), computed
over the CORRECTNESS_r*.json history up to the recorded round
``_DRIVER_WINDOW_HISTORY``.  Pinning the history round means a later
CORRECTNESS file can never turn these tests red; it only makes the next
re-rotation due.  Freshness is reported, not asserted.

No SparkSession needed — these are pure registry-shape checks.
"""

from __future__ import annotations

import re
from pathlib import Path

from isaac_kafka_streaming_spark.queries import (
    _DRIVER_CHECK_ORDER,
    _DRIVER_WINDOW_HISTORY,
    all_queries,
)
from tools.plan_window import (
    WINDOW,
    freshness,
    is_green,
    load_history,
    stalest_window,
)

REPO_ROOT = Path(__file__).resolve().parent.parent

# the 30 entries staged during round 6 and registered at the start of
# round 7 (COVERAGE.md "Registered in round 7" table)
ROUND7_REGISTERED = [
    "tpch_q8", "tpch_q9", "tpch_q19", "tpch_q12", "tpch_q2",
    "tpch_q11", "tpch_q20", "tpch_q21", "hll_distinct_md5",
    "histogram_quantiles", "user_daily_gapfill",
    "funnel_signup_purchase", "cohort_retention", "contained_documents",
    "bloom_prefilter", "passage_scrub", "source_overlap_matrix",
    "priority_sample", "temperature_mixture", "knn_pq",
    "bigram_perplexity", "cms_heavy_hitters", "corpus_report",
    "vocab_coverage", "bpe_learn", "bpe_tokenize_stats",
    "winnow_fingerprints", "pmi_top_pairs", "winnow_probe_incoming",
    "feature_hash_embed",
]


def _window_history() -> dict[int, dict]:
    hist = load_history(upto=_DRIVER_WINDOW_HISTORY)
    assert _DRIVER_WINDOW_HISTORY in hist, (
        f"CORRECTNESS_r{_DRIVER_WINDOW_HISTORY:02d}.json missing"
    )
    return hist


def test_window_is_subset_no_dupes():
    reg = all_queries()
    assert len(_DRIVER_CHECK_ORDER) == WINDOW
    assert len(set(_DRIVER_CHECK_ORDER)) == len(_DRIVER_CHECK_ORDER), "dupes in window"
    missing = [n for n in _DRIVER_CHECK_ORDER if n not in reg]
    assert not missing, f"window names not in registry: {missing}"
    # all_queries() must actually front-load the window in order
    assert list(reg)[:WINDOW] == _DRIVER_CHECK_ORDER


def test_window_is_stalest():
    """The window is exactly the stalest-50 rule over the recorded
    history."""
    hist = _window_history()
    names = list(all_queries())
    assert _DRIVER_CHECK_ORDER == stalest_window(names, hist), (
        "re-run `python tools/plan_window.py` and paste its block into "
        "queries.py"
    )
    print(
        f"freshness: {freshness(names, hist)} rounds "
        f"(history through r{_DRIVER_WINDOW_HISTORY})"
    )


def test_failures_rotate_back_in():
    """Any entry with a red row in the recorded round must be in-window."""
    latest = _window_history()[_DRIVER_WINDOW_HISTORY]
    window = set(_DRIVER_CHECK_ORDER)
    red = [name for name, row in latest.items() if not is_green(row)]
    out = [n for n in red if n not in window]
    assert not out, f"failed-last-round entries rotated out of the window: {out}"


def test_round7_registration_complete():
    """All 30 round-6-staged entries are live and oracle-backed."""
    live = all_queries()
    assert len(ROUND7_REGISTERED) == 30
    for name in ROUND7_REGISTERED:
        assert name in live, f"{name} was staged but never registered"
        assert live[name].sql is not None, name


def test_registered_names_cover_coverage_doc():
    """COVERAGE.md's "Registered in round 7" table and
    ROUND7_REGISTERED must list the same operators (the judge reads the
    doc; the registry runs the code)."""
    text = (REPO_ROOT / "COVERAGE.md").read_text()
    section = text.split("## Registered in round 7", 1)[1]
    # bound at the next section heading so later sections (e.g.
    # "Retired in round 8") can't leak table rows into this check
    section = section.split("\n## ", 1)[0]
    doc_names = set(re.findall(r"^\| `([a-z0-9_]+)` \|", section, re.M))
    # the doc table lists the public callable for the mixture entry
    expected_doc = (set(ROUND7_REGISTERED) - {"temperature_mixture"}) | {
        "temperature_mixture_plan"
    }
    assert doc_names == expected_doc, sorted(doc_names ^ expected_doc)


# Spellings of the two engine-neutral hash rules, matched after all
# whitespace is removed (so a chain split across lines still counts).
_ONE_SPELLING = {
    "md5 hex-slice -> long": "F.conv(F.substring(",
    "normalized-text sha256": "F.trim(F.regexp_replace(F.lower(",
}


def test_hash_rules_spelled_once():
    """The md5 hex-slice and normalized-text hash rules are written only
    in functions/scalars.py (hex_long, normalized_text_hash); every
    other package module calls those helpers, so the copies the DuckDB
    oracles replay cannot drift apart."""
    pkg = REPO_ROOT / "isaac_kafka_streaming_spark"
    found = {rule: [] for rule in _ONE_SPELLING}
    for path in sorted(pkg.rglob("*.py")):
        src = re.sub(r"\s+", "", path.read_text())
        for rule, spelling in _ONE_SPELLING.items():
            if spelling in src:
                found[rule].append(path.relative_to(pkg).as_posix())
    assert found == {rule: ["functions/scalars.py"] for rule in _ONE_SPELLING}
