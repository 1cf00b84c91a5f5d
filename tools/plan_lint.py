"""Plan lint: sweep EVERY registered query's physical plan for the
scale anti-patterns the spot guards in tests/test_plans.py pin for
individual queries — a whole-surface audit instead of a sampled one.

Checked per plan (executed plan + formatted explain):
  * CartesianProduct — an unconstrained pair space; always a bug here
    unless the query is on the declared allow-list (tiny broadcast
    scalar frames).
  * BatchEvalPython / ArrowEvalPython row-UDF nodes on oracle-backed
    relational paths (mapInPandas media stages are fine — they ARE the
    declared Python boundary).
  * rangepartitioning — a global sort; only expected in queries that
    deliberately produce a total order (driver-side `.limit` top-k is
    TakeOrdered and does not trigger it).

Usage: cd /tmp && python /root/repo/tools/plan_lint.py [sf_dir]
Exit 0 iff no violations outside the allow-lists.  Run it when adding
an operator: a new name appearing in the report is either a real plan
regression or a conscious decision to add to an allow-list WITH a
reason.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

# Queries allowed a BroadcastNestedLoopJoin/CartesianProduct because the
# non-equi side is a broadcast scalar/tiny frame (1-64 rows), each
# adjudicated in the round-5 verdict or a plan guard:
CARTESIAN_OK = {
    "props_k_stats",  # 1-row threshold scalar crossJoin
    "tpch_q22",  # 1-row avg-balance scalar
    "tpch_q11",  # 1-row (total, n_parts) threshold scalar
    "tpch_q20",  # 1-row global-share threshold scalar
    # (mixture_plan / temperature_mixture dropped round-15: their
    # scalar chains are unpartitioned window aggregates now — no
    # broadcast nested loop remains to allow)
    "soft_dedup_sample",  # 1-row scalar
    "corpus_keep_list",  # 1-row quality threshold frame
    "corpus_curation",  # composes keep-list's scalar
    "knn_quantized",  # declared broadcast brute-force-over-codes tier
    "knn_bruteforce",  # broadcast queries x corpus IS the baseline tier
    "mmr_rerank",  # composes knn_bruteforce's broadcast baseline shortlist
    "kmeans_centroids",  # broadcast centroid assignment pass
    "embedding_centroids",
    "dedup_semantic",  # broadcast centroid pass (plan-guarded)
    "prototype_prune",  # same broadcast centroid assignment pass
    "knn_ivf",  # broadcast centroid pass
    "knn_lsh",  # broadcast hyperplane constants
    "bigram_perplexity",  # broadcast 1-row vocab scalar
    "char_entropy",  # broadcast 1-row alphabet scalar
    "tfidf_top_terms",  # broadcast 1-row n_docs scalar (text.py:199)
    "vocab_coverage",  # broadcast 1-row total-occurrences scalar
    "bpe_learn",  # three 1-row top-pair scalars (one per merge round)
    "bpe_tokenize_stats",  # composes bpe_learn's scalar tops
    "pmi_top_pairs",  # broadcast 1-row corpus-token-count scalar
    # (funnel_signup_purchase dropped round-15: the step counts fused
    # into one union aggregate — no scalar crossJoins remain)
    "bm25_top_docs",  # broadcast 1-row (n_docs, avgdl) stats scalar
    "nb_quality_score",  # two 1-row scalars (class totals, priors)
    "dsir_select",  # broadcast 1-row (tt, tr) totals scalar
    "doremi_mixture",  # broadcast 1-row (n_ref, v) + totals scalars
    "pagerank_pages",  # broadcast 1-row dangling-mass scalar per round
    "pagerank_personalized",  # same 1-row dangling scalar per round
    "selection_budget_curve",  # broadcast 10-row threshold frame
    #   (non-equi >= join) + 1-row positives-total scalar
    # (curation_pipeline / warc_curation_pipeline dropped round-15:
    # the shared _curate_and_mix scalar chain is window aggregates
    # now; tests/test_plans.py pins BroadcastNestedLoopJoin ABSENT)
}
# Queries whose Python eval nodes are the DECLARED Arrow boundary:
PYTHON_OK = {
    "media_features",
    "media_frame_stats",
    "media_png_features",
    "media_jpeg_features",
    "media_gif_frames",
    "media_wav_stats",
    "knn_lsh",  # vectorized numpy key pandas_udf (adjudicated r5)
    "mmr_rerank",  # per-query greedy over a <=shortlist frame (r10/r11)
}
# Queries that deliberately produce a global order:
RANGE_OK = {
    "value_quantiles",  # exact percentile sorts per group internally
}
# Sort keys allowed to feed an Exchange SinglePartition (the round-11
# single-task-sort detector): a sort on __pid is the offsets window of
# graph._ranked_total_order, whose frame is the per-partition COUNTS
# (#shuffle-partitions rows, never data-sized).  Every other
# single-partition sort is a latent 100 TB bottleneck unless the query
# is in SINGLETON_SORT_OK with a bounded-frame reason.
SINGLETON_SORT_KEYS_OK = ("__pid",)
SINGLETON_SORT_OK: set = set()  # populated below per adjudication


def _singleton_sorts(plan: str) -> list:
    """Sort-key lists of every Sort whose input is an Exchange
    SinglePartition — the single-task global sort a no-partition
    Window.orderBy silently plans (rangepartitioning is a different
    node and is caught separately).  Matches the executed-plan
    toString layout: the Exchange prints directly below its Sort."""
    import re

    return [
        m.group(1)
        for m in re.finditer(
            r"Sort \[([^\]]*)\][^\n]*\n[^\n]*Exchange SinglePartition",
            plan,
        )
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    from isaac_kafka_streaming_spark.queries import all_queries

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-lint")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from isaac_kafka_streaming_spark.queries import retired_tiers

    entries = {n: qd.fn for n, qd in all_queries().items()}
    # round-8-retired production tiers stay in the lint sweep
    entries.update(retired_tiers())
    violations: list[str] = []
    for name, fn in entries.items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: plan build raised {e}")
            continue
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in CARTESIAN_OK:
            violations.append(f"{name}: BroadcastNestedLoopJoin")
        if (
            ("BatchEvalPython" in plan or "ArrowEvalPython" in plan)
            and name not in PYTHON_OK
        ):
            violations.append(f"{name}: row-level Python eval node")
        if "rangepartitioning" in plan and name not in RANGE_OK:
            violations.append(f"{name}: rangepartitioning (global sort)")
        if name not in SINGLETON_SORT_OK:
            for keys in _singleton_sorts(plan):
                if not any(k in keys for k in SINGLETON_SORT_KEYS_OK):
                    violations.append(
                        f"{name}: single-partition sort on [{keys}]"
                    )

    for v in violations:
        print(f"VIOLATION {v}")
    bad_plans = {v.split(":", 1)[0] for v in violations}
    print(f"\n{len(entries) - len(bad_plans)}/{len(entries)} plans clean")
    spark.stop()
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
