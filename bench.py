"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is materialized with the noop sink (full execution, no
driver-side collect cost).  Wall-clock per query, one shared
SparkSession, AQE on (session.get_spark).  `time_entries` is the one
timing loop; tools/bench_scaled.py runs the same loop at a larger SF.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from isaac_kafka_streaming_spark.queries import all_queries  # noqa: E402
from isaac_kafka_streaming_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family — scans+agg, star join, window
# top-k, enrichment join + daily rollup, sessionization, threshold
# ranks, JSON access, dedup tiers, similarity search, text analysis.
# Round 2 widened it with the text-analysis queries and dedup_simhash so
# regressions in the newest code surface in the per-round numbers.
HEADLINE = [
    "tpch_q1",
    "revenue_by_nation",
    "top_orders_per_segment",
    "daily_role_counts",
    "user_streaks",
    "threshold_achievements",
    "last_seen",
    "props_k_stats",
    "dedup_normalized",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_bruteforce",
    "token_counts",
    "text_quality",
    "lang_id",
    "tfidf_top_terms",
    "doc_fingerprints",
    "corpus_keep_list",
    "lang_source_rollup",
    "repetition_metrics",
    "dedup_embedding_srp",
    "purchase_asof_signup",
    "purchases_within_day_of_signup",
    "tpch_q18",
    "concat_chunk_plan",
    # round 4 additions
    "corpus_curation",
    "embedding_quantize",
    "dedup_incoming",
    "dedup_clusters",
    # round 5 additions: the round-4 stragglers (verdict item 6) plus
    # the real-decode media path
    "mixture_plan",
    "knn_quantized",
    "session_transcripts",
    "dedup_incoming_minhash",
    "media_png_features",
    "bpe_pair_counts",
    "epoch_shuffle",
    "soft_dedup_sample",
    "stratified_topk_sample",
    "media_wav_stats",
    "overlap_chunk_plan",
    "char_entropy",
    # round 6 additions
    "decontaminate_exact",
    "dedup_semantic",
    "dedup_clusters_lsh",
    "kmeans_centroids",
    "dedup_minhash_lsh_md5",
    "dedup_simhash_md5",
    # round 7 additions: all 30 operators registered this round
    # (previously staged; sf0.01/sf0.1 solo baselines in
    # SCALE_DESIGN.md round-6 sections) — benched = registered
    "tpch_q2",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "priority_sample",
    "temperature_mixture",
    "knn_pq",
    "cms_heavy_hitters",
    "hll_distinct_md5",
    "histogram_quantiles",
    "bloom_prefilter",
    "contained_documents",
    "corpus_report",
    "passage_scrub",
    "vocab_coverage",
    "bigram_perplexity",
    "bpe_learn",
    "bpe_tokenize_stats",
    "winnow_fingerprints",
    "source_overlap_matrix",
    "pmi_top_pairs",
    "winnow_probe_incoming",
    "feature_hash_embed",
    "user_daily_gapfill",
    "funnel_signup_purchase",
    "cohort_retention",
    # mid-round-7 additions: the incoming-probe md5 witness, the
    # SRP ANN probe witness, and BM25 retrieval scoring
    "dedup_incoming_minhash_md5",
    "knn_srp",
    "bm25_top_docs",
    # round 8 additions: the length-bucketed batching padding-waste
    # card, then the two trusted-slice selection methods
    "length_bucket_plan",
    "dsir_select",
    "nb_quality_score",
    # late-round-8 registrations that missed the r8 bench window
    "doremi_mixture",
    "prototype_prune",
    # round 9 additions: the iterative-graph tier and the NB
    # classifier's keep-budget operating card
    "pagerank_pages",
    "pagerank_personalized",
    "label_propagation",
    "selection_budget_curve",
    # round 10 addition: exact CC completing the graph family
    "page_components",
    # round 11 additions: the MMR diversity rerank and the real
    # baseline-JPEG decode + animated-GIF frame-sampling paths
    "mmr_rerank",
    "media_jpeg_features",
    "media_gif_frames",
    # round 12 additions: the real AVI/MJPEG video-container path, the
    # progressive-JPEG decode path, and the numpy-FFT spectral path
    "media_avi_frames",
    "media_pjpeg_features",
    "media_tone_spectral",
    "media_stft_bins",
    "compressed_ingest",
    "media_ljpeg_features",
    # round 13 additions: multi-doc jsonl.gz shard ingestion and the
    # per-sample G.711/float audio codec round-trip
    "jsonl_shard_ingest",
    "media_codec_roundtrip",
    # round 14 additions: the WARC record-framed shard container and
    # the end-to-end ingest->gate->mixture composition
    "warc_shard_ingest",
    "curation_pipeline",
    # round 15 additions: the per-sample IMA-ADPCM roundtrip and the
    # WARC-framed curation twin
    "media_adpcm_roundtrip",
    "warc_curation_pipeline",
]


# The driver records only the LAST 2000 characters of stdout and
# json-parses them (BENCH_r07.json came back "parsed": null once the
# per-query map outgrew that buffer).  The full per-query map goes to
# BENCH_FULL.json (committed, diffable round over round); the printed
# line keeps the headline totals plus as many per-query numbers as fit
# the buffer.
#
# Round 16 (the round-15 verdict's item 2): the printed subset used to
# be most-expensive-first, which made the set CHURN with every perf
# shift — round 15 produced 7 false "dropped" + 7 false "new" entries
# in the driver's per-query series even though all 105 queries ran.
# The printed roster is now PINNED to the 67 names round 15 printed
# (in the same order), so the driver's series is stable round over
# round; anything not on the roster (new registrations) is appended
# most-expensive-first only as budget allows, and a budget overflow
# drops from the roster's deterministic tail instead of reshuffling
# the whole set.
TAIL_BUDGET = 1800

PRINT_ROSTER = [
    "tpch_q1", "revenue_by_nation", "top_orders_per_segment",
    "daily_role_counts", "user_streaks", "threshold_achievements",
    "last_seen", "props_k_stats", "dedup_normalized",
    "dedup_minhash_lsh", "knn_bruteforce", "token_counts",
    "text_quality", "pagerank_pages", "pagerank_personalized",
    "knn_pq", "page_components", "label_propagation",
    "kmeans_centroids", "dedup_clusters", "dedup_clusters_lsh",
    "dedup_embedding_srp", "dedup_simhash", "decontaminate_exact",
    "dedup_minhash_lsh_md5", "contained_documents", "tpch_q2",
    "winnow_probe_incoming", "bpe_tokenize_stats", "corpus_curation",
    "knn_srp", "dedup_simhash_md5", "vocab_coverage", "mmr_rerank",
    "knn_quantized", "dsir_select", "source_overlap_matrix",
    "passage_scrub", "dedup_incoming_minhash", "pmi_top_pairs",
    "media_stft_bins", "bigram_perplexity", "tpch_q18", "tpch_q8",
    "dedup_incoming_minhash_md5", "nb_quality_score", "doremi_mixture",
    "media_adpcm_roundtrip", "tpch_q21", "hll_distinct_md5",
    "media_avi_frames", "media_pjpeg_features", "tpch_q12",
    "media_gif_frames", "media_jpeg_features", "media_tone_spectral",
    "tfidf_top_terms", "tpch_q9", "tpch_q11", "media_ljpeg_features",
    "mixture_plan", "media_codec_roundtrip", "bm25_top_docs",
    "cms_heavy_hitters", "repetition_metrics", "dedup_incoming",
    "bpe_pair_counts",
]


def _compact_payload(payload: dict, timings: dict[str, float]) -> dict:
    roster = [q for q in PRINT_ROSTER if q in timings]
    extras = sorted(
        (q for q in timings if q not in set(roster)),
        key=lambda q: -timings[q],
    )
    # the printed line drops the full_results pointer, the benched
    # count and the core count (all stay in the BENCH_FULL.json
    # payload) — ~60 chars of headroom so value-width drift can't push
    # the roster tail over the budget
    payload = {
        k: v
        for k, v in payload.items()
        if k not in ("full_results", "n_queries_benched", "cpus")
    }
    keep: dict[str, float] = {}
    for q in roster + extras:
        trial = dict(payload, queries=dict(keep, **{q: timings[q]}))
        if len(json.dumps(trial, separators=(",", ":"))) > TAIL_BUDGET:
            break
        keep[q] = timings[q]
    return dict(payload, queries=keep)


def _r1_set() -> list[str]:
    return HEADLINE[:10] + ["knn_bruteforce", "token_counts", "text_quality"]


def board_fns() -> dict:
    """Every benchable entry by name: the registry plus the tiers
    retired from it, which stay benched by direct call so the perf
    series (and the round-1 subtotal vs BASELINE.md — _r1_set()
    includes the retired dedup_minhash_lsh) remains comparable."""
    from isaac_kafka_streaming_spark.queries import retired_tiers

    fns = {name: qd.fn for name, qd in all_queries().items()}
    fns.update(retired_tiers())
    return fns


def time_entries(spark, fns: dict, names: list[str], sf_dir: str) -> dict[str, float]:
    """Min wall seconds of each entry in `names`, materialized with the
    noop sink (full execution, no driver-side collect cost).

    Caveat (SCALE_DESIGN.md): the min reports the WARM floor — queries
    that .cache() internally hit plan-equality cache reuse on repeats.
    The cache is cleared between entries, not between samples.
    """
    sc = spark.sparkContext
    # settle: a preceding phase's JVM may still be tearing down and
    # stealing cores — measured 3-10x per-query spikes when timing
    # starts immediately (wall-only cost; not part of the metric)
    time.sleep(10)
    # JVM/codegen warmup on a trivial plan (not counted)
    fns["event_type_counts"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    for name in names:
        # min-of-3 with a stability extension: ambient container load
        # can still blow 2 of 3 samples on a short query, leaving a min
        # that swings ±10-48% between otherwise identical runs.  Keep
        # sampling (up to 5) until the two FASTEST samples agree within
        # 5% (+20 ms floor for sub-100 ms queries) — then the reported
        # min is reproducible run-over-run.
        # The job description names the entry and the `bench.sample`
        # local property the sample, so an event log of the run
        # attributes jobs to entries (tools/profile_log.py); both are
        # display-only, the timed work is unchanged.
        sc.setJobDescription(f"bench: {name}")
        runs: list[float] = []
        for i in range(5):
            sc.setLocalProperty("bench.sample", str(i))
            t0 = time.perf_counter()
            fns[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
            if i >= 2:
                lo, lo2 = sorted(runs)[:2]
                if lo2 - lo <= 0.05 * lo + 0.02:
                    break
        timings[name] = round(min(runs), 3)
        sc.setLocalProperty("bench.sample", None)
        sc.setJobDescription(None)
        spark.catalog.clearCache()
        # between-query GC (uncounted): heap pressure from earlier
        # queries otherwise lands as a collection pause inside a later
        # query's measured window
        spark._jvm.System.gc()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("isaac-bench")
    timings = time_entries(spark, board_fns(), HEADLINE, sf_dir)

    total = round(sum(timings.values()), 3)
    # the round-1 headline set as a subtotal, so round-over-round totals
    # stay comparable after the set was widened in round 2
    r1_subtotal = round(sum(timings[q] for q in _r1_set() if q in timings), 3)
    payload = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "r1_headline_subtotal_sec": r1_subtotal,
        "n_queries_benched": len(timings),
        "full_results": "BENCH_FULL.json",
        # the effective SPARK_GRAFT_CPUS: local[N] of the running session
        "cpus": spark.sparkContext.defaultParallelism,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(_compact_payload(payload, timings),
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
