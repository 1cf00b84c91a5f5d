"""Regenerate PLANS.md — formatted physical plans of the headline
queries at sf0.1, each annotated with the property that matters at
scale (the same properties tests/test_plans.py asserts).

Usage: SPARK_GRAFT_CPUS=8 python tools/gen_plans.py

Shuffle widths in the plans follow the session's core count, so the
header records it; tools/verify_all.py regenerates at the recorded
count and fails if PLANS.md changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from isaac_kafka_streaming_spark.queries import all_queries  # noqa: E402
from isaac_kafka_streaming_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PICKS = {
    "tpch_q6": (
        "Pure scan+agg: every predicate must reach the parquet scan "
        "(PushedFilters), read schema pruned to 4 columns."
    ),
    "tpch_q5": (
        "6-way star join: big tables sort-merge/shuffle-hash on keys, "
        "region+nation broadcast; AQE re-plans at runtime."
    ),
    "enriched_events": (
        "J1 enrichment: dimension broadcast so the fact side never shuffles."
    ),
    "daily_role_counts": (
        "O4: broadcast join then two-phase hash aggregate "
        "(partial_count before the exchange)."
    ),
    "user_streaks": (
        "O5 gap-and-island: lag + running sum + final agg reuse ONE "
        "hashpartitioning(user_id) exchange."
    ),
    "dedup_minhash_lsh": (
        "LSH: signature agg is partial-aggregated map-side; band self-join "
        "shuffles only (band, band_hash) keys."
    ),
    "knn_bruteforce": (
        "Top-k: query side broadcast, corpus scanned once, rank window "
        "partitioned per query."
    ),
    "dedup_ngram_jaccard_capped": (
        "Hot-shingle cap: the df>cutoff list is broadcast into a "
        "left-anti join BEFORE the inverted-index self-join, so no key "
        "can fan out past cutoff^2."
    ),
    "dedup_embedding_srp": (
        "SRP sub-blocking: join keys are (label, sign-bucket); the "
        "width-guard counts broadcast back onto the scan, never a "
        "second pass."
    ),
    "repetition_metrics": (
        "Per-doc modes without windows: explode -> two chained hash "
        "aggregates on doc_id-prefixed keys, both map-side "
        "combinable."
    ),
    "purchase_asof_signup": (
        "As-of join rewrite: union of tagged sides, ONE window sort per "
        "user_id, last(ignorenulls) struct carry — no range-duplicated "
        "join."
    ),
    "purchases_within_day_of_signup": (
        "Banded range join: equi-join on (user_id, time chunk) with the "
        "interval side exploded to 2 chunks — no BroadcastNestedLoop."
    ),
    "tpch_q18": (
        "Aggregated semi-join: the lineitem sum is computed ONCE "
        "(partial agg map-side) and reused as qualifier AND output — "
        "one scan of the big table, joins only on the qualifying "
        "minority."
    ),
    "concat_chunk_plan": (
        "Concat-and-chunk packing: ONE exchange hash-partitioned by "
        "shard feeds the running-sum window; chunk ids are pure "
        "projections on top — no global sort, no second shuffle."
    ),
    "sketch_summaries": (
        "Sketch tier: HLL++/GK aggregates are partial-aggregated "
        "map-side like any sum — fixed-size state per group, no "
        "distinct-expand, no per-group sort."
    ),
    "corpus_curation": (
        "Full curation gate: quality/lang tiers are pure projections, "
        "repetition is two two-level aggregates, dedup-canonical one "
        "window — all re-joined on doc_id (exchange-free on a "
        "doc_id-bucketed layout)."
    ),
    "embedding_quantize": (
        "int8 quantization: single scan, zero shuffles — every "
        "expression (max-abs, codes, MSE fold) is a map-side "
        "higher-order function, no UDF."
    ),
    "dedup_incoming": (
        "Incremental dedup: existing corpus collapses to one row per "
        "hash (partial agg map-side) before ONE equi-join against the "
        "incoming slice; only the small incoming side reshuffles on a "
        "hash-bucketed corpus layout."
    ),
    "knn_quantized": (
        "int8-code search: quantization is a pure projection, scoring "
        "is broadcast-queries over one corpus scan of the 4x-smaller "
        "codes — same shape as knn_bruteforce at a quarter the scan "
        "bandwidth."
    ),
    "dedup_incoming_minhash": (
        "Incremental near-dup: incoming band keys equi-join the "
        "existing corpus's band keys (incoming x existing only — no "
        "self-pair space on either side), then Jaccard verification "
        "joins shingles back on the candidate minority."
    ),
    # round 5 additions
    "media_png_features": (
        "REAL PNG decode via Arrow mapInPandas: one ArrowEvalPython-"
        "free plan outside the two mapInPandas stages (encode, decode); "
        "the scan reads only doc_id+text — blob bytes exist solely "
        "inside the pipelined Python stages, never in a shuffle."
    ),
    "epoch_shuffle": (
        "Per-epoch training order: ONE hash exchange on shard, then "
        "window sort within shards — no global sort, no singleton "
        "partition; the md5 order key is a map-side projection."
    ),
    "bpe_pair_counts": (
        "BPE merge-step: zip_with over shifted slices stays inside "
        "WholeStageCodegen; one partial_count-backed HashAggregate "
        "before the exchange (map-side combine), HAVING prunes the "
        "hapax tail after the final agg."
    ),
    "knn_lsh": (
        "Multiprobe hyperplane LSH: query-side keys explode (n_bits+1)x "
        "but the corpus side of the bucket equi-join — the 100 TB "
        "side — is one scan + one explode, and the join is broadcast "
        "on the tiny query side."
    ),
    "soft_dedup_sample": (
        "Soft dedup: one shuffle (group count over the normalized "
        "hash); md5 keep decision is a map-side projection — no "
        "canonical-table join, no second pass."
    ),
    "stratified_topk_sample": (
        "Exact-k per stratum: one shuffle on the stratum key, window "
        "rank bounded by stratum size; no global sort."
    ),
    "tpch_q13": (
        "Zero-preserving left join: the priority filter lives in the "
        "join condition (LeftOuter survives), then count-of-counts "
        "double aggregation, both map-side combinable."
    ),
    "tpch_q15": (
        "Max-of-aggregate selection: ONE lineitem scan — the scalar "
        "max is a window over the supplier-level aggregate, not a "
        "self-join that would recompute it."
    ),
    "tpch_q17": (
        "Correlated avg decorrelated into an aggregate join: the "
        "per-part average and the brand part list both broadcast onto "
        "one lineitem pass."
    ),
    "decontaminate_exact": (
        "Rarest-anchor containment: every join is an equi-join "
        "(shingle / doc_id keys); no nested-loop or cartesian node — "
        "the naive all-pairs LIKE scan never appears."
    ),
    "dedup_semantic": (
        "SemDeDup: one broadcast nested-loop for the tiny centroid "
        "side (assignment argmax), then the pair join stays a cell_id "
        "equi-join — quadratic bounded by cell size."
    ),
    "kmeans_centroids": (
        "Lloyd iteration: per round the k centroids pack into ONE "
        "broadcast array row and assignment is a map-side array_max "
        "fold — no exchange carries the corpus (round 15); mean "
        "update is a two-phase hash aggregate on (cell_id, pos); "
        "localCheckpoint keeps lineage flat (plan shown is the final "
        "projection)."
    ),
    # round 6 staged additions (registered round 7)
    "tpch_q8": (
        "Market-share conditional aggregate: the share and the "
        "denominator ride ONE partial sum; every dim except orders "
        "broadcasts, the part filter prunes the fact via the broadcast "
        "build side."
    ),
    "tpch_q19": (
        "Disjunctive brackets: Catalyst pushes each table's own "
        "disjunct to its scan (brand/size -> part, quantity -> "
        "lineitem) and keeps the partkey equi-join — no nested-loop "
        "fallback."
    ),
    "tpch_q12": (
        "Late-shipment audit: cross-table date arithmetic stays a "
        "post-join filter on an orderkey equi-join; the dual CASE "
        "counts ride one partial aggregate."
    ),
    "priority_sample": (
        "DLT priority sampling: ONE shuffle on the stratum key shared "
        "by the rank and threshold windows; the w/u priority key is a "
        "map-side projection with engine-exact arithmetic."
    ),
    "knn_pq": (
        "PQ ANN: codebooks broadcast in every Lloyd round and in the "
        "ADC table build; the cached subvector frame feeds training, "
        "encoding and queries; shortlist re-rank joins float vectors "
        "for |shortlist| rows per query only."
    ),
    "cms_heavy_hitters": (
        "Count-Min witness: sketch built FROM the vocab aggregate "
        "(one tokenization scan), shuffled sketch state capped at d*w "
        "counters, probe joins the tiny sketch via broadcast."
    ),
    "hll_distinct_md5": (
        "HLL witness: register maxes partial-aggregate map-side "
        "(<= 64 rows per group), the harmonic fold and literal-table "
        "LC correction are projections over the 64-row register table."
    ),
    "histogram_quantiles": (
        "Bounded-state quantiles: stats pass broadcasts per-group "
        "lo/width, bin counts partial-aggregate map-side (<= 64 "
        "counters per group), cumulative sums are LONG window adds."
    ),
    "bloom_prefilter": (
        "Bloom prefilter: the set-bit table is a DISTINCT aggregation "
        "bounded by m_bits and broadcasts into the probe join; the "
        "exact verdict join runs only on the incoming slice."
    ),
    "corpus_report": (
        "Dataset card: two documents scans (per_doc + by_hash rollup "
        "branches; round 8 inlined the quality gate, dropping the "
        "third scan + doc_id self-join), joined per (lang, source) "
        "via broadcast; distinct-text and canonical-keep are the "
        "two-level form (no COUNT DISTINCT expand)."
    ),
    "bm25_top_docs": (
        "BM25 ranking: one token explode feeds tf/dl/df, all "
        "partial-aggregated; the scoring join touches only the "
        "query-term postings (queries + corpus scalars broadcast); "
        "per-term top-k windows over those postings alone."
    ),
    "knn_srp": (
        "SRP ANN witness: sign buckets are a map-side fold, the probe "
        "is a broadcast equi-join on bucket, rescoring exact — the "
        "corpus side is never multiplied."
    ),
    "nb_quality_score": (
        "Closed-form NB classifier: two documents scans (token "
        "explode -> cached tf histogram; cached narrow head frame), "
        "class counts and vocab scalar derive from tf; scoring is the "
        "vocab-keyed weights equi-join plus 1-row broadcast scalars."
    ),
    "dsir_select": (
        "DSIR importance resampling: one feature explode collapsed "
        "into the cached per-(doc, bucket) histogram, <=B-row bucket "
        "model broadcast into the scoring join, selection is "
        "TakeOrdered (per-partition heads, no global sort)."
    ),
    "doremi_mixture": (
        "DoReMi domain reweighting: one token explode collapsed into "
        "the cached (source, word) histogram; reference LM, vocab "
        "scalar and both entropy sums derive from it (the dw-ref join "
        "keys on word, vocab-bounded); the scalar chain rides the "
        "cached |domains|-row frame."
    ),
    # round-6-proper staged additions (registered round 7)
    "tpch_q2": (
        "Correlated-min supplier: the lineitem offers aggregate is the "
        "only big exchange; part + region-restricted supplier dims "
        "broadcast BEFORE the per-part row_number window, pruning its "
        "input."
    ),
    "tpch_q21": (
        "EXISTS/NOT-EXISTS rewrite: per-(order, supplier) late flags "
        "and per-order counts reuse ONE orderkey exchange; final "
        "top-k is TakeOrdered, no global sort."
    ),
    "passage_scrub": (
        "Repeated-span scrub: span document-frequency is the "
        "two-level form; the hot-span list broadcasts into the strike "
        "join; reassembly groups once on doc_id."
    ),
    "vocab_coverage": (
        "Tokenizer-fit: the ONLY windowed frame is the vocab-bounded "
        "frequency table (deliberate bounded global sort); the corpus "
        "stages are one explode + one map-side count + a broadcast "
        "vocab left-join."
    ),
    "bpe_learn": (
        "Relational BPE trainer: corpus touched once (explode + word "
        "count); each merge round is vocab-bounded with a 1-row "
        "max(struct) top pair broadcast into the greedy fold rewrite."
    ),
    "bpe_tokenize_stats": (
        "BPE apply: each distinct word segmented once in the "
        "vocab-bounded fold; the corpus joins back on word and rolls "
        "up map-side per doc."
    ),
    "winnow_fingerprints": (
        "Robust winnowing: the windowed MIN partitions by doc_id "
        "(per-doc sort, no global exchange); the packed (hash, pos) "
        "BIGINT keeps selection a plain long comparison."
    ),
    "winnow_probe_incoming": (
        "Incremental overlap probe: only the incoming slice is "
        "fingerprinted fresh; the corpus index joins on fp hash with "
        "per-key fan-out capped; pair counts partial-aggregate "
        "map-side."
    ),
    "source_overlap_matrix": (
        "Cross-source matrix (round-8 grouped form): distinct "
        "(source, passage) once, then ONE passage-keyed collect_set — "
        "pairs are an in-array combination bounded by the source cap, "
        "never a self-join; per-source sizes broadcast into the "
        "Jaccard projection."
    ),
    "pmi_top_pairs": (
        "PMI collocations: one bigram explode + vocab-bounded "
        "aggregates; the corpus token count is a 1-row broadcast "
        "scalar; top-k is TakeOrdered on the ROUNDED pmi."
    ),
    "pagerank_pages": (
        "Iterative graph tier: ONE corpus pass (per-user lag window + "
        "edge groupBy) before the checkpoint; five contribution "
        "rounds over page-catalog-bounded checkpointed frames — "
        "BROADCAST rounds since round 15 (rank + contrib vectors "
        "broadcast, the edge list never re-shuffles) + 1-row "
        "broadcast dangling scalars; no events re-scan.  The published "
        "1..|V| rank is range-PARTITIONED (round 11): local indexes "
        "come from monotonically_increasing_id over the range-sorted "
        "checkpoint (no window over the |V| frame at all), and the "
        "only single-partition sort left feeds the "
        "per-partition-counts offsets frame."
    ),
    "mmr_rerank": (
        "MMR diversity rerank: brute-force shortlist (the declared "
        "broadcast queries-x-corpus baseline tier), then ONE "
        "applyInPandas greedy per query over a <=20-row candidate "
        "frame — nothing corpus-sized reaches Python."
    ),
    "media_gif_frames": (
        "REAL animated-GIF frame sampling: one Arrow mapInPandas "
        "encode adapter, one 1->N frame-expansion stage (stdlib LZW "
        "decode + compositing), scalar features only on the output — "
        "no shuffle of pixel bytes."
    ),
    "media_jpeg_features": (
        "REAL baseline-JPEG decode: binary blobs flow through two "
        "Arrow mapInPandas stages (encode adapter, decode+features) "
        "with the blob column dropped on output; no shuffle of pixel "
        "bytes, no relational Python eval."
    ),
    "selection_budget_curve": (
        "Keep-budget sweep WITHOUT a global sort: thresholds from one "
        "exact percentile aggregate, membership via a broadcast "
        "10-row non-equi join, one partial-aggregable rollup; no "
        "rangepartitioning anywhere."
    ),
    "jsonl_shard_ingest": (
        "Multi-doc jsonl.gz shards: ONE hash exchange builds the "
        "constant-width (8-doc) shard groups; gzip-pack and "
        "inflate+parse are pipelined Arrow mapInPandas stages — blob "
        "bytes never cross a shuffle, and the read side alone is "
        "exchange-free (stateless 1->N, the streaming twin)."
    ),
    "media_codec_roundtrip": (
        "Per-sample audio codec grading: the decode-spread exchange "
        "carries only (doc_id, text) BEFORE any blob exists; encode "
        "and decode+1->32-sample expansion are pipelined Arrow "
        "mapInPandas stages with no further exchange."
    ),
    "warc_shard_ingest": (
        "WARC record-framed shards: same one-exchange shard grouping "
        "as jsonl_shard_ingest; per-record gzip members pack and "
        "inflate+record-parse as pipelined Arrow mapInPandas stages — "
        "the read side alone is exchange-free (stateless 1->N)."
    ),
    "curation_pipeline": (
        "End-to-end composition: pack exchange -> stateless inflate "
        "-> doc_id equi-join (exchange-free on a doc_id-bucketed "
        "layout) -> ONE normalized-hash window shuffle for the fused "
        "gate -> tiny per-lang aggregate; the mixture scalar chain "
        "(totals/wsum/budget) rides unpartitioned window aggregates "
        "over the cached |langs|-row frame — one SinglePartition "
        "exchange, no crossJoin broadcasts (round 15)."
    ),
    "page_components": (
        "Exact CC (large-star/small-star): the same single corpus "
        "pass as the rest of the graph family, then star rounds over "
        "checkpointed edge sets — the final plan folds checkpointed "
        "RDD scans only, no events re-scan (caught-by-guard in round "
        "10), and the size rollup self-joins the checkpointed label "
        "frame, not the log."
    ),
}


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    from isaac_kafka_streaming_spark.queries import retired_tiers

    class _Fn:
        def __init__(self, fn):
            self.fn = fn

    reg = dict(all_queries())
    # round-8-retired production tiers keep their plan docs
    reg.update({n: _Fn(f) for n, f in retired_tiers().items()})
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    cpus = spark.sparkContext.defaultParallelism
    out = [
        '# PLANS — physical plans of the headline queries (sf0.1, '
        '`.explain("formatted")`)',
        "",
        f"Generated by `SPARK_GRAFT_CPUS={cpus} python tools/gen_plans.py` "
        f"(defaultParallelism {cpus}).",
        "What to look for in each plan is noted above it; "
        "tests/test_plans.py asserts the load-bearing properties.",
        "",
    ]
    for name, note in PICKS.items():
        plan = reg[name].fn(spark, SF)._jdf.queryExecution().explainString(fmt)
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
