"""Scaled-SF bench board.

    SPARK_GRAFT_SF_DIR=/root/scaled/sf1 python tools/bench_scaled.py [q ...]

sf0.1 sits at the per-job scheduling floor (the r15 driver's 8-core
run beat the 32-core run), so wall-clock there can no longer resolve
optimization wins.  This tool runs the most expensive board queries at
a larger, bench-only SF (tools/gen_scaled_sf.py) through bench.py's
timing loop (`bench.time_entries`) and prints one JSON line.  It never
touches BENCH_FULL.json and is NOT the driver's bench: it exists so
before/after numbers for scale-shape changes can be demonstrated in
seconds instead of job counts.  An A/B of a few queries is
`bench_scaled.py <q ...>` run once per side.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import board_fns, time_entries  # noqa: E402
from isaac_kafka_streaming_spark.session import get_spark  # noqa: E402

# the 15 most expensive board queries per BENCH_r15 + two floor
# controls (tpch_q1, dedup_normalized: short, untouched for rounds)
DEFAULT = [
    "pagerank_pages",
    "pagerank_personalized",
    "knn_pq",
    "page_components",
    "label_propagation",
    "kmeans_centroids",
    "dedup_clusters",
    "dedup_clusters_lsh",
    "dedup_embedding_srp",
    "dedup_simhash",
    "decontaminate_exact",
    "dedup_minhash_lsh_md5",
    "contained_documents",
    "tpch_q2",
    "winnow_probe_incoming",
    "tpch_q1",
    "dedup_normalized",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/scaled/sf1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("isaac-bench-scaled")
    timings = time_entries(spark, board_fns(), names, sf_dir)
    print(
        json.dumps(
            {
                "metric": "scaled_board_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
