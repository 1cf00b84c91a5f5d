"""X3 — similarity search over the `embeddings` table.

The tier ladder, correctness baseline -> 100 TB artifact:
  - brute-force cosine top-k: the correctness baseline (SQL-checkable
    against DuckDB list_dot_product).  Query side is tiny -> broadcast;
    the corpus is scanned once, scores are JVM-side higher-order-function
    expressions (no Python), top-k via window rank.
  - IVF (inverted-file) top-k: corpus assigned to coarse centroids;
    each query probes only its nprobe nearest cells, so the scan is
    |corpus| * nprobe / ncells instead of |corpus| per query.  The
    materialized form (build_ivf_index) makes cell_id the physical
    partitioning key -> probes are static partition pruning.
  - hyperplane-LSH / SRP: bucket equi-join replaces the cross join;
    exact rescoring on every returned pair.
  - int8 / PQ quantization: scan bandwidth cut 4x / to m bytes per
    vector (ADC shortlist + exact re-rank); build_pq_index amortizes
    the codebook training offline.
  - IVF-PQ composite (build_ivfpq_index): the FAISS-IVFADC layout —
    residual PQ codes partitioned by coarse cell; a probe partition-
    prunes to nprobe cells of m-byte codes and touches float rows only
    for its shortlist.  Approximation confined to pruning+shortlist
    (exhaustive probe == exact L2, pinned in tests/test_scale_paths.py).

Dot products are computed in double precision from the float32 inputs —
sequential fold on both engines, so the oracle comparison is exact.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from ..streaming.topology import recover_compaction


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


#: Hard cap on the packed-candidate count (round-16; the r15 verdict's
#: item 3): the pack is ONE row of k x dim doubles, so k must stay far
#: under the single-row / broadcast limits.  Every current caller packs
#: a parameter-bounded frame (n_cells/k <= 4096), but nothing used to
#: ASSERT that — a runaway candidate frame would silently build a
#: multi-GB row.  The fold raises loudly at the cap instead;
#: parameterised for clusters training bigger codebooks.
_PACK_CAP_ROWS = int(os.environ.get("SPARK_GRAFT_PACK_CAP", "65536"))

#: embeddings fixture dimension (TESTDATA.md) — _pq_train's fused
#: per-position mean aggregates unroll to dim // m avg columns
_EMB_DIM = 64


def _packed_candidates(cands: DataFrame, *cols: str) -> DataFrame:
    """Every candidate row folded into ONE array-of-structs row
    (column ``__cands``), for broadcast into a per-row argmax/argmin
    fold (`F.array_max`/`array_min` over `F.transform`).  Raises at
    runtime if the candidate count exceeds ``_PACK_CAP_ROWS`` (the
    packed row would otherwise approach the row/broadcast limits
    unannounced).

    This is the zero-shuffle form of the broadcast-argmax join
    (guide §2.4, remove shuffles outright): the corpus side keeps its
    scan partitioning and NO exchange carries corpus rows at all,
    where the max/min(struct) aggregate it replaces still exchanged
    one map-side-combined row per corpus key (the whole corpus, with
    its vector payload, crossing the wire once per assignment pass).
    collect_list order is irrelevant: the fold's struct ordering is
    total (score + unique tie id), so the argmax is order-independent;
    array_max/array_min use the same NaN-greatest total ordering as
    the max/min(struct) aggregates they replace, so results are
    bit-identical."""
    packed = cands.agg(
        F.collect_list(
            F.struct(*[F.col(c) for c in cols])
        ).alias("__cands")
    )
    # one-row guard: assert_true is NULL on success (the when() then
    # passes the array through unchanged) and raises on violation
    return F.broadcast(
        packed.select(
            F.when(
                F.assert_true(
                    F.size("__cands") <= F.lit(_PACK_CAP_ROWS),
                    F.lit(
                        "_packed_candidates: candidate frame exceeds "
                        f"SPARK_GRAFT_PACK_CAP={_PACK_CAP_ROWS} rows — "
                        "the packed broadcast row would approach the "
                        "single-row/broadcast limits"
                    ),
                ).isNull(),
                F.col("__cands"),
            ).alias("__cands")
        )
    )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def knn_bruteforce(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k: queries are vec_id < n_queries.

    Output: (query_id, neighbor_id, cosine, rank) — rank 1..k by cosine
    desc with vec_id tie-break, self-match excluded.
    """
    corpus = _corpus(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k (the scale path).

    Coarse quantizer: the first `n_cells` vectors serve as deterministic
    centroids (at scale: k-means centroids trained offline).  Build
    phase assigns every corpus vector to its nearest centroid — on a
    cluster this becomes the partitioning/bucketing key, so a probe
    reads nprobe/n_cells of the data.  Query phase scans only probed
    cells.  Same output shape as knn_bruteforce.
    """
    from ..io import spread_small_scan

    # the build-side fold keeps the scan's partitioning (the win: the
    # old row_number window exchanged the |centroids|-expanded corpus
    # and sorted it), so a narrower-than-cores batch scan is spread
    # here; no-op at real scale (io.spread_small_scan contract)
    corpus = spread_small_scan(_corpus(spark, sf_dir), "vec_id")
    centroids = corpus.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )

    cands = _packed_candidates(centroids, "cell_id", "cv", "cnorm")

    def nearest_cells(df: DataFrame, vcol: str, ncol: str, keep: int) -> DataFrame:
        # top-``keep`` cells per row as a map-side array fold over the
        # packed centroid broadcast — the corpus build pass previously
        # paid a |centroids|-expanded exchange + sort for its
        # row_number window (round-15 optimization; plans/r15/).
        # reverse(array_sort) = (cosine DESC, cell_id ASC) exactly:
        # struct ordering on (c, -cell_id) ascending, reversed — the
        # same total order (NaN-greatest included) the window used.
        scored = F.transform(
            F.col("__cands"),
            lambda cc: F.struct(
                (
                    _dot(F.col(vcol), cc["cv"]) / (F.col(ncol) * cc["cnorm"])
                ).alias("c"),
                (-cc["cell_id"]).alias("nc"),
            ),
        )
        kept = F.slice(F.reverse(F.array_sort(scored)), 1, keep)
        return (
            df.crossJoin(cands)
            .withColumn("__kept", F.explode(kept))
            .select(*df.columns, (-F.col("__kept.nc")).alias("cell_id"))
        )

    assigned = nearest_cells(corpus, "v", "norm", keep=1)  # build index
    queries = nearest_cells(  # probe lists
        corpus.filter(F.col("vec_id") < n_queries), "v", "norm", keep=nprobe
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell_id",
    )

    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        assigned.join(F.broadcast(queries), on="cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_cells: int = 16,
    centroid_source: str = "first_n",
    kmeans_iters: int = 3,
) -> None:
    """Materialize the IVF index: corpus written PARTITIONED BY cell
    (hive layout `cell_id=N/`), centroids alongside.

    This is the 100 TB artifact the in-memory knn_ivf models: cell
    assignment becomes the physical partitioning key, so a probe of
    nprobe cells is *partition pruning* at the parquet scan — the
    untouched cells are never read (asserted in tests via inputFiles).

    ``centroid_source``: "first_n" takes the first n_cells vectors as
    the coarse quantizer (deterministic, zero training cost);
    "kmeans" runs the Lloyd trainer (`kmeans_centroids`) for
    ``kmeans_iters`` iterations first — the offline-training path
    SCALE_DESIGN.md describes, now wired end-to-end: trained centroids
    balance the cells, which directly bounds the worst-case probe cost
    (a probe reads its cells' actual sizes, not |corpus|/n_cells on
    average with pathological tails).
    """
    corpus = _corpus(spark, sf_dir)
    if centroid_source == "kmeans":
        trained = kmeans_centroids(
            spark, sf_dir, k=n_cells, iters=kmeans_iters
        )
        centroids = (
            trained.groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "centroid_val"))
                    ),
                    lambda s: s["centroid_val"],
                ).alias("cv")
            )
            .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
            .select("cell_id", "cv", "cnorm")
        )
    elif centroid_source == "first_n":
        centroids = corpus.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell_id"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
    else:
        raise ValueError(f"unknown centroid_source {centroid_source!r}")
    assigned = _nearest_cell(corpus, centroids).select(
        "vec_id", "label", "v", "norm", "cell_id"
    )
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(
        f"{index_path}/cells"
    )
    centroids.select("cell_id", F.col("cv").alias("v"), F.col("cnorm").alias("norm")).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/centroids")


def append_to_ivf_index(
    spark: SparkSession, index_path: str, new_vectors: DataFrame
) -> None:
    """Incrementally maintain the materialized IVF index: assign the
    incoming batch to the EXISTING centroids and append into the cell
    partitions — no rebuild, no touch of resident data.

    The ops-side twin of dedup_incoming: at 100 TB an index rebuild is
    a full-corpus job, but ingest only needs (a) the centroid broadcast
    (tiny) to assign cells and (b) a partitioned APPEND, which writes
    only the affected `cell_id=N/` directories.  Probes keep partition-
    pruning unchanged; centroid drift is handled by periodic offline
    retrains (kmeans tier), not on the ingest path.

    ``new_vectors``: (vec_id, label, embedding array<float|double>).
    """
    centroids = spark.read.parquet(f"{index_path}/centroids")
    incoming = new_vectors.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    assigned = _nearest_cell(
        incoming,
        centroids.select(
            "cell_id", F.col("v").alias("cv"), F.col("norm").alias("cnorm")
        ),
    ).select("vec_id", "label", "v", "norm", "cell_id")
    assigned.write.partitionBy("cell_id").mode("append").parquet(
        f"{index_path}/cells"
    )


def knn_ivf_indexed(
    spark: SparkSession,
    index_path: str,
    queries_df: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    self_exclude: bool = True,
) -> DataFrame:
    """Probe the materialized IVF index: per query, rank centroids,
    scan only the nprobe best cells (partition-pruned), brute-force
    within them.  queries_df: (query_id, qv, qnorm).

    ID-NAMESPACE CONTRACT (family-wide, cf. knn_ivfpq_indexed):
    self-matches are excluded only when query ids share the corpus
    vec_id namespace.  Here queries are always caller-supplied, so the
    caller declares the namespace: the default ``self_exclude=True``
    is for corpus-derived queries; pass ``self_exclude=False`` when
    probing with EXTERNAL queries so an accidental id collision cannot
    silently drop a legitimate neighbor (knn_ivfpq_indexed applies the
    same rule automatically — external queries_df skips exclusion)."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    ccos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("cell_id")
    )
    probes = (
        queries_df.join(F.broadcast(centroids), how="cross")
        .withColumn("__c", ccos)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "qv", "qnorm", "cell_id")
    )
    # collect the probed cell ids (tiny: |queries| x nprobe) so the cell
    # filter is a literal IN-list -> static partition pruning at the scan
    cells = sorted(
        {r.cell_id for r in probes.select("cell_id").distinct().collect()}
    )
    # heal a crashed compactor before scanning: post-commit crash state
    # (staged files moved in, inputs not yet deleted) double-counts rows
    recover_compaction(index_path, "cells")
    corpus = spark.read.parquet(f"{index_path}/cells").filter(
        F.col("cell_id").isin(cells)
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    joined = corpus.join(F.broadcast(probes), on="cell_id")
    if self_exclude:  # only when queries share the corpus id namespace
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    return (
        joined.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_srp(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    num_planes: int = 3,
) -> DataFrame:
    """X3 — ORACLE-CHECKED sign-random-projection ANN probe: the
    witness for knn_lsh's probe mechanism, the same role the md5
    twins play for the xxhash dedup tiers.

    knn_lsh is rows-only because its hyperplanes are numpy-generated
    (not replayable in SQL); this tier swaps in the DETERMINISTIC
    Hadamard-sign planes dedup.embedding_srp_pairs already
    oracle-checks — c(k, i) = (-1)^((i >> k) & 1) — so the ENTIRE
    probe path (sign bucketing, bucket equi-join, exact cosine
    rescoring, top-k window) hash-checks against DuckDB.  Mechanism
    identical to single-probe knn_lsh: candidates = the query's own
    bucket, scored exactly, top-k by (rounded cosine DESC, neighbor).

    Single-probe with 2^num_planes buckets is the RECALL floor tier —
    the production knob stack (multiprobe + multiple tables) lives in
    knn_lsh; recall-vs-bruteforce for THIS tier is measured and
    pinned in tests/test_similarity.py.  At scale `bucket` is the
    storage bucketing key exactly like knn_lsh's (table, key): the
    corpus-side explode, shuffle, and storage layout are shared
    shapes.  Output schema matches knn_bruteforce/knn_lsh.
    """
    # zero-length embeddings are excluded on BOTH sides (round-7 advice
    # item): an unguarded Spark fold would build sequence(0, -1) =
    # [0, -1] and crash on element_at(v, 0) under ANSI mode, while
    # DuckDB's list_dot_product internal-errors on empty lists — the
    # only lockstep semantics is to drop them before any list op (the
    # oracle's e CTE carries the matching len(embedding) > 0 filter).
    corpus = _corpus(spark, sf_dir).filter(F.size("v") > 0)
    bucket = " + ".join(
        f"(CAST((aggregate(sequence(0, size(v)-1), 0.0D, (acc, i) -> "
        f"acc + element_at(v, i+1) * IF(((i >> {kk}) & 1) = 0, 1.0D, -1.0D)"
        f") >= 0.0D) AS BIGINT) << {kk})"
        for kk in range(num_planes)
    )
    bucketed = corpus.select(
        "vec_id", "v", "norm", F.expr(bucket).alias("bucket")
    )
    queries = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        bucketed.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _knn_srp_oracle_sql(
    n_queries: int = 10, k: int = 5, num_planes: int = 3
) -> str:
    """DuckDB twin of knn_srp — the same Hadamard sign buckets (list
    comprehension mirrors the Spark fold index-for-index) and the
    same rounded-cosine top-k."""
    bucket = "\n             + ".join(
        f"(CAST(list_sum([v[i+1] * (CASE WHEN ((i >> {kk}) & 1) = 0 "
        f"THEN 1.0 ELSE -1.0 END) FOR i IN range(0, len(v))]) >= 0.0 "
        f"AS BIGINT) << {kk})"
        for kk in range(num_planes)
    )
    return f"""
    WITH e AS (
        -- norm via the index comprehension, NOT list_dot_product: this
        -- DuckDB build evaluates scan-adjacent projections before the
        -- selection vector compacts, so list_dot_product trips on the
        -- filtered-out empty row; the comprehension sums in the same
        -- left-to-right order (verified bit-identical on all driver
        -- embeddings at sf0.01 and sf0.1)
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum([v2[i+1] * v2[i+1]
                              FOR i IN range(0, len(v2))])) AS norm
        FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS v2
              FROM embeddings)
        WHERE len(embedding) > 0
    ), b AS (
        SELECT vec_id, v, norm,
               {bucket} AS bucket
        FROM e
    ), cand AS (
        -- same comprehension-over-index dot as the norm above (the
        -- join output still carries the scan's selection vectors, so
        -- list_dot_product would trip on the dropped empty row here
        -- too); identical left-to-right summation order
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_sum([q.v[i+1] * c.v[i+1]
                               FOR i IN range(0, len(q.v))])
                     / (q.norm * c.norm), 6) AS cosine
        FROM b q JOIN b c
          ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {n_queries}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn
        FROM cand
    ) WHERE rn <= {k}
    """


KNN_SRP_ORACLE_SQL = _knn_srp_oracle_sql()


def knn_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_bits: int = 6,
    n_tables: int = 8,
    seed: int = 7,
    multiprobe: int = 1,
) -> DataFrame:
    """X3 (alternate scale path) — random-hyperplane LSH bucketed top-k.

    SimHash-for-cosine: each of `n_tables` hash tables projects a
    vector onto `n_bits` fixed random hyperplanes and packs the sign
    bits into a long bucket key; vectors that collide with a query in
    ANY table are candidates, scored exactly, top-k per query.  Union
    over tables trades one multiplicative recall factor for linear
    extra work — the standard LSH recall knob.

    ``multiprobe=1`` (default) additionally probes, for each query and
    table, the `n_bits` buckets at Hamming distance 1 from the query's
    key — the classic multi-probe LSH trade (Lv et al., VLDB'07):
    near-misses on a single hyperplane sign are by far the most common
    way a true neighbor escapes the bucket, and probing them costs
    (n_bits+1)x more QUERY-side keys while the corpus index (the
    100 TB side: its explode, its storage bucketing, its shuffle) is
    untouched.  Measured recall-vs-bruteforce on the driver embeddings:
    0.32 single-probe -> 0.94 multiprobe at identical index cost.
    ``multiprobe=0`` preserves the single-probe semantics.

    The (n_tables * n_bits) x dim sign-projection is a dense matmul —
    exactly the shape Arrow-batched numpy beats a Catalyst expression
    tree at (72+ nested `aggregate(zip_with(...))` per row would blow
    up codegen), so bucket keys come from a vectorized pandas UDF; the
    hyperplanes ship BY VALUE inside the closure (no module-level
    references — executors can't import this package).  Everything
    downstream (explode, bucket equi-join, exact rescoring, window
    rank) is JVM-side.  At 100 TB: key computation is map-side and
    embarrassingly parallel, the bucket join replaces the all-pairs
    product, and `(table, key)` becomes the storage bucketing key so
    repeated query batches join without reshuffling the corpus.
    Deterministic (fixed seed); approximate -> rows-only check, recall
    vs brute-force pinned in tests.
    """
    from pyspark.sql.types import ArrayType, LongType

    dim = 64  # embeddings table contract (TESTDATA.md)
    planes = (
        np.random.RandomState(seed)
        .standard_normal((n_tables * n_bits, dim))
        .T.copy()  # (dim, n_tables*n_bits), C-order for the matmul
    )
    bit_weights = (1 << np.arange(n_bits, dtype=np.int64))
    n_t, n_b = n_tables, n_bits

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_keys(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (m @ planes) >= 0.0  # (batch, n_t*n_b)
        keys = (bits.reshape(len(m), n_t, n_b) * bit_weights).sum(axis=2)
        return pd.Series(list(keys))

    corpus = _corpus(spark, sf_dir).withColumn("keys", bucket_keys("v"))
    buckets = corpus.select(
        "vec_id", "v", "norm", F.posexplode("keys").alias("table", "key")
    )
    qbuckets = buckets.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "table",
        "key",
    )
    if multiprobe >= 1:
        # query-side only: the exact key plus every key one sign-flip
        # away; the corpus side of the join is untouched
        qbuckets = qbuckets.withColumn(
            "key",
            F.explode(
                F.array(
                    F.col("key"),
                    *[
                        F.col("key").bitwiseXOR(F.lit(1 << b))
                        for b in range(n_bits)
                    ],
                )
            ),
        )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        buckets.join(F.broadcast(qbuckets), on=["table", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .distinct()  # a pair colliding in several tables scores once
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5-adjacent — vector columns as first-class values through aggs."""
    corpus = _corpus(spark, sf_dir)
    return corpus.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
    )


def kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means over the embeddings — the offline IVF centroid
    trainer SCALE_DESIGN.md defers to.  Deterministic init (first k
    vectors), cosine assignment (matching the IVF probe metric), mean
    update via posexplode + groupBy — every step a plain DataFrame op,
    localCheckpoint()ed per iteration so lineage stays flat.  Returns
    (cell_id, pos, centroid_val, n_members) relational centroids.
    The fixed-iteration loop is fully deterministic, so the oracle
    replays it as unrolled CTE rounds (`_kmeans_oracle_sql`) and the
    trainer is hash-checked, not just structurally asserted.
    """
    # Round-16 adjudication (the r15 verdict's item 4): kmeans keeps
    # the ROUND-14 max(struct) aggregate, NOT the round-15 packed
    # fold.  The driver measured the fold +12% here, and a clean
    # 3-pair interleaved A/B this round confirmed it (r14 shape
    # 1.93/1.98/2.11 s vs fold 2.47/2.47/2.40 s min-of-5 at sf0.1) —
    # at k=8 over full 64-dim vectors the giant per-row fold
    # expression loses more to codegen than the map-side-combined
    # exchange costs (the same lesson as the rejected knn_pq ADC),
    # and the fold also forced a spread_small_scan repartition that
    # re-added an exchange anyway.  The fold stays where it measured
    # FASTER: knn_ivf (16 cells, build side), _pq_assign (subvector
    # L2), _nearest_cell, dedup._cell_assignment.  Reverting also
    # restores the r14 scan partitioning, closing the ADVICE note
    # about spread-reordered mean sums leaning on the rounding grain.
    emb = _corpus(spark, sf_dir).select("vec_id", "v", "norm")
    cents = (
        emb.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        cos = _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cnorm"))
        # argmax as a partial-aggregating max(struct) — the same
        # (cosine DESC, cell_id ASC) rule the old row_number window
        # encoded (max of (c, -cell_id) is lexicographically that
        # order; the payload field is never compared because cell_id
        # is unique per candidate): the exchange carries map-side-
        # combined rows and needs no sort
        assigned = (
            emb.join(F.broadcast(cents), how="cross")
            .withColumn("__c", cos)
            .groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c").alias("c"),
                        (-F.col("cell_id")).alias("nc"),
                        F.col("v").alias("vv"),
                    )
                ).alias("m")
            )
            .select(
                (-F.col("m.nc")).alias("cell_id"), F.col("m.vv").alias("v")
            )
        )
        # mean update stays the posexplode + two-level aggregate
        # (round-16 measured-and-rejected: fusing the update into ONE
        # groupBy(cell_id) with 64 parallel avg columns — the rewrite
        # that DID win for _pq_train's 8-wide subvectors — read
        # +0.3-0.7 s at sf0.1 AND +0.5-1.0 s at the sf1 scaled board
        # in 3-pair/2-pair interleaved A/Bs: at dim=64 the unrolled
        # 64-avg projection loses more to codegen than the extra
        # exchange costs, the same lesson as the rejected packed fold
        # and the rejected knn_pq ADC)
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("m"), F.count("*").alias("cnt"))
        )
        cents = (
            means.groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv"),
                F.first("cnt").alias("n_members"),
            )
            .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
            .select("cell_id", "cv", "cnorm", "n_members")
            .localCheckpoint()
        )
    return cents.select(
        "cell_id",
        F.posexplode("cv").alias("pos", "centroid_val"),
    ).select(
        "cell_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.round("centroid_val", 6).alias("centroid_val"),
    ).join(
        cents.select("cell_id", "n_members"), "cell_id"
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label, relationally: posexplode ->
    groupBy (label, pos) avg.  This is the k-means update step (and the
    IVF centroid trainer) expressed as a plain shuffle aggregation —
    dimension count bounds the fan-out, so at 100 TB it's one pass with
    map-side partial means."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .withColumn("pos", (F.col("pos") + 1).cast("long"))  # 1-based
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("avg_val"))
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage/serving compression step of an embedding pipeline
    (4x smaller than float32, 8x than the double working form).

    scale = max|v_i| / 127; q_i = round(v_i / scale) in [-127, 127];
    the per-vector max-abs preserves relative precision per row without
    any global calibration pass.  Reported reconstruction error
    (row MSE) keeps the lossiness observable downstream.

    Pure map-side higher-order expressions over one scan — no shuffle,
    no UDF; both engines fold the MSE sum sequentially in double, so
    the whole thing is oracle-checked, quantized codes included.
    Zero vectors get scale = ~1e-32 (guarded denominator) -> all-zero
    codes rather than NULL/NaN.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    max_abs = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)
    d = emb.withColumn("scale_raw", scale)
    q = F.transform(
        "v", lambda x: F.round(x / F.col("scale_raw")).cast("int")
    )
    d = d.withColumn("q", q)
    sq_err = F.aggregate(
        F.zip_with(
            "v",
            "q",
            lambda x, qi: F.pow(x - qi * F.col("scale_raw"), F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return d.select(
        "vec_id",
        F.size("v").cast("long").alias("n_dims"),
        F.round("scale_raw", 9).alias("scale"),
        # graded-output convention: array columns serialize to JSON so
        # both engines emit the identical string (cf. question_page_array)
        F.to_json("q").alias("q_json"),
        F.round(sq_err / F.size("v"), 9).alias("mse"),
    )


def knn_quantized(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Top-k cosine search over int8-QUANTIZED codes — the
    memory-bandwidth form of brute-force search (the scan reads 4x
    fewer bytes than float32; at 100 TB the corpus codes fit where the
    floats didn't).

    Per-vector symmetric scales cancel in the cosine:
    (sa*sb*Σ qa·qb) / (sa|qa| * sb|qb|) = Σ qa·qb / (|qa||qb|) — so
    scoring is pure integer dot products, deterministic on both
    engines, and the whole query is oracle-checked (unlike IVF/LSH,
    whose approximation comes from pruning; here it comes only from
    rounding).  Recall vs the float baseline is pinned in tests.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    max_abs = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)
    codes = emb.withColumn("scale_raw", scale).select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x / F.col("scale_raw")).cast("long")
        ).alias("q"),
    )
    qnorm = F.sqrt(
        F.aggregate(
            F.zip_with("q", "q", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    codes = codes.withColumn("qn", qnorm)
    queries = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qn").alias("qqn"),
    )
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .crossJoin(codes)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qqn") * F.col("qn")), 6).alias("cosine_q"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_pq(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    shortlist: int = 100,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011) with
    asymmetric distance computation — the memory tier below int8
    quantization: each vector is stored as m sub-codes (m bytes at
    ksub<=256), a 64x compression of the float32 corpus, and queries
    never decompress it.

    Pipeline, all relational and fully deterministic:

    1. split every vector into m contiguous subvectors (literal
       slices exploded from one projection — no column-start slice);
    2. train one ksub-entry codebook PER subspace with fixed-iteration
       Lloyd — all m trainings run in the SAME DataFrame loop, grouped
       by sub_id (init: first ksub vectors' subvectors; assignment:
       L2 argmin with code_id tie-break; update: per-position means),
       localCheckpoint per round exactly like kmeans_centroids;
    3. encode: final-codebook argmin -> (vec_id, sub_id, code_id) —
       at scale this m-byte table IS the index that replaces the
       corpus scan;
    4. ADC: each query precomputes an m x ksub distance table against
       the codebooks (broadcast — n_queries*m*ksub rows), the code
       table joins it on (sub_id, code_id), and per-(query, neighbor)
       the m partial distances pivot into fixed columns summed in a
       FIXED order — a groupBy SUM over doubles would add in shuffle
       order and could drift an ulp between engines, flipping a rank;
    5. exact re-rank: the ADC `shortlist` per query (the only rows
       whose float vectors are ever fetched — |shortlist| rows per
       query against the m-byte-per-vector full scan) is re-scored
       with true L2 and the top k emitted.  Candidate generation is
       approximate; returned distances are exact — the same contract
       as knn_lsh's rescoring.  On distance-concentrated random data
       raw ADC ranks poorly (measured recall 0.2 at m=8) while the
       0.2|corpus| shortlist covers 0.94 of the true top-5; at real
       scale the shortlist is a vanishing fraction of the corpus.

    Distances use the expansion |a|^2 - 2a.b + |b|^2 with each dot a
    sequential fold, the same engine-exact recipe the kmeans oracle
    relies on, so the WHOLE pipeline (training included) hash-checks
    against _pq_oracle_sql()'s unrolled-CTE replay.  Recall vs the
    exact-L2 baseline is pinned in tests/test_similarity.py.

    Output: (query_id, neighbor_id, l2_dist, rank) — rank 1..k by
    exact distance ASC, neighbor_id tie-break, self excluded.
    STAGED round 6, REGISTERED round 7 (round-6 window saturated)."""
    # spread before the Lloyd/ADC chain: a single-file embeddings scan
    # otherwise runs every per-row higher-order-function fold on one
    # task (round-13 A/B: 4.31 -> 2.82 s at sf0.1; no-op at real
    # scale).  Parity-safe: the Lloyd means average float32-derived
    # doubles whose partial sums are exact in a 53-bit mantissa, so
    # aggregation order cannot move a bit.  kmeans_centroids measured
    # the opposite way (1.63 -> 1.96 s — k=8 over full vectors is
    # shuffle-overhead-bound) and stays un-spread.
    from ..io import spread_small_scan

    emb = spread_small_scan(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    )
    # cached, not checkpointed: every Lloyd iteration, the final
    # encode, and the query projection re-read this N*m-row frame.
    # Same-session A/B at sf0.1: cache 4.64 s vs uncached 4.98 s vs
    # localCheckpoint 5.0+ s (the eager barrier costs more than the
    # re-scans it saves at local scale; at real scale the saved
    # re-scans are corpus-sized and cache wins outright).  Released
    # by unpersist_deps(result) per the dedup cache contract.
    sub = _pq_subvectors(emb, m).cache()
    cb = _pq_train(sub, ksub, iters, dsub=_EMB_DIM // m)
    codes = _pq_assign(sub, cb).select("vec_id", "sub_id", "code_id")
    sub_queries = sub.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        "sub_id",
        F.col("sv").alias("qsv"),
    )
    out = _pq_probe(codes, cb, sub_queries, emb, n_queries, k, m, shortlist)
    out._cached_deps = [sub]  # released via dedup.unpersist_deps
    return out


def _pq_l2(a, b):
    """|a|^2 - 2 a.b + |b|^2 in this exact order: each dot is a
    sequential fold that matches DuckDB's list_dot_product
    bit-for-bit, and the combining ops are identical on both engines
    (cf. _kmeans_oracle_sql).  Accepts column names or Column
    expressions (the packed-candidate folds pass lambda-bound struct
    fields)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def _pq_subvectors(
    emb: DataFrame, m: int, dim: int = _EMB_DIM, id_cols: tuple = ("vec_id",)
) -> DataFrame:
    """Split (*id_cols, v) into the m contiguous subvector rows
    (*id_cols, sub_id, sv) — literal slices exploded from one
    projection.  dim 64 is the embeddings fixture dimension
    (TESTDATA.md).  ``id_cols`` passes through unchanged (the IVF-PQ
    probe keys residual queries by (query_id, cell_id))."""
    dsub = dim // m
    return emb.select(
        *id_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sub_id"),
                        F.slice("v", i * dsub + 1, dsub).alias("sv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("s"),
    ).select(*id_cols, "s.sub_id", "s.sv")


def _pq_assign(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """Encode: per (vec_id, sub_id), the L2-argmin code with code_id
    tie-break — a map-side array fold over the per-subspace packed
    codebook (array_min over (d, code_id) structs is the exact
    (distance ASC, code_id ASC) total order, NaN-greatest included).
    The codebook packs to one m-row array table broadcast into an
    equi-join on sub_id, so NO exchange carries the subvector table at
    all — the min(struct) aggregate this replaces still shuffled one
    combined (vec_id, sub_id, subvector) row per corpus subvector
    (round-15 optimization; plans/r15/)."""
    packed = F.broadcast(
        codebook.groupBy("sub_id").agg(
            F.collect_list(F.struct("code_id", "cv")).alias("__cands")
        )
    )
    best = F.array_min(
        F.transform(
            F.col("__cands"),
            lambda cc: F.struct(
                _pq_l2(F.col("sv"), cc["cv"]).alias("d"),
                cc["code_id"].alias("code_id"),
            ),
        )
    )
    return (
        sub.join(packed, "sub_id")
        .select("vec_id", "sub_id", best.alias("__m"), "sv")
        .select(
            "vec_id",
            "sub_id",
            F.col("__m.code_id").alias("code_id"),
            "sv",
        )
    )


def _pq_train(sub: DataFrame, ksub: int, iters: int, dsub: int) -> DataFrame:
    """Fixed-iteration Lloyd over every subspace at once, grouped by
    sub_id (init: first ksub vectors' subvectors), localCheckpoint
    per round exactly like kmeans_centroids.  Returns the final
    codebook (sub_id, code_id, cv).  ``dsub`` is the subvector width
    (dim // m): the per-round mean update runs as dsub parallel avg
    columns fused into ONE aggregate per round (round 16; the same
    rewrite, and the same value-identity argument, as the
    kmeans_centroids update — the posexplode form paid a dsub x row
    expansion plus a second collect_list aggregate and its exchange
    every round)."""
    cb = (
        sub.filter(F.col("vec_id") < ksub)
        .select(
            "sub_id",
            F.col("vec_id").alias("code_id"),
            F.col("sv").alias("cv"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        cb = (
            _pq_assign(sub, cb)
            .groupBy("sub_id", "code_id")
            .agg(
                F.array(
                    *[F.avg(F.col("sv")[i]) for i in range(dsub)]
                ).alias("cv")
            )
            .localCheckpoint()
        )
    return cb


def _pq_probe(
    codes: DataFrame,
    cb: DataFrame,
    sub_queries: DataFrame,
    emb: DataFrame,
    n_queries: int,
    k: int,
    m: int,
    shortlist: int,
) -> DataFrame:
    """ADC + shortlist + exact re-rank (knn_pq steps 4-5) over an
    encoded code table — the probe half shared by the in-query tier
    and the materialized-index path.  ``sub_queries``: (query_id,
    sub_id, qsv); ``emb``: (vec_id, v) float vectors for the exact
    re-rank only."""
    tab = (
        sub_queries.join(F.broadcast(cb), "sub_id")
        .withColumn("pd", _pq_l2("qsv", "cv"))
        .select("query_id", "sub_id", "code_id", "pd")
    )
    parts = codes.join(
        F.broadcast(tab), ["sub_id", "code_id"]
    ).filter(F.col("vec_id") != F.col("query_id"))
    qfull = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return _pq_topk(parts, qfull, emb, m, shortlist, k)


def _pq_topk(
    parts: DataFrame,
    qfull: DataFrame,
    emb: DataFrame,
    m: int,
    shortlist: int,
    k: int,
) -> DataFrame:
    """ADC reduction + shortlist + exact re-rank shared by the flat-PQ
    probes and the IVF-PQ probe.  ``parts``: the code table joined to
    the query distance table — (query_id, vec_id, sub_id, pd), one row
    per probed (query, neighbor, subspace); ``qfull``: (query_id, qv)
    float queries for the re-rank; ``emb``: (vec_id, v) float corpus
    fetched only for shortlist rows."""
    # fixed-order reduction over the m per-subspace distances
    pivoted = parts.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(
        *[
            F.sum(F.when(F.col("sub_id") == i, F.col("pd"))).alias(f"_d{i}")
            for i in range(m)
        ]
    )
    adc = F.col("_d0")
    for i in range(1, m):
        adc = adc + F.col(f"_d{i}")
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("__adc"), F.col("neighbor_id")
    )
    cands = (
        pivoted.withColumn("__adc", adc)
        .withColumn("__sr", F.row_number().over(w_short))
        .filter(F.col("__sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        cands.join(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("v").alias("nv")),
            "neighbor_id",
        )
        .join(F.broadcast(qfull), "query_id")
        .withColumn("__l2", _pq_l2("qv", "nv"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("__l2"), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__l2", 6).alias("l2_dist"),
            "rank",
        )
    )


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> None:
    """Materialize the PQ index: the trained codebooks and the m-byte
    code table written as parquet artifacts — the amortization path
    knn_pq's docstring promises, now wired end-to-end.  At 100 TB the
    Lloyd training runs ONCE offline here; every probe afterwards
    reads `codes` (m small ints per corpus vector — the 64x-compressed
    stand-in for the float corpus) and the tiny `codebooks`, never
    retraining and never scanning corpus floats except for its own
    shortlist re-rank.  Same artifact lifecycle as build_ivf_index."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = _pq_subvectors(emb, m).cache()
    try:
        cb = _pq_train(sub, ksub, iters, dsub=_EMB_DIM // m)
        cb.write.mode("overwrite").parquet(f"{index_path}/codebooks")
        _pq_assign(sub, cb).select(
            "vec_id", "sub_id", "code_id"
        ).write.mode("overwrite").parquet(f"{index_path}/codes")
    finally:
        sub.unpersist()


def append_to_pq_index(
    spark: SparkSession, index_path: str, new_vectors: DataFrame
) -> None:
    """Incrementally maintain the materialized PQ index: encode the
    incoming batch against the FROZEN codebooks and append to the code
    table — no retrain, no touch of resident codes (the ops-side twin
    of append_to_ivf_index; codebook drift is handled by periodic
    offline rebuilds, not on the ingest path).

    ``new_vectors``: (vec_id, embedding array<float|double>)."""
    cb = spark.read.parquet(f"{index_path}/codebooks")
    m = cb.select("sub_id").distinct().count()
    emb = new_vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _pq_assign(_pq_subvectors(emb, m), cb).select(
        "vec_id", "sub_id", "code_id"
    ).write.mode("append").parquet(f"{index_path}/codes")


def knn_pq_indexed(
    spark: SparkSession,
    index_path: str,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 100,
) -> DataFrame:
    """Probe the materialized PQ index: ADC against the stored code
    table + codebooks, exact re-rank of the shortlist against the
    float corpus.  With the same training parameters this reproduces
    knn_pq's output exactly (pinned in tests/test_scale_paths.py) —
    the only work a probe repeats is its own distance table and
    shortlist fetch.

    ID-NAMESPACE CONTRACT: queries here are always corpus-derived
    (vec_id < n_queries), so self-exclusion inside _pq_probe is always
    correct; there is no external-queries path on this probe — use
    knn_ivfpq_indexed(queries_df=...) for external query vectors (it
    skips self-exclusion on that path, the family-wide rule).

    FLOAT-STORE LOCKSTEP CONTRACT (shared with knn_ivfpq_indexed, see
    its docstring): the exact re-rank joins shortlist candidates
    against ``sf_dir``'s embeddings table, so vectors appended to the
    code table must land in that float store too before they are
    probe-visible — orphan codes consume shortlist slots and are then
    dropped by the re-rank join."""
    cb = spark.read.parquet(f"{index_path}/codebooks")
    m = cb.select("sub_id").distinct().count()
    # heal a crashed compactor before scanning (cf. knn_ivf_indexed)
    recover_compaction(index_path, "codes")
    codes = spark.read.parquet(f"{index_path}/codes")
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub_queries = _pq_subvectors(
        emb.filter(F.col("vec_id") < n_queries), m
    ).select(
        F.col("vec_id").alias("query_id"),
        "sub_id",
        F.col("sv").alias("qsv"),
    )
    return _pq_probe(codes, cb, sub_queries, emb, n_queries, k, m, shortlist)


def _nearest_cell(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Coarse quantizer assignment: per vec_id, the cosine-argmax cell
    with cell_id tie-break against the broadcast centroids — the same
    rule build_ivf_index and append_to_ivf_index apply.  ``df``:
    (vec_id, v, norm, ...); ``centroids``: (cell_id, cv, cnorm).
    Output: the input columns + cell_id + cv (the winning centroid,
    kept so callers can form residuals without a re-join).

    Argmax as a map-side array fold over the packed centroid
    broadcast: array_max over (c, -cell_id, cv) structs is the exact
    (cosine DESC, cell_id ASC) total order (the trailing cv payload is
    never compared because cell_id is unique per candidate), and the
    input's own columns ride the row untouched.  NO exchange at all —
    the max(struct) aggregate this replaces still shuffled one
    combined row (with its vector payload) per input vec_id
    (round-15 optimization; plans/r15/)."""
    payload = [c for c in df.columns if c != "vec_id"]
    cands = _packed_candidates(centroids, "cell_id", "cv", "cnorm")
    best = F.array_max(
        F.transform(
            F.col("__cands"),
            lambda cc: F.struct(
                (
                    _dot(F.col("v"), cc["cv"]) / (F.col("norm") * cc["cnorm"])
                ).alias("c"),
                (-cc["cell_id"]).alias("nc"),
                cc["cv"].alias("cv"),
            ),
        )
    )
    return (
        df.crossJoin(cands)
        .withColumn("__m", best)
        # empty-candidate guard: the old inner cross join emitted no
        # rows when centroids was empty; the fold yields NULL there
        .filter(F.col("__m").isNotNull())
        .select(
            "vec_id",
            *payload,
            (-F.col("__m.nc")).alias("cell_id"),
            F.col("__m.cv").alias("cv"),
        )
    )


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_cells: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> None:
    """Materialize the composite IVF-PQ index — the FAISS-IVFADC
    layout (Jegou et al. 2011), the production 100 TB ANN artifact
    combining this module's two halves: the coarse IVF quantizer
    prunes which PARTITIONS a probe reads, and within the probed
    cells the m-byte PQ codes stand in for the float corpus.

    Build (offline, once): assign every vector to its cosine-nearest
    coarse centroid (first n_cells vectors, same convention as
    build_ivf_index's first_n tier — the kmeans trainer plugs in the
    same way it does there), PQ-encode the RESIDUAL v - centroid
    (residual encoding is what makes the composite beat flat PQ: the
    residual distribution is centered, so ksub codes cover it far
    tighter), and write three artifacts: `centroids` (tiny),
    `codebooks` (m x ksub rows), and `codes` partitioned by cell_id —
    so a probe's cell list is static partition pruning at the scan,
    exactly like the plain IVF index, but each pruned partition is
    m bytes per vector instead of the float row.
    """
    corpus = _corpus(spark, sf_dir).select("vec_id", "v", "norm")
    centroids = corpus.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    # one coarse-assignment pass feeds the residual subvectors (read
    # once per Lloyd round + final encode) and the vec->cell map; the
    # cache releases in the finally (offline build, bounded session)
    assigned = (
        _nearest_cell(corpus, centroids)
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("v"),
        )
        .cache()
    )
    try:
        sub = _pq_subvectors(assigned.select("vec_id", "v"), m)
        cb = _pq_train(sub, ksub, iters, dsub=_EMB_DIM // m)
        cb.write.mode("overwrite").parquet(f"{index_path}/codebooks")
        centroids.write.mode("overwrite").parquet(f"{index_path}/centroids")
        _pq_assign(sub, cb).select("vec_id", "sub_id", "code_id").join(
            assigned.select("vec_id", "cell_id"), "vec_id"
        ).write.partitionBy("cell_id").mode("overwrite").parquet(
            f"{index_path}/codes"
        )
    finally:
        assigned.unpersist()


def append_to_ivfpq_index(
    spark: SparkSession, index_path: str, new_vectors: DataFrame
) -> None:
    """Incrementally maintain the IVF-PQ index: coarse-assign the
    incoming batch against the FROZEN centroids, PQ-encode its
    residuals against the FROZEN codebooks, and append into the cell
    partitions — no retrain, no touch of resident codes, writing only
    the affected `cell_id=N/` directories (the same ingest contract as
    append_to_ivf_index + append_to_pq_index composed).

    ``new_vectors``: (vec_id, embedding array<float|double>)."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    cb = spark.read.parquet(f"{index_path}/codebooks")
    m = cb.select("sub_id").distinct().count()
    incoming = new_vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    resid = _nearest_cell(incoming, centroids).select(
        "vec_id",
        "cell_id",
        F.zip_with("v", "cv", lambda a, b: a - b).alias("v"),
    )
    _pq_assign(_pq_subvectors(resid.select("vec_id", "v"), m), cb).select(
        "vec_id", "sub_id", "code_id"
    ).join(resid.select("vec_id", "cell_id"), "vec_id").write.partitionBy(
        "cell_id"
    ).mode("append").parquet(f"{index_path}/codes")


def compact_index_codes(
    spark: SparkSession,
    index_path: str,
    data_subdir: str = "codes",
    partitioned: bool = True,
    target_files: int = 1,
) -> dict:
    """Compact an ANN index's append-grown vector/code table under the
    shared manifest commit protocol (topology.compact_store).  Rows
    are immutable here — no aggregation fold, identity rewrite — so
    probes return bit-identical results before and after; what shrinks
    is the FILE count: every streamed micro-batch appends a file set
    per touched cell partition, and at sustained ingest the scan's
    file-listing/open overhead grows without bound (the round-9
    verdict's append-only-store lifecycle gap).

    ``data_subdir``/``partitioned`` per layout: IVF-PQ and flat PQ use
    "codes" (partitioned / flat respectively); the plain IVF index
    stores float rows under "cells" (partitioned).  ``partitioned``
    keeps the cell_id=N/ directory layout so probe-time static
    partition pruning is unchanged."""
    from ..streaming.topology import compact_store

    return compact_store(
        spark,
        index_path,
        data_subdir=data_subdir,
        partition_by=("cell_id",) if partitioned else (),
        target_files=target_files,
    )


def knn_ivfpq_indexed(
    spark: SparkSession,
    index_path: str,
    sf_dir: str,
    queries_df: DataFrame | None = None,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """Probe the materialized IVF-PQ index: rank the coarse centroids
    per query, read ONLY the nprobe best cells' code partitions
    (static partition pruning via the collected cell-id IN-list, the
    knn_ivf_indexed recipe), ADC each probed cell's codes against the
    query's RESIDUAL distance table for that cell, then exact-rerank
    the shortlist against the float corpus.  Per (query, cell) the
    residual q - centroid differs, so the distance table is keyed by
    (query_id, cell_id) — still tiny: n_queries x nprobe x m x ksub
    rows, broadcast.

    Output matches knn_pq: (query_id, neighbor_id, l2_dist, rank),
    rank 1..k by EXACT distance (candidate generation is approximate,
    returned distances are exact — the module-wide rescoring
    contract).  ``queries_df``: optional (query_id, qv array<double>)
    in an id namespace of the CALLER's choosing — defaults to corpus
    vectors vec_id < n_queries.  The self-exclusion filter
    (vec_id != query_id) applies ONLY on the default corpus-derived
    path: external queries keep every corpus vector as a candidate,
    even on id collision.

    FLOAT-STORE LOCKSTEP CONTRACT: the exact re-rank joins shortlist
    candidates against ``sf_dir``'s embeddings table, so every vector
    appended to the index (append_to_ivfpq_index / streaming ingest)
    must also land in that float store before it is probe-visible — a
    code row with no float twin consumes a shortlist slot and is then
    dropped by the re-rank join, degrading (possibly shrinking below
    k) the result until the store catches up.  This is the standard
    ANN-serving contract (codes compress the store, they don't replace
    it); the ingest tests grow both sides together."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    cb = spark.read.parquet(f"{index_path}/codebooks")
    m = cb.select("sub_id").distinct().count()
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    self_exclude = queries_df is None
    if queries_df is None:
        queries_df = emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    queries = queries_df.withColumn(
        "qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    ccos = _dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("cell_id")
    )
    probes = (
        queries.join(F.broadcast(centroids), how="cross")
        .withColumn("__c", ccos)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "qv", "cell_id", "cv")
    )
    # tiny |queries| x nprobe collect -> literal IN-list -> static
    # partition pruning at the codes scan (cf. knn_ivf_indexed)
    cells = sorted(
        {r.cell_id for r in probes.select("cell_id").distinct().collect()}
    )
    # heal a crashed compactor before scanning (cf. knn_ivf_indexed)
    recover_compaction(index_path, "codes")
    codes = spark.read.parquet(f"{index_path}/codes").filter(
        F.col("cell_id").isin(cells)
    )
    sub_q = _pq_subvectors(
        probes.select(
            "query_id",
            "cell_id",
            F.zip_with("qv", "cv", lambda a, b: a - b).alias("v"),
        ),
        m,
        id_cols=("query_id", "cell_id"),
    )
    tab = (
        sub_q.join(F.broadcast(cb), "sub_id")
        .withColumn("pd", _pq_l2("sv", "cv"))
        .select("query_id", "cell_id", "sub_id", "code_id", "pd")
    )
    parts = codes.join(F.broadcast(tab), ["cell_id", "sub_id", "code_id"])
    if self_exclude:  # only when queries share the corpus id namespace
        parts = parts.filter(F.col("vec_id") != F.col("query_id"))
    return _pq_topk(
        parts, queries.select("query_id", "qv"), emb, m, shortlist, k
    )


def _pq_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
    shortlist: int = 100,
) -> str:
    """Unrolled-CTE DuckDB replay of knn_pq — same recipe as
    _kmeans_oracle_sql: the fixed-iteration training loop expands to
    one assignment+update CTE pair per round, distances use the
    |a|^2 - 2a.b + |b|^2 expansion with list_dot_product folds, and
    the final ADC sums the per-subspace CASE pivots in the same fixed
    order as the Spark reduction.  STAGED round 6, REGISTERED round 7."""
    dsub = dim // m
    sub_vals = ", ".join(f"({i})" for i in range(m))
    d2 = (
        "list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})"
    )
    parts = [
        f"""e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sub AS (
    SELECT vec_id, s.sub_id,
           list_slice(v, s.sub_id * {dsub} + 1,
                         s.sub_id * {dsub} + {dsub}) AS sv
    FROM e CROSS JOIN (VALUES {sub_vals}) s(sub_id)
), cb0 AS (
    SELECT sub_id, vec_id AS code_id, sv AS cv
    FROM sub WHERE vec_id < {ksub}
)"""
    ]
    for t in range(iters):
        dist = d2.format(a="sub.sv", b="c.cv")
        parts.append(
            f"""asg{t} AS (
    SELECT sub.vec_id, sub.sub_id, sub.sv, c.code_id,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.sub_id
               ORDER BY {dist}, c.code_id) AS rn
    FROM sub JOIN cb{t} c USING (sub_id)
), mean{t} AS (
    SELECT sub_id, code_id, pos, AVG(val) AS mval
    FROM (SELECT sub_id, code_id, unnest(sv) AS val,
                 generate_subscripts(sv, 1) AS pos
          FROM asg{t} WHERE rn = 1)
    GROUP BY 1, 2, 3
), cb{t + 1} AS (
    SELECT sub_id, code_id, list(mval ORDER BY pos) AS cv
    FROM mean{t} GROUP BY 1, 2
)"""
        )
    enc_dist = d2.format(a="sub.sv", b="c.cv")
    q_dist = d2.format(a="q.qsv", b="c.cv")
    rerank_dist = d2.format(a="qe.v", b="nb.v")
    cases = ", ".join(
        f"SUM(CASE WHEN t.sub_id = {i} THEN pd END) AS _d{i}"
        for i in range(m)
    )
    adc = " + ".join(f"_d{i}" for i in range(m))
    parts.append(
        f"""encr AS (
    SELECT sub.vec_id, sub.sub_id, c.code_id,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.sub_id
               ORDER BY {enc_dist}, c.code_id) AS rn
    FROM sub JOIN cb{iters} c USING (sub_id)
), enc AS (
    SELECT vec_id, sub_id, code_id FROM encr WHERE rn = 1
), qs AS (
    SELECT vec_id AS query_id, sub_id, sv AS qsv
    FROM sub WHERE vec_id < {n_queries}
), tab AS (
    SELECT q.query_id, c.sub_id, c.code_id, {q_dist} AS pd
    FROM qs q JOIN cb{iters} c USING (sub_id)
), pivoted AS (
    SELECT t.query_id, enc.vec_id AS neighbor_id, {cases}
    FROM enc JOIN tab t
      ON enc.sub_id = t.sub_id AND enc.code_id = t.code_id
    WHERE enc.vec_id <> t.query_id
    GROUP BY 1, 2
), shortl AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {adc}, neighbor_id) AS sr
    FROM pivoted
), rescored AS (
    SELECT s.query_id, s.neighbor_id, {rerank_dist} AS l2d
    FROM shortl s
    JOIN e nb ON s.neighbor_id = nb.vec_id
    JOIN e qe ON s.query_id = qe.vec_id
    WHERE s.sr <= {shortlist}
), ranked_out AS (
    SELECT query_id, neighbor_id, l2d,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY l2d, neighbor_id) AS rank
    FROM rescored
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, ROUND(l2d, 6) AS l2_dist, rank
FROM ranked_out WHERE rank <= {k}
"""
    )


# DuckDB twin for knn_pq — parity-tested now (tests/test_similarity.py),
# registered as "knn_pq" in round 7 (the round-6 window is saturated).
KNN_PQ_ORACLE_SQL = _pq_oracle_sql()


def _kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """Unrolled fixed-iteration Lloyd replay: the training loop is
    deterministic (first-k init, cosine argmax with cell_id tie-break,
    plain means), so ``iters`` assignment+update rounds expand into a
    chain of CTEs DuckDB evaluates in lockstep with the Spark loop —
    hash-exact at sf0.001/0.01/0.1 (verified), upgrading the trainer
    from rows-only to full oracle checking."""
    parts = [
        f"""e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS norm
    FROM embeddings
), cents0 AS (
    SELECT vec_id AS cell_id, v AS cv, norm AS cnorm
    FROM e WHERE vec_id < {k}
)"""
    ]
    for t in range(iters):
        parts.append(
            f"""asg{t} AS (
    SELECT e.vec_id, e.v, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cv) / (e.norm * c.cnorm)
                        DESC, c.cell_id) AS rn
    FROM e CROSS JOIN cents{t} c
), mean{t} AS (
    SELECT cell_id, pos, AVG(val) AS m, COUNT(*) AS cnt
    FROM (SELECT cell_id, unnest(v) AS val,
                 generate_subscripts(v, 1) AS pos
          FROM asg{t} WHERE rn = 1)
    GROUP BY cell_id, pos
), cents{t + 1} AS (
    SELECT cell_id, list(m ORDER BY pos) AS cv,
           sqrt(list_dot_product(list(m ORDER BY pos),
                                 list(m ORDER BY pos))) AS cnorm
    FROM mean{t} GROUP BY cell_id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT cell_id, CAST(pos AS BIGINT) AS pos,
       ROUND(m, 6) AS centroid_val, cnt AS n_members
FROM mean{iters - 1}
"""
    )


def mmr_rerank(
    neighbors: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified re-rank (Carbonell &
    Goldstein 1998) of any ANN tier's candidate shortlist: per query,
    greedily pick k candidates maximizing

        lam * cos(q, d)  -  (1 - lam) * max_{s in selected} cos(d, s)

    — the standard diversity-aware selection step retrieval and
    training-data subset pipelines run AFTER candidate generation
    (lam=1 reduces to plain relevance order).

    Spark shape: this is the textbook per-query candidate rerank —
    distributed over QUERIES, greedy and local within one query's
    shortlist — so it runs as one applyInPandas grouped map over
    (query, candidate-vector) rows.  The greedy loop is O(k * n^2) on
    an n<=shortlist candidate set (tiny by construction); nothing
    corpus-sized ever reaches Python.  Registry-graded via
    ``mmr_top_diverse`` below: fixed k means the greedy loop unrolls
    into k per-round argmax CTEs (``_mmr_oracle_sql`` — the
    kmeans_centroids/bpe_learn discipline); equality vs a plain-Python
    replay plus the lam=1 degeneracy are also pinned in
    tests/test_similarity.py.

    ``neighbors``: (query_id, neighbor_id, ...) from any knn tier —
    de-duplicated here, so a shortlist that lists the same candidate
    twice cannot occupy two ranks; ``vectors``: (vec_id, v
    array<double>); ``queries``: (query_id, qv array<double>).
    Output: (query_id, neighbor_id, mmr, rank) — mmr rounded to 6 dp
    (also the argmax comparison precision, so the oracle's ROUND is
    bit-comparable), rank 1..k per query in pick order, neighbor_id
    ascending on exact ties."""
    cand = neighbors.select("query_id", "neighbor_id").distinct().join(
        vectors.select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
        ),
        "neighbor_id",
    ).join(
        F.broadcast(queries.select("query_id", "qv")), "query_id"
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.stack(pdf["nv"].to_numpy())
        q = np.asarray(pdf["qv"].iloc[0], dtype=float)
        ids = pdf["neighbor_id"].to_numpy()
        norms = np.linalg.norm(V, axis=1)
        rel = (V @ q) / (norms * np.linalg.norm(q))
        sims = (V @ V.T) / np.outer(norms, norms)
        chosen: list = []
        out_ids, out_scores = [], []
        avail = set(range(len(ids)))
        for _ in range(min(k, len(ids))):
            best = None
            for i in avail:
                div = max((sims[i][j] for j in chosen), default=0.0)
                s = lam * rel[i] - (1.0 - lam) * div
                key = (round(float(s), 6), -int(ids[i]))
                if best is None or key > best[0]:
                    best = (key, i, s)
            _key, i, s = best
            chosen.append(i)
            avail.remove(i)
            out_ids.append(int(ids[i]))
            out_scores.append(round(float(s), 6))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": out_ids,
                "mmr": out_scores,
                "rank": np.arange(1, len(out_ids) + 1, dtype="int64"),
            }
        )

    return cand.groupBy("query_id").applyInPandas(
        _greedy,
        schema="query_id long, neighbor_id long, mmr double, rank long",
    )


def mmr_rerank_indexed(
    spark: SparkSession,
    index_path: str,
    queries_df: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 4,
    lam: float = 0.7,
    self_exclude: bool = True,
) -> DataFrame:
    """Read-time MMR over a materialized (or STREAM-ingested) IVF
    store: probe the index for each query's ``shortlist`` candidates
    (partition-pruned, compaction-healing — knn_ivf_indexed), then
    diversity-rerank with mmr_rerank.  The `*_from_stores` discipline:
    because streaming ingest delegates to the batch append path
    (streaming_index_ingest -> append_to_ivf_index), a store grown by
    the stream and a store grown by batch appends produce BIT-FOR-BIT
    identical reranks — pinned in tests/test_streaming.py.

    ``queries_df``: (query_id, qv array<double>, qnorm) — the probe
    signature; mmr_rerank reuses (query_id, qv) from the same frame.
    Candidate vectors are read back from the probed store's own cell
    partitions (unique vec_ids by the ingest idempotence contract), so
    nothing corpus-sized beyond the probe's pruned scan is touched."""
    cands = knn_ivf_indexed(
        spark,
        index_path,
        queries_df,
        k=shortlist,
        nprobe=nprobe,
        self_exclude=self_exclude,
    )
    recover_compaction(index_path, "cells")
    vectors = spark.read.parquet(f"{index_path}/cells").select("vec_id", "v")
    return mmr_rerank(
        cands,
        vectors,
        queries_df.select("query_id", "qv"),
        k=k,
        lam=lam,
    )


def mmr_top_diverse(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    shortlist: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Graded MMR entry: brute-force top-``shortlist`` candidates for
    the first ``n_queries`` query vectors (the knn_bruteforce recipe —
    ranked by 6-dp cosine with id tie-break, so shortlist MEMBERSHIP is
    engine-portable), diversity-reranked by ``mmr_rerank`` to k=5.

    Deterministic end-to-end: every cross-engine comparison (shortlist
    rank, per-round argmax, output score) happens on 6-dp-rounded
    doubles with neighbor_id tie-breaks, so the DuckDB oracle
    (``_mmr_oracle_sql`` — the greedy loop unrolled into k argmax CTE
    rounds) hash-matches the applyInPandas greedy."""
    corpus = _corpus(spark, sf_dir)
    vectors = corpus.select("vec_id", "v")
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cands = knn_bruteforce(spark, sf_dir, n_queries=n_queries, k=shortlist)
    return mmr_rerank(cands, vectors, queries, k=k, lam=lam)


def _mmr_oracle_sql(
    n_queries: int = 10, shortlist: int = 20, k: int = 5, lam: float = 0.7
) -> str:
    """DuckDB replay of mmr_top_diverse: the fixed-k greedy loop
    unrolled into k argmax rounds (the kmeans_centroids / bpe_learn
    oracle discipline).  Round 1 is pure relevance; round r computes
    each remaining candidate's diversity penalty as MAX(sim) over the
    r-1 already-picked rows and takes the (ROUND(s,6) DESC, neighbor_id)
    argmax — exactly mmr_rerank's comparison key.  The lam / (1-lam)
    coefficients are emitted via repr() so the SQL literal parses to
    the bit-identical double Python computes (1.0 - 0.7 is NOT 0.3 in
    binary)."""
    w, om = repr(float(lam)), repr(1.0 - float(lam))
    sql = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, norm AS qnorm
        FROM e WHERE vec_id < {n_queries}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.v AS nv,
               e.norm AS nnorm,
               list_dot_product(qv, v) / (qnorm * norm) AS rel
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ), shortlist AS (
        SELECT query_id, neighbor_id, nv, nnorm, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ROUND(rel, 6) DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {shortlist}
    ), sims AS (
        SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
               list_dot_product(a.nv, b.nv) / (a.nnorm * b.nnorm) AS sim
        FROM shortlist a JOIN shortlist b
          ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
    ), r1 AS (
        SELECT query_id, neighbor_id, s FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY s DESC, neighbor_id) AS rn
            FROM (SELECT query_id, neighbor_id,
                         ROUND(CAST({w} AS DOUBLE) * rel, 6) AS s
                  FROM shortlist)
        ) WHERE rn = 1
    )"""
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM r{i}" for i in range(1, r)
        )
        sql += f""", s{r} AS (
        {prev}
    ), p{r} AS (
        SELECT sl.query_id, sl.neighbor_id,
               ROUND(CAST({w} AS DOUBLE) * sl.rel
                     - CAST({om} AS DOUBLE) * MAX(sm.sim), 6) AS s
        FROM shortlist sl
        JOIN sims sm ON sm.query_id = sl.query_id
                    AND sm.i = sl.neighbor_id
        JOIN s{r} sel ON sel.query_id = sm.query_id
                     AND sel.neighbor_id = sm.j
        WHERE NOT EXISTS (SELECT 1 FROM s{r} x
                          WHERE x.query_id = sl.query_id
                            AND x.neighbor_id = sl.neighbor_id)
        GROUP BY sl.query_id, sl.neighbor_id, sl.rel
    ), r{r} AS (
        SELECT query_id, neighbor_id, s FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY s DESC, neighbor_id) AS rn
            FROM p{r}
        ) WHERE rn = 1
    )"""
    finals = "\n    UNION ALL ".join(
        f"SELECT query_id, neighbor_id, s AS mmr, "
        f"CAST({r} AS BIGINT) AS rank FROM r{r}"
        for r in range(1, k + 1)
    )
    return sql + "\n    " + finals


def register() -> dict:
    from ..queries import QueryDef

    return {
        "embedding_centroids": QueryDef(
            embedding_centroids,
            """
            SELECT label, CAST(i AS BIGINT) AS pos,
                   ROUND(AVG(embedding[i]::DOUBLE), 6) AS avg_val
            FROM embeddings, range(1, 65) t(i)
            GROUP BY label, i
            """,
            "X3 per-label centroid (k-means update step, relational)",
        ),
        "mmr_rerank": QueryDef(
            mmr_top_diverse,
            _mmr_oracle_sql(),
            "X3 MMR diversity rerank of the brute-force shortlist "
            "(k-unrolled argmax oracle)",
        ),
        "knn_bruteforce": QueryDef(
            knn_bruteforce,
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS norm
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, v AS qv, norm AS qnorm
                FROM e WHERE vec_id < 10
            ), scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROUND(list_dot_product(qv, v) / (qnorm * norm), 6)
                           AS cosine
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cosine,
                   CAST(rnk AS BIGINT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM scored
            )
            WHERE rnk <= 5
            """,
            "X3 brute-force cosine top-k (correctness baseline)",
        ),
        "knn_ivf": QueryDef(
            knn_ivf,
            # approximate vs brute force, but DETERMINISTIC and exactly
            # SQL-expressible: dot products are sequential folds on both
            # engines (identical doubles), assignment ranks by the raw
            # cosine, final ranks by the rounded one — so the oracle
            # replays the whole index + probe + rescore pipeline
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS norm
                FROM embeddings
            ), cent AS (
                SELECT vec_id AS cell_id, v AS cv, norm AS cnorm
                FROM e WHERE vec_id < 16
            ), ac AS (
                SELECT vec_id, v, norm, cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY list_dot_product(v, cv)
                                    / (norm * cnorm) DESC, cell_id
                       ) AS cr
                FROM e CROSS JOIN cent
            ), assigned AS (
                SELECT vec_id, v, norm, cell_id FROM ac WHERE cr = 1
            ), probes AS (
                SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cell_id
                FROM ac WHERE vec_id < 10 AND cr <= 4
            ), scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       ROUND(list_dot_product(p.qv, a.v)
                             / (p.qnorm * a.norm), 6) AS cosine
                FROM assigned a JOIN probes p USING (cell_id)
                WHERE a.vec_id <> p.query_id
            )
            SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM scored
            )
            WHERE rnk <= 5
            """,
            "X3 IVF-partitioned approximate top-k (100TB path)",
        ),
        # knn_lsh RETIRED from the graded registry in round 8: knn_srp
        # is the oracle-checked witness of the hyperplane-bucket probe
        # mechanism; knn_lsh's multiprobe/multi-table stack stays
        # direct-call tested with recall floors in tests/test_similarity.py
        # and the broadcast-plan guard in tests/test_plans.py.
        "kmeans_centroids": QueryDef(
            kmeans_centroids,
            _kmeans_oracle_sql(),  # fixed-iteration Lloyd replay
            "X3 Lloyd k-means centroid trainer (IVF offline step, "
            "oracle-replayed per iteration)",
        ),
        "knn_quantized": QueryDef(
            knn_quantized,
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       GREATEST(list_max(list_transform(v, x -> abs(x))),
                                1e-30) / 127.0 AS sc
                FROM e
            ), c AS (
                SELECT vec_id,
                       list_transform(v,
                           x -> CAST(ROUND(x / sc) AS BIGINT)) AS q
                FROM s
            ), n AS (
                SELECT vec_id, q,
                       sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) AS qn
                FROM c
            ), qs AS (
                SELECT vec_id AS query_id, q AS qq, qn AS qqn
                FROM n WHERE vec_id < 10
            ), scored AS (
                SELECT query_id, n.vec_id AS neighbor_id,
                       ROUND(CAST(list_dot_product(qq, q) AS DOUBLE)
                             / (qqn * qn), 6) AS cosine_q
                FROM n CROSS JOIN qs WHERE n.vec_id <> query_id
            )
            SELECT query_id, neighbor_id, cosine_q,
                   CAST(rnk AS BIGINT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine_q DESC, neighbor_id) AS rnk
                FROM scored
            )
            WHERE rnk <= 5
            """,
            "X3 int8-code cosine top-k (4x scan-bandwidth reduction, "
            "oracle-checked)",
        ),
        "embedding_quantize": QueryDef(
            embedding_quantize,
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       GREATEST(list_max(list_transform(v, x -> abs(x))),
                                1e-30) / 127.0 AS scale_raw
                FROM e
            ), qd AS (
                SELECT vec_id, v, scale_raw,
                       list_transform(v,
                           x -> CAST(ROUND(x / scale_raw) AS INT)) AS q
                FROM s
            )
            SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
                   ROUND(scale_raw, 9) AS scale,
                   CAST(to_json(q) AS VARCHAR) AS q_json,
                   ROUND(list_sum(list_transform(range(1, len(v) + 1),
                             i -> (v[i] - q[i] * scale_raw) ^ 2))
                         / len(v), 9) AS mse
            FROM qd
            """,
            "X3/X5 symmetric per-vector int8 quantization + recon error",
        ),
        "embedding_label_stats": QueryDef(
            embedding_label_stats,
            """
            SELECT label, COUNT(*) AS n_vectors,
                   ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[],
                         embedding::DOUBLE[]))), 4) AS avg_norm,
                   ROUND(MAX(sqrt(list_dot_product(embedding::DOUBLE[],
                         embedding::DOUBLE[]))), 4) AS max_norm
            FROM embeddings GROUP BY label
            """,
            "X5 vector columns through relational aggs",
        ),
        # --- registered in round 7 (previously staged) ---
        "knn_pq": QueryDef(
            knn_pq,
            KNN_PQ_ORACLE_SQL,
            "X3 product-quantization ANN: ADC shortlist + exact re-rank",
        ),
        # --- registered mid-round-7 (witness program) ---
        "knn_srp": QueryDef(
            knn_srp,
            KNN_SRP_ORACLE_SQL,
            "X3 oracle-checked SRP ANN probe — the witness for "
            "knn_lsh's bucketing/probe/rescore mechanism",
        ),
    }
