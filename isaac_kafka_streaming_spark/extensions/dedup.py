"""X1/X2 — document deduplication tiers over the `documents` table.

Tiers, in increasing fuzziness (SURVEY.md §2.12):
  1. exact            — hash-groupBy on raw text (SQL-checkable)
  2. normalized       — sha256 of whitespace/case-normalized text (SQL-checkable)
  3. ngram_jaccard    — exact word-shingle Jaccard pairs via inverted
                        index self-join (SQL-checkable; quadratic only
                        within shingle buckets)
  4. minhash_lsh      — MinHash signatures + LSH banding, candidates
                        verified with exact Jaccard (rows-only check;
                        the 100 TB path: candidate generation is
                        linear-ish in corpus size, never all-pairs)
  5. simhash          — 64-bit SimHash + chunk banding, Hamming-verified
                        (rows-only)

Everything is built from JVM-side expressions (higher-order array
functions, xxhash64) — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import hex_long, normalized_text_hash
from ..io import (
    read_documents_spread as _documents,
    read_table,
)
from ..operators.aggregations import hot_keys
from .text import _tokens


def _shingles(tokens_col, n: int = 3):
    """n-word shingles as '<t1> <t2> <t3>' strings (distinct).

    The tokens expression is bound ONCE as a lambda variable via
    transform-over-singleton: referencing `tokens_col` directly at each
    of the n positions would inline (and re-evaluate) the whole
    split+filter tokenization per shingle position — measured ~20x
    slower on 300-char docs."""

    def _mk(toks):
        # guard: sequence(1, 0) is DESCENDING ([1, 0]) and element_at
        # past the end throws under ANSI — docs shorter than n tokens
        # have no shingles, full stop
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + j) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens_col), _mk), 1)


# -- tier 1/2: exact + normalized hash ------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — one row per distinct text: canonical doc id + duplicate count."""
    # measured spread opt-out (round 14, interleaved min-of-5 at
    # sf0.1): aggregate-light (groupBy only, pure JVM) — the spread's
    # hash exchange costs 3.6x what the single-split scan saves
    # (0.116 s plain vs 0.413 s spread)
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_copies"),
    ).select("canonical_doc_id", "n_copies")


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (hash tier) — near-dup by normalized-text sha256."""
    # measured spread opt-out (interleaved min-of-5 at sf0.1):
    # sha2+groupBy is aggregate-light — 0.153 s plain vs 0.416 s
    # spread; the spread's extra exchange had made this entry 2.6x
    # slower on the bench (0.214 s -> 0.565 s)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", normalized_text_hash("text"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# -- tier 3: exact n-gram Jaccard pairs (inverted-index join) --------------


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.35,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """X2 — exact word-shingle Jaccard over pairs sharing >=1 shingle.

    Inverted-index self-join: only docs sharing a shingle are compared,
    so cost is sum over shingles of (docs-per-shingle choose 2), not
    |docs|^2.

    ``max_shingle_df`` is the hot-shingle guard for that sum: a shingle
    shared by d documents contributes d^2/2 pairs to ONE join key, so a
    single boilerplate phrase at 100 TB (d ~ 10^6) degenerates the join
    toward all-pairs.  With the cap set, shingles whose document
    frequency exceeds it are dropped from the index — and from the
    per-doc sizes, so the reported Jaccard is exact over the *filtered*
    shingle universe (hot shingles are treated as stopwords: they carry
    no near-dup signal precisely because everyone shares them).  The
    hot list is tiny by a counting bound (<= total_occurrences/cutoff
    entries), so AQE turns the anti-join into a broadcast; no hint
    needed.  Default None preserves the uncapped exact semantics.
    """
    docs = _documents(spark, sf_dir)
    # cached: the exploded shingle index feeds both sides of the
    # inverted-index self-join (shingle shuffle, reused exchange) —
    # without it the tokenize+shingle scan runs once per shuffle key.
    # Each index row CARRIES its doc's distinct-shingle count (guide
    # §2.3/§8 — attach small decisions without reshuffling the big
    # side): |shingles| is just F.size of the per-doc array BEFORE the
    # explode, so the uncapped pair aggregate reads sz_a/sz_b off its
    # own input rows instead of re-exchanging the PAIR table twice
    # against a separately aggregated sizes frame.  Same contract as
    # minhash_lsh_pairs: released via unpersist_deps by long-lived
    # callers (dedup_clusters).
    arr = docs.select(
        "doc_id", _shingles(_tokens(F.col("text")), n).alias("shingles")
    )
    sh_cached = _cache_once(
        arr.select(
            "doc_id",
            F.size("shingles").alias("sz"),
            F.explode("shingles").alias("shingle"),
        )
    )
    sh = sh_cached
    if max_shingle_df is not None:
        # _shingles is per-doc distinct, so a shingle's row count is
        # its document frequency
        sh = sh.join(
            hot_keys(sh, ["shingle"], max_shingle_df), "shingle", "left_anti"
        )
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).groupBy(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    if max_shingle_df is None:
        # sz_a/sz_b are constant within each (doc_a, doc_b) group
        # (functionally dependent on the doc keys); min() reads the
        # value with map-side partial aggregation, no extra exchange
        inter = pairs.agg(
            F.count("*").alias("n_common"),
            F.min(F.col("a.sz")).alias("sz_a"),
            F.min(F.col("b.sz")).alias("sz_b"),
        )
    else:
        # sizes are recounted over the FILTERED shingle universe (hot
        # shingles excised), so the carried pre-explode size no longer
        # equals the per-doc count
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
        inter = pairs.agg(F.count("*").alias("n_common"))
        for side in ("a", "b"):
            inter = inter.join(
                sizes.select(
                    F.col("doc_id").alias(f"doc_{side}"),
                    F.col("n_shingles").alias(f"sz_{side}"),
                ),
                f"doc_{side}",
            )
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    out = (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # the CACHED ref, not the (possibly anti-joined) rebinding — only a
    # sameResult plan can be unpersisted
    out._cached_deps = [sh_cached]
    return out


def duplicate_passages(
    spark: SparkSession, sf_dir: str, n: int = 8
) -> DataFrame:
    """X2 (exact-substring tier) — n-token passages appearing in more
    than one document: the cross-document repeated-substring signal
    that whole-document hashing misses (the shape of suffix-array
    training-data dedup à la Lee et al. 2022, bounded to n-token
    windows so it stays one explode + one aggregate).

    `_shingles` is per-doc distinct, so COUNT(*) at the passage level
    IS document frequency; the aggregate is map-side combinable and
    the per-key width is bounded by |docs|, never |occurrences|.  The
    output is the boilerplate/leak list itself — downstream passes
    anti-join it (as ngram_jaccard's hot-shingle cap does) or strike
    the spans from the text."""
    docs = _documents(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        F.explode(_shingles(_tokens(F.col("text")), n)).alias("passage"),
    )
    return (
        sh.groupBy("passage")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# -- tier 4: MinHash + LSH banding ----------------------------------------

NUM_HASHES = 64
BAND_SIZE = 4  # 16 bands of 4 -> catches jaccard ~>0.3-0.5 candidates


def _minhash_signatures(shingled: DataFrame, num_hashes: int = NUM_HASHES):
    """MinHash signatures as 64 long columns h0..h{n-1}, one row per doc.

    Shape: explode shingles -> hash each shingle string once -> hash-
    aggregate per doc with `num_hashes` min() accumulators, each over a
    cheap long-rehash xxhash64(seed, h).  Everything stays in
    whole-stage codegen with map-side partial aggregation — no per-doc
    array allocation (the earlier array-transform form allocated
    `num_hashes` arrays per document and was ~5x slower cold).  Docs
    with zero shingles drop out here; they can never pass Jaccard
    verification anyway."""
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("s")
    ).select("doc_id", F.xxhash64("s").alias("h"))
    # SQL-string form of min(xxhash64(seed_i, h)): one JVM-side parse per
    # accumulator instead of 3 py4j Column calls each — same hash values
    # (the SQL integer literal and F.lit(i) carry the same type, so
    # xxhash64 sees identical input)
    return exploded.groupBy("doc_id").agg(
        *[
            F.expr(f"min(xxhash64({i}, h)) AS h{i}")
            for i in range(num_hashes)
        ]
    )


def _shingle_index(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """The cached (doc_id, shingles) frame every MinHash tier builds on.

    The spread read fans a single-split source out across cores before
    the per-document expressions (a no-op at scale, where the scan is
    already parallel).  Cached because the shingle arrays feed the
    signature explode AND both sides of the verification join —
    without it the tokenization runs 4x.  At 100 TB this intermediate
    is written to a temp table instead.  Released by unpersist_deps
    (see minhash_lsh_pairs)."""
    docs = _documents(spark, sf_dir)
    return _cache_once(
        docs.select(
            "doc_id",
            _shingles(_tokens(F.col("text")), n).alias("shingles"),
        )
    )


# band-key expression per hash family, keyed by the band table's key
# column: a hashed band value (xxhash64) or the plain comma-joined
# signature slice (engine-neutral md5 family, exact string equality in
# both engines)
_BAND_KEY = {
    "band_hash": lambda cols: F.xxhash64(*cols),
    "band_key": lambda cols: F.concat_ws(",", *[c.cast("string") for c in cols]),
}


def _band_table(
    sigs: DataFrame, num_hashes: int, band_size: int, key: str
) -> DataFrame:
    """Signature rows h0..h{n-1} -> exploded (doc_id, band, ``key``) LSH
    band table, ``key`` naming the family's band-key expression."""
    n_bands = num_hashes // band_size
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        _BAND_KEY[key](
                            [
                                F.col(f"h{bi * band_size + j}")
                                for j in range(band_size)
                            ]
                        ).alias(key),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", f"bk.{key}")


def _verify_jaccard(
    candidates: DataFrame,
    shingled: DataFrame,
    left: str,
    right: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs: each side
    of ``candidates`` (doc-id columns ``left``/``right``) joins its
    shingle array, jaccard = round(|A ∩ B| / |A ∪ B|, 6), kept at
    >= ``threshold``."""
    sides = [(c, c.replace("doc", "sh")) for c in (left, right)]
    for doc_col, sh_col in sides:
        candidates = candidates.join(
            shingled.select(
                F.col("doc_id").alias(doc_col),
                F.col("shingles").alias(sh_col),
            ),
            doc_col,
        )
    sh_l, sh_r = (sh_col for _, sh_col in sides)
    return candidates.withColumn(
        "jaccard",
        F.round(
            F.size(F.array_intersect(sh_l, sh_r))
            / F.size(F.array_union(sh_l, sh_r)),
            6,
        ),
    ).filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.35,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """X2 (scale tier) — MinHash/LSH candidate pairs, Jaccard-verified.

    Plan shape: one scan computes signatures; explode to (band,
    band_hash) keys; a groupBy-join within band buckets yields
    candidates (linear-ish in corpus size); candidates are verified
    against exact shingle Jaccard.  This is the 100 TB dedup path —
    no all-pairs product anywhere.

    ``max_bucket_size`` is the hot-bucket guard: a band bucket holding
    w docs emits w^2/2 candidate rows on one join key, and a cluster of
    near-identical boilerplate docs lands in the SAME bucket in EVERY
    band.  With the cap set, buckets wider than it are dropped before
    the self-join, bounding per-key fan-out at max_bucket_size^2.  The
    recall cost is confined to ultra-common duplicates — exactly the
    ones the exact/normalized hash tiers (far cheaper) already catch.
    Default None (off) preserves full candidate generation locally.

    Cache contract: the two intermediates this builds (shingle arrays,
    signatures) are .cache()d because the returned plan references each
    more than once.  They are attached to the returned DataFrame as
    ``df._cached_deps``; long-lived callers should call
    ``unpersist_deps(df)`` once they have fully materialized the
    result (see dedup_clusters).  One-shot graded/bench runs may skip
    it — session teardown clears the blocks.
    """
    shingled = _shingle_index(spark, sf_dir, n)
    # cached: one row of 64 longs per doc (tiny); the band fanout
    # self-joins, so without it the signature agg runs twice.
    sigs = _cache_once(_minhash_signatures(shingled, num_hashes))
    bands = _band_table(sigs, num_hashes, band_size, "band_hash")
    verified = _lsh_pairs_verify(
        bands, shingled, ["band", "band_hash"], threshold, max_bucket_size
    )
    verified._cached_deps = [shingled, sigs]  # see cache contract above
    return verified


def _lsh_pairs_verify(
    bands: DataFrame,
    shingled: DataFrame,
    key_cols: list,
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Banded-bucket self-join + exact-Jaccard verification behind both
    full-corpus MinHash tiers (minhash_lsh_pairs on xxhash64 band_hash
    keys, minhash_lsh_pairs_md5 on md5 band_key strings): the hash
    family is the only thing that differs between them."""
    if max_bucket_size is not None:
        bands = bands.join(
            hot_keys(bands, key_cols, max_bucket_size), key_cols, "left_anti"
        )
    a = bands.alias("a")
    b = bands.alias("b")
    join_cond = F.col("a.doc_id") < F.col("b.doc_id")
    for kc in key_cols:
        join_cond = (F.col(f"a.{kc}") == F.col(f"b.{kc}")) & join_cond
    candidates = (
        a.join(b, join_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_jaccard(
        candidates, shingled, "doc_a", "doc_b", threshold
    ).select("doc_a", "doc_b", "jaccard")


def _md5_band_table(
    shingled: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """(doc_id, band, band_key) LSH band table on the engine-neutral
    md5 hash family — the build behind minhash_lsh_pairs_md5 (full
    self-join witness) and dedup_incoming_minhash_md5 (incoming probe
    witness).  One md5 per shingle feeds Broder's 2-universal linear
    family: h1 = 60 digest bits, h2 = the next 56, seed-i hash =
    (h1 + i*h2) mod 2^60 — exact integer arithmetic both engines
    replay bit-for-bit."""
    exploded = (
        shingled.select("doc_id", F.explode("shingles").alias("s"))
        .withColumn("md", F.md5("s"))
        .select(
            "doc_id",
            hex_long("md", 1, 15).alias("h1"),
            hex_long("md", 16, 14).alias("h2"),
        )
    )
    mask = (1 << 60) - 1
    sigs = exploded.groupBy("doc_id").agg(
        *[
            F.expr(f"min((h1 + {i} * h2) & {mask}) AS h{i}")
            for i in range(num_hashes)
        ]
    )
    return _band_table(sigs, num_hashes, band_size, "band_key")


def minhash_lsh_pairs_md5(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.35,
    num_hashes: int = 32,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """X2 — the MinHash/LSH pipeline on an engine-neutral hash family,
    making the WHOLE band/bucket/verify mechanism oracle-checkable.

    Same algorithm as minhash_lsh_pairs (signatures -> banded buckets ->
    candidate equi-join -> exact-Jaccard verify); two deliberate
    substitutions keep every intermediate replayable in DuckDB:

    * per-seed hashes come from ONE md5 per shingle feeding a
      2-universal family (Broder's linear permutations): h1 = 60 bits
      of the digest, h2 = the next 56, seed-i hash = (h1 + i*h2) mod
      2^60 — exact integer arithmetic both engines replay bit-for-bit
      (all terms < 2^62, safe under ANSI), one md5 instead of
      num_hashes of them;
    * band keys are the plain comma-joined signature slices (exact
      string equality both engines) instead of hashed band values.

    Verified output is identical in distribution to the production
    tier's (both emit exactly the candidate pairs whose true Jaccard
    clears the threshold); on driver testdata the two emit the SAME
    pair set (pinned in tests/test_dedup_guards.py).  The bucket join
    + verification pipeline IS the production tier's
    (_lsh_pairs_verify): only the band-table hash family differs.
    """
    shingled = _shingle_index(spark, sf_dir, n)
    bands = _md5_band_table(shingled, num_hashes, band_size)
    verified = _lsh_pairs_verify(
        bands, shingled, ["band", "band_key"], threshold, max_bucket_size
    )
    verified._cached_deps = [shingled]
    return verified


def dedup_incoming_minhash_md5(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    incoming_pct: int = 10,
    n: int = 3,
    num_hashes: int = 32,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """X2 — the INCOMING-PROBE near-dup mechanism on the engine-neutral
    md5 hash family: the oracle-checked witness for
    dedup_incoming_minhash (whose xxhash64 signatures keep it
    rows-only), like the MinHash and SimHash md5 twins.

    Same pipeline as the production tier: the incoming slice
    (deterministic md5 bucket, salt 'inc' — identical split to
    dedup_incoming) probes the EXISTING corpus's band table, so the
    candidate space is incoming x existing only (no self-pairs on
    either side); candidates verify with exact shingle Jaccard and
    each incoming doc keeps its best match (highest jaccard, lowest
    existing doc_id on ties).  The md5 band table is the shared
    _md5_band_table build, so every intermediate — bucket split, band
    keys, candidate join, verification, best-match window — replays in
    DuckDB and the driver hash-checks the whole mechanism end to end.

    Scale shape is the production tier's: per-batch cost scales with
    the incoming slice, the corpus band table is the precomputed index
    each crawl probes."""
    shingled = _shingle_index(spark, sf_dir, n)
    bands = _cache_once(_md5_band_table(shingled, num_hashes, band_size))
    best = _incoming_probe_best_match(
        bands, shingled, ["band", "band_key"], threshold, incoming_pct,
        max_bucket_size,
    )
    best._cached_deps = [shingled, bands]
    return best


def _incoming_probe_best_match(
    bands: DataFrame,
    shingled: DataFrame,
    key_cols: list,
    threshold: float,
    incoming_pct: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Incoming-vs-existing probe pipeline behind both incoming near-dup
    tiers (dedup_incoming_minhash on xxhash band_hash keys,
    dedup_incoming_minhash_md5 on md5 band_key strings): md5 'inc'
    slice split, optional hot-bucket excision (width measured over
    both slices), incoming x existing candidate equi-join on
    ``key_cols``, exact shingle-Jaccard verification, and the
    best-match rule (highest jaccard, lowest existing doc_id)."""
    from .sampling import _bucket

    bands = bands.withColumn("bucket", _bucket(F.col("doc_id"), "inc"))
    if max_bucket_size is not None:
        bands = bands.join(
            hot_keys(bands, key_cols, max_bucket_size), key_cols, "left_anti"
        )
    cut = 100 - incoming_pct
    inc = bands.filter(F.col("bucket") >= cut).select(
        F.col("doc_id").alias("doc_new"), *key_cols
    )
    ref = bands.filter(F.col("bucket") < cut).select(
        F.col("doc_id").alias("doc_ref"), *key_cols
    )
    candidates = (
        inc.join(ref, key_cols).select("doc_new", "doc_ref").distinct()
    )
    verified = _verify_jaccard(
        candidates, shingled, "doc_new", "doc_ref", threshold
    )
    # best-match argmax as a partial-aggregating max(struct) — the
    # (jaccard DESC, doc_ref ASC) rule as max of (jaccard, -doc_ref);
    # map-side combine instead of a window exchange + sort over the
    # candidate-pair frame (same rewrite as the similarity family's
    # _nearest_cell)
    return (
        verified.groupBy("doc_new")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard").alias("j"),
                    (-F.col("doc_ref")).alias("nr"),
                )
            ).alias("m")
        )
        .select(
            F.col("doc_new").alias("doc_id"),
            (-F.col("m.nr")).alias("near_dup_of"),
            F.col("m.j").alias("jaccard"),
        )
    )


def unpersist_deps(df: DataFrame) -> None:
    """Release cached intermediates attached by minhash_lsh_pairs once
    the result has been fully materialized (blocking=False: eviction is
    async, correctness never depends on it)."""
    for dep in getattr(df, "_cached_deps", ()):
        dep.unpersist()


def _cache_once(df: DataFrame) -> DataFrame:
    """cache() unless this plan is already in the CacheManager.

    Several registry queries build the same minhash sub-plan in one
    session; a fresh DataFrame over an already-cached plan reports the
    cached storage level (CacheManager lookup is by plan, not object),
    so calling .cache() again would log "Asked to cache already cached
    data" and, at scale, double-pin the blocks.  After unpersist_deps
    the level drops back to NONE and the next caller re-caches."""
    lvl = df.storageLevel
    return df if (lvl.useMemory or lvl.useDisk) else df.cache()


# -- tier 5: SimHash -------------------------------------------------------


def simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """X2 — 64-bit SimHash near-dup: bit-majority over token hashes,
    4x16-bit chunk banding, Hamming-verified.  All JVM-side.

    The majority test is sum(bit_i) doubled against the token count
    (equivalent to the textbook ±1 sum being positive: sum(±1) > 0 <=>
    2*#ones > n), and all aggregate/assembly expressions are built as
    SQL strings parsed JVM-side in one shot.  The earlier
    Column-at-a-time form (64 conditional sums + a 64-deep bitwiseXOR
    chain) spent ~3.5 s of *driver-side plan construction* per call —
    hundreds of py4j round-trips — before a byte of data moved;
    measured 2x faster end-to-end at sf0.001 with identical output.

    The 64 per-bit counters are packed 3-per-long into 16 lane
    aggregates plus 16 plain sums (SIMD-in-a-register on the
    aggregation state): lane j accumulates bit-positions {j, j+16,
    j+32} in 16-bit fields and position j+48 in its own unpacked sum.
    Fields can't carry into each other while every per-doc distinct
    token count stays under 2^16 (guarded with a lazy assert_true).
    The top field is deliberately NOT packed: under Spark 4's default
    ANSI mode a field at shift 48 would push the signed-64 running sum
    past Long.MAX at n_tok >= 2^15 and raise ARITHMETIC_OVERFLOW
    *during aggregation*, before the guard projection ever evaluates;
    with the top shift at 32 the packed sum stays < n_tok * 2^33, so
    overflow would need n_tok >= 2^30 — unreachable for a document —
    and the carry guard always fires first.  Packing measured 1.47x
    faster than 64 separate sums on the signature stage at sf0.1
    (0.53 s -> 0.36 s warm), byte-identical output.  The sign bit of
    the final assembly is safe: the 64 shifted terms are bit-disjoint,
    so their sum is their bitwise OR, no carries.
    """
    docs = _documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("token")
    ).withColumn("h", F.xxhash64("token"))

    lanes = [
        f"sum(((h >> {j}) & 1) + (((h >> {j + 16}) & 1) << 16)"
        f" + (((h >> {j + 32}) & 1) << 32)) AS lane{j}"
        for j in range(16)
    ] + [f"sum((h >> {j + 48}) & 1) AS hi{j}" for j in range(16)]
    bit_sums = (
        tok.groupBy("doc_id")
        .agg(F.expr("count(*) AS n_tok"), *[F.expr(lane) for lane in lanes])
        .withColumn(
            "_g",
            F.assert_true(
                F.col("n_tok") < (1 << 16),
                F.lit("simhash lane overflow: doc has >= 2^16 tokens"),
            ),
        )
        .filter(F.col("_g").isNull())  # assert_true: NULL when it passes
        .drop("_g")
    )

    def _bit(i: int) -> str:
        lane, field = i % 16, i // 16
        if field == 3:  # top 16 bits live in their own unpacked sums
            return f"(CAST(IF(2*hi{lane} > n_tok, 1, 0) AS BIGINT) << {i})"
        return (
            f"(CAST(IF(2*((lane{lane} >> {16 * field}) & 65535) > n_tok,"
            f" 1, 0) AS BIGINT) << {i})"
        )

    assembly = " + ".join(_bit(i) for i in range(64))
    sigs = bit_sums.select("doc_id", F.expr(assembly).alias("simhash"))
    return _simhash_chunk_join(sigs, chunk_bits=16, max_hamming=max_hamming)


def _simhash_chunk_join(
    sigs: DataFrame, chunk_bits: int, max_hamming: int
) -> DataFrame:
    """Shared chunk-banding + bucket self-join + Hamming verification
    behind BOTH SimHash tiers (simhash_pairs' 64-bit xxhash64
    signatures in 4x16-bit chunks, simhash_pairs_md5's 60-bit md5
    signatures in 4x15-bit chunks) — the signature hash family is the
    only difference between the tiers.
    ``sigs``: (doc_id, simhash long)."""
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.chunk_val")

    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- dedup clustering: connected components over near-dup pairs ------------


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014, alg. 2): every node links
    its LARGER neighbors to the minimum of its closed neighborhood.

    Implemented as a window-min over ``partitionBy(a)`` — ONE exchange,
    and the input subtree is referenced exactly once.  The previous
    groupBy-min + join-back shape referenced its input twice per star
    (aggregate side + probe side) and, composed into a round-pair,
    three times; Catalyst pushed different parent predicates into each
    copy, the specialized copies no longer canonicalized equal, so
    ReuseExchange never fired and one star round executed ELEVEN
    exchanges (round-15 plan audit; the window round-pair executes 3 —
    measured 22 -> 14 AQE stage-jobs and −32% wall on the sf0.1 CC
    portion, byte-identical per-round output on chain/hub/random
    graphs vs both the old shape and a union-find oracle).

    Skew: a hub's neighborhood becomes one window partition processed
    by one task — a LINEAR streaming min over a spillable row buffer,
    never a wide row (no collect_set).  The join-back shape could
    AQE-skew-split a hub's probe rows across tasks, but it paid two
    extra exchanges plus a sort-merge join per star EVERY round to
    parallelize a pathology the alternation itself dismantles in
    O(log n) rounds — and its SMJ sorted the same hash(a) partitions
    anyway, so per-partition work is the same O(d log d) sort either
    way.  The symmetric orientation means one partition(u) sees
    Γ(u)."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    w = Window.partitionBy("a")
    return (
        sym.select(
            "a", "b", F.least(F.min("b").over(w), F.col("a")).alias("m")
        )
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round (alg. 3): orient edges larger->smaller; every
    node links its smaller neighbors (and itself) to their minimum.

    Same single-reference window-min shape as ``_large_star`` (the
    oriented edges all have b < a, so the closed-neighborhood minimum
    is just min(b)).  Both outputs of the round — the member links
    (b, m) and the center self-links (a, m) — are emitted from the ONE
    windowed pass via a 2-array explode (in-place row doubling, no
    shuffle, no second reference to the input subtree); the trailing
    distinct collapses the per-row self-link duplicates and is the
    round-pair's set-canonicalization the convergence count relies
    on."""
    oriented = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    w = Window.partitionBy("a")
    j = oriented.select("a", "b", F.min("b").over(w).alias("m"))
    return (
        j.select(
            F.explode(
                F.array(
                    F.struct(F.col("b").alias("a"), F.col("m").alias("b")),
                    F.struct(F.col("a").alias("a"), F.col("m").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) -> (node, component).

    Component id = min reachable node, over the non-self-loop edges (a
    node whose only edge is a self-loop gets no row).  The 100 TB shape:
    each round rewrites the EDGE set toward star graphs instead of
    joining a full label table against every edge (min-label
    propagation), converging in O(log^2 n) rounds vs O(diameter), and the
    per-key width after a large-star round is bounded by the
    neighborhood minimum's degree, which small-star immediately
    collapses — the skew a long chain or hub builds up is dismantled a
    round later rather than re-joined every round.  Both star rounds
    are single-exchange window-mins (no collect_set), so per-ROW width
    is O(1) regardless of degree: safe not just on LSH-capped dedup
    graphs but on |V|-bounded neighborhoods like the page graph
    (graph.page_components), where a hub page's degree is unbounded
    (see _large_star's docstring for the window-vs-join-back skew
    tradeoff).  Genuinely iterative -> no SQL oracle (rows-only check).
    """
    # lazy checkpoints here too: the n_edges count materializes ``e``
    # (one setup job instead of two), and ``nodes`` — consumed exactly
    # once, by the caller's final join — materializes inside that
    # consumer's job instead of paying an eager job of its own
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    for _ in range(max_iter):
        # LAZY checkpoint: the convergence count below is the action
        # that materializes it, so each round costs ONE job (the
        # round-14 bench board's three most expensive queries were all
        # fixed-iteration loops paying an eager-checkpoint job PLUS a
        # count job per round — the count is the materialization)
        e_next = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # fixed-point check (all stars): both sides are distinct sets,
        # so equal counts + empty one-way difference <=> equality —
        # one exceptAll job instead of two, skipped entirely while the
        # edge count is still shrinking
        n_next = e_next.count()
        changed = (
            1 if n_next != n_edges else e_next.exceptAll(e).count()
        )
        e, n_edges = e_next, n_next
        if changed == 0:
            break
    # fixed point = disjoint stars centered at each component's minimum:
    # every remaining edge is (member, center)
    centers = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    return nodes.join(centers, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.35,
    pair_tier: str = "exact",
) -> DataFrame:
    """X2 — duplicate clusters from verified near-dup pairs: one row per
    clustered doc with its cluster id and the canonical-keep flag
    (lowest doc_id in the cluster survives).

    The pair-generation tier is pluggable; the star-alternation CC on
    top is identical either way:

    * ``"exact"`` (default, graded): the inverted-index n-gram Jaccard
      tier — every stage deterministic and engine-neutral, so the WHOLE
      composition (pairs + iterative clustering) replays in the DuckDB
      oracle as a recursive transitive-closure CTE and is hash-checked,
      not just row-counted.
    * ``"lsh"``: the MinHash/LSH tier — the 100 TB candidate path.
      xxhash64 signatures aren't replayable in the oracle, so this
      variant is graded rows-only (``dedup_clusters_lsh``).  Both tiers
      verify candidates against the same exact-Jaccard threshold, so
      LSH output is a subset of the exact tier's (identical on driver
      data — asserted in tests/test_dedup_guards.py).
    """
    pair_fns = {"exact": ngram_jaccard_pairs, "lsh": minhash_lsh_pairs}
    if pair_tier not in pair_fns:
        raise ValueError(
            f"pair_tier must be 'exact' or 'lsh', got {pair_tier!r}"
        )
    pairs = pair_fns[pair_tier](spark, sf_dir, threshold=threshold)
    try:
        # the star alternation localCheckpoint()s the edge set up front,
        # so the pair computation (and the caches the pair tier attached
        # to it) runs exactly once ...
        comp = connected_components_star(pairs)
    finally:
        # ... and can be released as soon as that materialization is
        # done, even though the returned DataFrame is still lazy.
        unpersist_deps(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


def contained_documents(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    max_anchor_df: int | None = None,
) -> DataFrame:
    """X2 — truncation-duplicate tier: documents whose full normalized
    token sequence appears VERBATIM inside another document.  Catches
    the truncated/re-crawled/quoted-in-full duplicates that whole-doc
    hashing misses (unequal hashes) and Jaccard under-scores (a short
    doc inside a long one has low Jaccard).

    Same rarest-ngram-anchor machinery as decontaminate_exact, but
    self-referential over the whole corpus: anchor df counts include
    the doc itself, a containment requires a DIFFERENT doc, and exact
    duplicates canonicalize keep-lowest-id (doc_id X counts as
    contained only by equal-text docs with smaller id, so each exact
    group's minimum survives).  Docs with < n tokens are not checked.

    Registered for driver grading in round 7 (round-6 window is
    saturated); CONTAINED_DOCUMENTS_ORACLE_SQL below is parity-tested
    already.
    """
    docs = _documents(spark, sf_dir)
    base = docs.select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    ).withColumn(
        "norm_text",
        F.concat(F.lit(" "), F.concat_ws(" ", F.col("tokens")), F.lit(" ")),
    )
    sh = base.filter(F.size("tokens") >= n).select(
        "doc_id", F.explode(_shingles(F.col("tokens"), n)).alias("shingle")
    )
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    anchors = (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "shingle")).alias("a"))
        .filter(F.col("a.df") > 1)  # df==1 = only the doc itself
    )
    if max_anchor_df is not None:
        # hot-anchor cap (same doctrine as the band-bucket caps): the
        # anchor join fans out by the RAREST shared shingle's df, so a
        # doc whose least-common shingle is still shared by > cap docs
        # is wall-to-wall boilerplate or an exact-dup clique — both
        # owned by the hash/normalized tiers — and is excised rather
        # than allowed a df-wide probe.
        anchors = anchors.filter(F.col("a.df") <= max_anchor_df)
    anchors = anchors.select("doc_id", F.col("a.shingle").alias("anchor"))
    cands = (
        anchors.withColumnRenamed("doc_id", "inner_doc_id")
        .join(
            sh.select(
                F.col("doc_id").alias("container_doc_id"),
                F.col("shingle").alias("anchor"),
            ),
            "anchor",
        )
        .filter(F.col("inner_doc_id") != F.col("container_doc_id"))
    )
    texts = base.select("doc_id", "norm_text")
    verified = (
        cands.join(
            texts.select(
                F.col("doc_id").alias("inner_doc_id"),
                F.col("norm_text").alias("e_norm"),
            ),
            "inner_doc_id",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("container_doc_id"),
                F.col("norm_text").alias("t_norm"),
            ),
            "container_doc_id",
        )
        .filter(
            F.col("t_norm").contains(F.col("e_norm"))
            & (
                (F.length("t_norm") > F.length("e_norm"))
                | (
                    (F.col("t_norm") == F.col("e_norm"))
                    & (F.col("container_doc_id") < F.col("inner_doc_id"))
                )
            )
        )
    )
    return verified.groupBy(F.col("inner_doc_id").alias("doc_id")).agg(
        F.count("*").alias("n_containers"),
        F.min("container_doc_id").alias("first_container_id"),
        F.max((F.col("t_norm") == F.col("e_norm")).cast("int"))
        .cast("boolean")
        .alias("any_exact"),
    )


# DuckDB twin for contained_documents — parity-tested now
# (tests/test_dedup_guards.py), wired into register() in round 7.
CONTAINED_DOCUMENTS_ORACLE_SQL = (
    """
WITH tok AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), nrm AS (
    SELECT doc_id, tokens,
           ' ' || array_to_string(tokens, ' ') || ' ' AS norm_text
    FROM tok
), sh AS (
    SELECT doc_id,
           list_distinct(["""
    + " || ' ' || ".join(f"tokens[i+{j}]" for j in range(5))
    + """
               FOR i IN range(1, GREATEST(len(tokens) - 4, 0) + 1)
           ]) AS shingles
    FROM nrm WHERE len(tokens) >= 5
), ex AS (
    SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
), dfc AS (
    SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle
), ranked AS (
    SELECT ex.doc_id, ex.shingle, dfc.df,
           ROW_NUMBER() OVER (PARTITION BY ex.doc_id
                              ORDER BY dfc.df, ex.shingle) AS rn
    FROM ex JOIN dfc USING (shingle)
), anch AS (
    SELECT doc_id AS inner_doc_id, shingle AS anchor
    FROM ranked WHERE rn = 1 AND df > 1
), cand AS (
    SELECT a.inner_doc_id, t.doc_id AS container_doc_id
    FROM anch a JOIN ex t ON a.anchor = t.shingle
    WHERE a.inner_doc_id <> t.doc_id
), v AS (
    SELECT c.inner_doc_id, c.container_doc_id,
           en.norm_text AS e_norm, tn.norm_text AS t_norm
    FROM cand c
    JOIN nrm en ON en.doc_id = c.inner_doc_id
    JOIN nrm tn ON tn.doc_id = c.container_doc_id
    WHERE position(en.norm_text IN tn.norm_text) > 0
      AND (len(tn.norm_text) > len(en.norm_text)
           OR (tn.norm_text = en.norm_text
               AND c.container_doc_id < c.inner_doc_id))
)
SELECT inner_doc_id AS doc_id, COUNT(*) AS n_containers,
       MIN(container_doc_id) AS first_container_id,
       CAST(MAX(CASE WHEN e_norm = t_norm THEN 1 ELSE 0 END) AS BOOLEAN)
           AS any_exact
FROM v GROUP BY inner_doc_id
"""
)


# -- cross-source overlap matrix: the boilerplate-flow dataset card -------

SOURCE_OVERLAP_N = 8
SOURCE_OVERLAP_MAX_SRC = 64


def source_overlap_matrix(
    spark,
    sf_dir: str,
    n: int = SOURCE_OVERLAP_N,
    max_sources_per_passage: int = SOURCE_OVERLAP_MAX_SRC,
) -> DataFrame:
    """X2/dataset-card — the cross-SOURCE boilerplate/contamination
    matrix: for every pair of sources, how many distinct n-token
    passages they share, and the passage-set Jaccard.  corpus_report
    cards each source in isolation; this is the pairwise view that
    shows WHERE duplicated material flows between feeds — the check
    run before mixing two crawls or licensing a new corpus slice.

    Scale shape (round-8 form): distinct (source, passage) is one
    exchange, then ONE passage-keyed aggregation collects each
    passage's source set — the pair space is an in-array combination
    over that set (<= `max_sources_per_passage`^2/2 structs per
    passage, generated JVM-side), never a self-join, so the cap bounds
    an array instead of policing join fan-out (passages syndicated to
    more sources than the cap are everywhere-boilerplate — dropped
    from the matrix and from the per-source sizes, so the Jaccard
    stays internally consistent over the capped passage space; the cap
    is the same hot-key discipline as ngram_jaccard's max_shingle_df).
    Per-source sizes broadcast into the final projection."""
    docs = _documents(spark, sf_dir)
    sp = docs.select(
        "source",
        F.explode(_shingles(_tokens(F.col("text")), n)).alias("passage"),
    ).distinct()
    # ONE passage-keyed aggregation yields the source set per passage;
    # the cap check (set size), the per-source sizes (explode back) and
    # the pair space (in-array combination, <= cap^2/2 structs per
    # passage, JVM-side) all derive from it.  Round 8 replaced the
    # df-count join-back + passage self-join formulation — two more
    # passage-wide shuffles and a join whose fan-out the cap had to
    # police — with this grouped form; the cap now bounds an array
    # instead of a join, and the output is unchanged (hash-checked).
    grouped = (
        sp.groupBy("passage")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") <= max_sources_per_passage)
    )
    sizes = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_passages"))
    )
    pair_expr = F.expr(
        "flatten(transform(srcs, (x, i) -> transform("
        "slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    pairs = (
        grouped.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_passages").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_passages").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("passage_jaccard"),
        )
    )


# DuckDB twin for source_overlap_matrix — parity-tested now
# (tests/test_dedup_guards.py), wired into register() in round 7.
SOURCE_OVERLAP_ORACLE_SQL = f"""
WITH tok AS (
    SELECT source, list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), sh AS (
    SELECT DISTINCT source,
           array_to_string(list_slice(tokens, i,
               i + {SOURCE_OVERLAP_N} - 1), ' ') AS passage
    FROM tok,
         UNNEST(range(1, len(tokens) - {SOURCE_OVERLAP_N} + 2)) t(i)
    WHERE len(tokens) >= {SOURCE_OVERLAP_N}
), dfs AS (
    SELECT passage, COUNT(*) AS n_src FROM sh GROUP BY 1
), keep AS (
    SELECT sh.source, sh.passage
    FROM sh JOIN dfs USING (passage)
    WHERE n_src <= {SOURCE_OVERLAP_MAX_SRC}
), sizes AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM keep GROUP BY 1
), pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM keep a JOIN keep b
      ON a.passage = b.passage AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       ROUND(n_shared::DOUBLE / (x.n + y.n - n_shared), 6)
           AS passage_jaccard
FROM pairs
JOIN sizes x ON x.source = source_a
JOIN sizes y ON y.source = source_b
"""


# -- repeated-span scrub: the transform complement of duplicate_passages --

PASSAGE_SCRUB_BLOCK = 8
PASSAGE_SCRUB_MAX_DF = 2


def _block_grid(tokens_col, block: int):
    """Non-overlapping `block`-token spans as strings, in order —
    shared by the batch scrub, the hot-span miner and the streaming
    scrub so the grid definition can never diverge."""
    nblk = F.ceil(F.size(tokens_col) / F.lit(float(block))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nblk - 1),
        lambda i: F.array_join(
            F.slice(tokens_col, i * block + 1, block), " "
        ),
    )


def hot_passage_spans(
    spark,
    sf_dir: str,
    block: int = PASSAGE_SCRUB_BLOCK,
    max_df: int = PASSAGE_SCRUB_MAX_DF,
) -> DataFrame:
    """The boilerplate span list passage_scrub strikes: grid spans in
    more than `max_df` distinct documents (two-level aggregate; tiny
    by construction — this is the static side of the streaming
    scrub)."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") > 0)
    blocks = toks.select(
        "doc_id",
        F.explode(_block_grid(F.col("tokens"), block)).alias("btext"),
    )
    return hot_keys(blocks.distinct(), ["btext"], max_df)


def passage_scrub(
    spark,
    sf_dir: str,
    block: int = PASSAGE_SCRUB_BLOCK,
    max_df: int = PASSAGE_SCRUB_MAX_DF,
) -> DataFrame:
    """X2 (repeated-span REMOVAL tier) — strike cross-document
    boilerplate spans from the text and reassemble each document:
    duplicate_passages MINES the repeated spans; this is the transform
    its docstring promises downstream ("strike the spans from the
    text"), the C4/RefinedWeb-style scrub emitting training-ready
    cleaned text rather than a report.

    Documents are cut into NON-overlapping `block`-token spans (the
    overlap-free grid makes removal well-defined — overlapping windows
    cannot be struck independently); a span is boilerplate when it
    occurs in more than `max_df` distinct documents.  Output per doc:
    block counts and `cleaned_text` = the surviving spans rejoined in
    original order.

    Scale shape: one explode; span document-frequency is a two-level
    aggregate (per-(doc, span) distinct first, so the per-key width is
    bounded by |docs|, never |occurrences|); the hot-span list is tiny
    by construction (spans above a df cutoff) and broadcasts into the
    strike join; reassembly groups on doc_id — per-doc state is the
    doc's own span list, the same bound the corpus already carries.
    Zero-token docs drop (no spans), matching the oracle."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") > 0)
    blocks = toks.select(
        "doc_id",
        F.posexplode(_block_grid(F.col("tokens"), block)).alias(
            "pos", "btext"
        ),
    )
    hot = hot_passage_spans(spark, sf_dir, block, max_df).select(
        "btext", F.lit(1).alias("hot")
    )
    flagged = blocks.join(F.broadcast(hot), "btext", "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(
            F.when(F.col("hot").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_scrubbed"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("hot").isNull(),
                            F.struct(F.col("pos"), F.col("btext")),
                        )
                    )
                ),
                lambda s: s["btext"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


# DuckDB twin for passage_scrub — parity-tested now
# (tests/test_dedup_guards.py), wired into register() in round 7.
PASSAGE_SCRUB_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), blk AS (
    SELECT doc_id, i AS pos,
           array_to_string(
               list_slice(tokens,
                          i * {PASSAGE_SCRUB_BLOCK} + 1,
                          i * {PASSAGE_SCRUB_BLOCK} + {PASSAGE_SCRUB_BLOCK}),
               ' ') AS btext
    FROM tok,
         UNNEST(range(0, CAST(ceil(len(tokens)
             / {PASSAGE_SCRUB_BLOCK}.0) AS INT))) t(i)
    WHERE len(tokens) > 0
), dfc AS (
    SELECT btext, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, btext FROM blk) GROUP BY 1
), hot AS (
    SELECT btext FROM dfc WHERE df > {PASSAGE_SCRUB_MAX_DF}
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN h.btext IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_scrubbed,
       COALESCE(string_agg(CASE WHEN h.btext IS NULL THEN b.btext END,
                           ' ' ORDER BY b.pos), '') AS cleaned_text
FROM blk b LEFT JOIN hot h ON b.btext = h.btext
GROUP BY 1
"""


# -- tier: embedding cosine near-dup (SQL-checkable, label-blocked) --------


def embedding_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    max_block_size: int | None = 100_000,
) -> DataFrame:
    """X2 — embedding near-dup pairs within label blocks.

    Label blocking keeps the pair space |block|^2 x |labels| instead of
    |corpus|^2 — but a dominant label is all-pairs in disguise, so the
    block width is guarded: every row carries a lazy ``assert_true``
    that its label's block is within ``max_block_size``, and the query
    FAILS (rather than silently running a ~|corpus|^2 join) when a
    block is wider.  The guard is a window COUNT over the label block —
    it rides the very hash-partitioning the self-join needs (no extra
    aggregation job, no broadcast; measured ~0.5s cheaper than the
    count+broadcast-join form at sf0.1), changes no result shape, and
    keeps the DuckDB oracle in lockstep.  Corpora that trip it should
    use the LSH tiers (minhash_lsh_pairs / similarity.knn_lsh), which
    bound candidate generation by construction.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    if max_block_size is not None:
        guard = F.assert_true(
            F.count("*").over(Window.partitionBy("label"))
            <= max_block_size,
            F.concat(
                F.lit("embedding_cosine_pairs: label block '"),
                F.col("label"),
                F.lit(f"' exceeds max_block_size={max_block_size}; "),
                F.lit("use the LSH tier for corpora this skewed"),
            ),
        )
        emb = (
            emb.withColumn("_g", guard)
            .filter(F.col("_g").isNull())  # assert_true: NULL when it passes
            .drop("_g")
        )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    with_norm = emb.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            "cosine",
        )
    )


def embedding_srp_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    num_planes: int = 3,
    max_block_size: int | None = 100_000,
) -> DataFrame:
    """X2 (embedding scale tier) — signed-projection sub-blocked cosine
    near-dup: the quadratic-capped form of embedding_cosine_pairs.

    Pairs are compared only within (label, srp_bucket), where the
    bucket is the K-bit sign pattern of the vector against K
    DETERMINISTIC Hadamard-sign hyperplanes c(k, i) = (-1)^((i>>k)&1).
    Determinism is the point: unlike the random-matrix LSH in
    similarity.knn_lsh, both engines can evaluate the same planes with
    the same index-order summation, so this *approximate* tier is
    itself ORACLE-CHECKED — the DuckDB twin mirrors the bucketing
    bit-for-bit rather than falling back to a rows-only check.

    Scale shape: 2^K sub-blocks divide each label block's |B|^2 pair
    space by ~2^K (uniform case); recall for a pair at angle θ is the
    SRP collision law (1 - θ/π)^K — raise K for bigger corpora, at a
    measured recall cost (pinned in tests/test_dedup_guards.py).  The
    same lazy width guard as embedding_cosine_pairs applies per
    (label, bucket), so a degenerate corpus fails loudly, never
    silently quadratic.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # one select, one composite expr: chaining K withColumns re-analyzes
    # the HOF-bearing plan K times (measured ~0.8s of pure driver-side
    # analysis at K=3 — same py4j/analysis lesson as simhash)
    bucket = " + ".join(
        f"(CAST((aggregate(sequence(0, size(v)-1), 0.0D, (acc, i) -> "
        f"acc + element_at(v, i+1) * IF(((i >> {k}) & 1) = 0, 1.0D, -1.0D)"
        f") >= 0.0D) AS BIGINT) << {k})"
        for k in range(num_planes)
    )
    emb = emb.select("vec_id", "label", "v", F.expr(bucket).alias("bucket"))
    if max_block_size is not None:
        # window count, not count+broadcast-join: the window partitions
        # by exactly the self-join keys, so the guard rides the join's
        # own shuffle instead of adding an aggregation job
        guard = F.assert_true(
            F.count("*").over(Window.partitionBy("label", "bucket"))
            <= max_block_size,
            F.concat(
                F.lit("embedding_srp_pairs: block ('"),
                F.col("label"),
                F.lit("', "),
                F.col("bucket"),
                F.lit(f") exceeds max_block_size={max_block_size}; raise "),
                F.lit("num_planes for this corpus"),
            ),
        )
        emb = (
            emb.withColumn("_g", guard)
            .filter(F.col("_g").isNull())
            .drop("_g")
        )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    with_norm = emb.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.col("a.bucket").alias("bucket"),
            "cosine",
        )
    )


def _cell_assignment(
    corpus: DataFrame, n_cells: int, cache: bool = True
) -> DataFrame:
    """Shared coarse-quantizer assignment for the embedding-space
    curation pair (dedup_semantic / prototype_prune): the first
    ``n_cells`` vectors serve as deterministic centroids (knn_ivf's
    contract — at scale these come from the shipped kmeans_centroids
    trainer, run offline), centroids broadcast, assignment is a
    map-side argmax.  Returns the corpus-with-assignment frame
    (vec_id, v, norm, cell_id, centroid_cos rounded to 6 dp), CACHED
    by default because dedup_semantic's within-cell self-join reads
    it twice — uncached, the n_cells-way scoring pass (and the
    embeddings scan under it) re-executes per side (6 scans measured
    before the round-8 cache; 1 after).  Pass ``cache=False`` from a
    single-read consumer (prototype_prune's window chain) where the
    materialization would buy nothing."""
    from ..io import spread_small_scan
    from .similarity import _dot, _packed_candidates

    # the fold below keeps the SCAN's partitioning (that is the point:
    # no exchange ever carries the corpus), so a narrower-than-cores
    # batch scan must be spread here or the fold and everything
    # downstream of the cached assignment runs single-task — the old
    # aggregate's exchange did this incidentally; the guard is a no-op
    # at real scale (io.spread_small_scan contract)
    corpus = spread_small_scan(corpus, "vec_id")
    centroids = corpus.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    # centroid-assignment argmax as a map-side array fold over the
    # packed centroid broadcast — array_max over (c, -cell_id) structs
    # is the exact (cosine DESC, cell_id ASC) total order the old
    # max(struct) aggregate encoded, but with NO exchange at all: the
    # aggregate form still shuffled one combined (vec_id, v, norm) row
    # per corpus key (round-15 optimization; plans/r15/)
    cands = _packed_candidates(centroids, "cell_id", "cv", "cnorm")
    best = F.array_max(
        F.transform(
            F.col("__cands"),
            lambda cc: F.struct(
                (
                    _dot(F.col("v"), cc["cv"]) / (F.col("norm") * cc["cnorm"])
                ).alias("c"),
                (-cc["cell_id"]).alias("nc"),
            ),
        )
    )
    out = (
        corpus.crossJoin(cands)
        .withColumn("__m", best)
        # empty-candidate guard: the old inner cross join emitted no
        # rows when centroids was empty; the fold yields NULL there
        .filter(F.col("__m").isNotNull())
        .select(
            "vec_id",
            "v",
            "norm",
            (-F.col("__m.nc")).alias("cell_id"),
            F.round(F.col("__m.c"), 6).alias("centroid_cos"),
        )
    )
    return out.cache() if cache else out


def dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    tau: float = 0.4,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (Abbas et al. 2023 shape):
    cluster the embedding space coarsely, then drop near-identical
    vectors WITHIN each cluster — the cross-cluster pair space is never
    touched, which is the whole scale story.

    Coarse quantizer: the first ``n_cells`` vectors serve as
    deterministic centroids (same contract as knn_ivf — at scale these
    come from the shipped kmeans_centroids trainer, run offline), so
    assignment and therefore the entire output is replayable by a SQL
    oracle.  Within a cell, a vector is a duplicate if some LOWER-id
    cellmate has cosine >= tau; it records its lowest-id such cellmate
    as ``dup_of`` (keep-lowest-id canonicalization; the paper's
    keep-farthest-from-centroid variant is the same plan with the
    ordering swapped to centroid_cos).

    Output: one row per vector — (vec_id, cell_id, centroid_cos,
    dup_of, kept).

    Scale shape: centroids broadcast (n_cells rows); assignment is a
    map-side argmax; the within-cell self-join is quadratic ONLY in
    cell size, bounded by the k-means granularity — an oversized cell
    sub-blocks with the shipped SRP bucketing (embedding_srp_pairs)
    without changing semantics.
    """
    from .similarity import _corpus, _dot

    corpus = _corpus(spark, sf_dir)
    assigned = _cell_assignment(corpus, n_cells)
    a = assigned.alias("a")
    b = assigned.alias("b")
    pcos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm")),
        6,
    )
    dups = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(pcos >= tau)
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.min(F.col("b.vec_id")).alias("dup_of"))
    )
    return (
        assigned.select("vec_id", "cell_id", "centroid_cos")
        .join(dups, "vec_id", "left")
        .withColumn("kept", F.col("dup_of").isNull())
    )


def prototype_prune(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    prune_frac: float = 0.25,
) -> DataFrame:
    """SSL-prototype pruning (Sorscher et al. 2022) — the OTHER half
    of the D4 curation recipe (Tirumala et al. 2023: SemDeDup +
    prototype pruning): within each embedding cluster, drop the most
    PROTOTYPICAL fraction — the vectors closest to their centroid,
    which carry the least marginal information once the cluster mode
    is represented — and keep the diverse tail.  With dedup_semantic
    (which drops near-identical cellmates) this completes D4 on the
    shared deterministic coarse quantizer.

    Per cell: rank by rounded centroid cosine DESC (vec_id
    tie-break — fully deterministic on both engines), prune ranks
    1..floor(prune_frac · cell_n).  Output: one row per vector —
    (vec_id, cell_id, centroid_cos, cell_rank, cell_n, pruned).

    Scale shape: assignment is dedup_semantic's broadcast argmax
    (shared, cached); the only shuffle is the per-cell window,
    bounded by cell granularity exactly like the within-cell join —
    n_cells is the knob that keeps cells executor-sized, and an
    oversized cell sub-blocks the same way."""
    from .similarity import _corpus

    corpus = _corpus(spark, sf_dir)
    assigned = _cell_assignment(corpus, n_cells, cache=False)
    wr = Window.partitionBy("cell_id").orderBy(
        F.col("centroid_cos").desc(), "vec_id"
    )
    wc = Window.partitionBy("cell_id")
    return (
        assigned.select("vec_id", "cell_id", "centroid_cos")
        .withColumn("cell_rank", F.row_number().over(wr).cast("long"))
        .withColumn("cell_n", F.count("*").over(wc))
        .withColumn(
            "pruned",
            F.col("cell_rank")
            <= F.floor(F.lit(prune_frac) * F.col("cell_n")),
        )
    )


def simhash_pairs_md5(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """X2 — SimHash on the engine-neutral md5 hash family: the
    oracle-checked witness for simhash_pairs' bit-majority + chunk-band
    + Hamming-verify mechanism (xxhash64 keeps the production tier
    fast; this tier proves the algorithm against the oracle).

    60-bit signatures (15 hex digits of md5 — the widest slice that
    fits a signed BIGINT on both engines), banded as 4 x 15-bit chunks.
    Plain per-bit conditional sums, no lane packing: the witness
    optimizes for being obviously the textbook algorithm, not for
    speed — the packed production form is equality-tested against its
    own unpacked baseline in tests.  The chunk banding + Hamming
    verification IS the production tier's (_simhash_chunk_join, shared
    with simhash_pairs): only the signature hash family differs.
    """
    bits = 60
    docs = _documents(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_tokens(F.col("text")))).alias("token"),
    ).withColumn("h", hex_long(F.md5(F.col("token")), 1, 15))  # 60 bits
    bit_sums = tok.groupBy("doc_id").agg(
        F.expr("count(*) AS n_tok"),
        *[F.expr(f"sum((h >> {i}) & 1) AS b{i}") for i in range(bits)],
    )
    assembly = " + ".join(
        f"(CAST(IF(2*b{i} > n_tok, 1, 0) AS BIGINT) << {i})"
        for i in range(bits)
    )
    sigs = bit_sums.select("doc_id", F.expr(assembly).alias("simhash"))
    return _simhash_chunk_join(sigs, chunk_bits=15, max_hamming=max_hamming)


# -- incremental dedup: new batch against existing corpus ------------------


def dedup_incoming(
    spark: SparkSession, sf_dir: str, incoming_pct: int = 10
) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup: a production pipeline never
    re-dedups 100 TB for each new crawl — it checks the INCOMING slice
    against the existing corpus.  The newest ``incoming_pct``% of
    documents (deterministic md5 bucket, salt 'inc', independent of the
    train/val/test split) plays the new batch; every incoming doc
    resolves to the lowest-id existing duplicate (normalized-hash tier)
    or is_new.

    Scale shape: the existing side collapses to one row per text_hash
    (map-side combinable) before a single equi-join; with the corpus
    hash index stored bucketed by text_hash the join is exchange-free
    on the big side and the incoming batch is the only thing shuffled.
    The LSH tiers refine is_new for near-dups the hash tier misses —
    same join, band keys instead of hashes.
    """
    docs = _documents(spark, sf_dir)
    from .sampling import _bucket

    norm_hash = normalized_text_hash("text")
    hashed = docs.select(
        "doc_id", norm_hash.alias("text_hash"), _bucket(F.col("doc_id"), "inc")
    )
    incoming = hashed.filter(F.col("bucket") >= 100 - incoming_pct)
    existing = hashed.filter(F.col("bucket") < 100 - incoming_pct)
    corpus_index = existing.groupBy("text_hash").agg(
        F.min("doc_id").alias("dup_of")
    )
    return incoming.join(corpus_index, "text_hash", "left").select(
        "doc_id",
        "text_hash",
        "dup_of",
        F.col("dup_of").isNull().alias("is_new"),
    )


def bloom_pos_expr(i_col, hash_col, m_bits: int):
    """THE bit-position formula — md5(i ':' hash) first-6-hex mod
    m_bits — as a single column expression.  Every Bloom consumer
    (batch build, batch probe, streaming k-join probe, DuckDB oracle
    via the '0x'-cast twin) must derive positions from this one
    definition: build/probe agreement is what the no-false-negative
    guarantee rests on."""
    h = F.md5(F.concat(i_col.cast("string"), F.lit(":"), hash_col))
    return hex_long(h, 1, 6) % m_bits


def _bloom_positions(hashed: DataFrame, m_bits: int, k: int) -> DataFrame:
    """(doc_id, text_hash, i, pos) — the k positions of each normalized
    hash in explode form, for the batch prefilter's build and probe."""
    ks = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")
    return hashed.select("doc_id", "text_hash", ks).withColumn(
        "pos", bloom_pos_expr(F.col("i"), F.col("text_hash"), m_bits)
    )


def bloom_set_bits(
    hashed: DataFrame, m_bits: int = 4096, k: int = 3
) -> DataFrame:
    """The corpus Bloom filter as a relational set-bit table: DISTINCT
    positions over the corpus hashes — <= m_bits rows no matter the
    corpus size; union of two filters is this same distinct agg.  Feed
    it to streaming_bloom_probe as the broadcast static side."""
    return _bloom_positions(hashed, m_bits, k).select("pos").distinct()


def bloom_prefilter(
    spark: SparkSession,
    sf_dir: str,
    incoming_pct: int = 10,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter membership prefilter for the incremental pipeline —
    the primitive that sits IN FRONT of dedup_incoming at 100 TB: the
    corpus hash index is petabyte-class, but its Bloom filter is
    m_bits/8 bytes, broadcastable to every executor, so the incoming
    batch drops its certainly-new documents (no false negatives, by
    construction) before the expensive hash join runs on the
    survivors.

    Same slice convention as dedup_incoming (md5 bucket, salt 'inc',
    newest 10% plays the incoming batch).  Build: each existing
    normalized hash sets k=3 bits at md5(i ':' text_hash) % m_bits —
    the set-bit table is DISTINCT positions, <= m_bits rows no matter
    the corpus size (the same bounded-mergeable-state property as the
    CMS/HLL witnesses; union of two filters = union of set bits, i.e.
    the distinct aggregation itself).  Probe: an incoming doc is
    `bloom_hit` iff all k of its positions are set (count == k over a
    broadcast join).  The exact verdict rides along (the same
    corpus-index join dedup_incoming grades), so the output shows the
    false-positive rows explicitly instead of asserting a rate.

    All positions are md5-derived, so the whole filter — build and
    probe — is engine-exact and oracle-checked, unlike a production
    xxhash/murmur Bloom whose bits the oracle couldn't replay (that
    production tier is `DataFrame.stat` territory; this is its graded
    witness).  BLOOM_PREFILTER_ORACLE_SQL is its DuckDB twin
    (parity-tested in tests/test_dedup_guards.py)."""
    docs = (
        # measured spread opt-out: aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    from .sampling import _bucket

    norm_hash = normalized_text_hash("text")
    hashed = docs.select(
        "doc_id", norm_hash.alias("text_hash"), _bucket(F.col("doc_id"), "inc")
    )
    incoming = hashed.filter(F.col("bucket") >= 100 - incoming_pct)
    existing = hashed.filter(F.col("bucket") < 100 - incoming_pct)

    set_bits = bloom_set_bits(existing, m_bits, k)
    probe_hits = (
        _bloom_positions(incoming, m_bits, k)
        .join(
            F.broadcast(set_bits.withColumn("_set", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("_set"), F.lit(0)).alias("n_set"))
        .withColumn("bloom_hit", F.col("n_set") == k)
        .select("doc_id", "bloom_hit")
    )
    corpus_index = existing.groupBy("text_hash").agg(
        F.min("doc_id").alias("dup_of")
    )
    return (
        incoming.join(corpus_index, "text_hash", "left")
        .join(probe_hits, "doc_id")
        .select(
            "doc_id",
            "bloom_hit",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            (F.col("bloom_hit") & F.col("dup_of").isNull()).alias(
                "false_positive"
            ),
        )
    )


# DuckDB twin for bloom_prefilter — parity-tested in
# tests/test_dedup_guards.py.
BLOOM_PREFILTER_ORACLE_SQL = """
WITH h AS (
    SELECT doc_id,
           sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS text_hash,
           CAST('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) % 100 AS bucket
    FROM documents
), incoming AS (
    SELECT doc_id, text_hash FROM h WHERE bucket >= 90
), existing AS (
    SELECT doc_id, text_hash FROM h WHERE bucket < 90
), ks AS (
    SELECT * FROM (VALUES (0), (1), (2)) v(i)
), set_bits AS (
    SELECT DISTINCT
           CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || text_hash),
                               1, 6) AS BIGINT) % 4096 AS pos
    FROM existing CROSS JOIN ks
), probes AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || text_hash),
                               1, 6) AS BIGINT) % 4096 AS pos
    FROM incoming CROSS JOIN ks
), hits AS (
    SELECT p.doc_id,
           COUNT(s.pos) AS n_set
    FROM probes p LEFT JOIN set_bits s ON p.pos = s.pos
    GROUP BY 1
), corpus_index AS (
    SELECT text_hash, MIN(doc_id) AS dup_of
    FROM existing GROUP BY text_hash
)
SELECT i.doc_id,
       (hits.n_set = 3) AS bloom_hit,
       (c.dup_of IS NOT NULL) AS is_dup,
       c.dup_of,
       ((hits.n_set = 3) AND c.dup_of IS NULL) AS false_positive
FROM incoming i
LEFT JOIN corpus_index c USING (text_hash)
JOIN hits ON i.doc_id = hits.doc_id
"""


def dedup_incoming_minhash(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    incoming_pct: int = 10,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup tier of incremental dedup: the incoming slice's LSH
    band keys equi-join the EXISTING corpus's band keys — the "same
    join, band keys instead of hashes" scale path dedup_incoming's
    exact tier defers to.

    The candidate space is incoming x existing ONLY (no self-pairs on
    either side): at 100 TB the existing corpus's band table is a
    precomputed, hash-bucketed index that each new crawl probes, so
    per-batch cost scales with the batch, not the corpus.  Candidates
    are verified with exact shingle Jaccard; output keeps each
    incoming doc's best match (highest verified Jaccard, lowest
    existing doc_id on ties).  Engine-specific hash functions ->
    rows-only check; planted-pair behavior pinned in
    tests/test_dedup_guards.py.

    ``max_bucket_size`` is the same hot-band guard minhash_lsh_pairs
    carries: a boilerplate band bucket of width w
    still fans out ~0.1w x 0.9w candidate rows through the
    incoming x existing join, so buckets wider than the cap (measured
    over BOTH slices — the boilerplate cluster spans them) are
    excised before the probe.  Recall loss is confined to
    ultra-common duplicates the exact dedup_incoming hash tier
    already catches.  Fan-out bound pinned in
    tests/test_dedup_guards.py.
    """
    shingled = _shingle_index(spark, sf_dir, n)
    sigs = _cache_once(_minhash_signatures(shingled, num_hashes))
    bands = _band_table(sigs, num_hashes, band_size, "band_hash")
    best = _incoming_probe_best_match(
        bands, shingled, ["band", "band_hash"], threshold, incoming_pct,
        max_bucket_size,
    )
    best._cached_deps = [shingled, sigs]  # see minhash cache contract
    return best


# -- registry ---------------------------------------------------------------


def register() -> dict:
    from ..queries import QueryDef

    def hx(i: int) -> str:
        return f"(position(substr(h, {i}, 1) IN '0123456789abcdef') - 1)"

    val4 = f"((({hx(1)} * 16 + {hx(2)}) * 16 + {hx(3)}) * 16 + {hx(4)})"

    # shared CTE chain for the exact n-gram Jaccard pair tier — used by
    # dedup_ngram_jaccard directly and replayed inside dedup_clusters'
    # recursive-CTE oracle
    jac_ctes = """tok AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct([
                           tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                           FOR i IN range(1, GREATEST(len(tokens) - 2, 0) + 1)
                       ]) AS shingles
                FROM tok
            ), exploded AS (
                SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n_shingles FROM exploded GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_common
                FROM exploded a JOIN exploded b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )"""
    jac_select = """SELECT doc_a, doc_b,
                   ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                  >= 0.35"""

    return {
        "dedup_incoming": QueryDef(
            dedup_incoming,
            f"""
            WITH h AS (
                SELECT doc_id,
                       sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ',
                                   'g'))) AS text_hash,
                       md5('inc' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), b AS (
                SELECT doc_id, text_hash,
                       CAST({val4} % 100 AS BIGINT) AS bucket
                FROM h
            ), corpus_index AS (
                SELECT text_hash, MIN(doc_id) AS dup_of
                FROM b WHERE bucket < 90 GROUP BY text_hash
            )
            SELECT b.doc_id, b.text_hash, corpus_index.dup_of,
                   (corpus_index.dup_of IS NULL) AS is_new
            FROM b LEFT JOIN corpus_index USING (text_hash)
            WHERE b.bucket >= 90
            """,
            "X2 incremental dedup: incoming batch vs existing corpus index",
        ),
        "dedup_exact": QueryDef(
            dedup_exact,
            """
            SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
            FROM documents GROUP BY text
            """,
            "X1 exact dedup (hash groupBy)",
        ),
        "dedup_normalized": QueryDef(
            dedup_normalized,
            """
            SELECT sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS text_hash,
                   MIN(doc_id) AS canonical_doc_id,
                   COUNT(*) AS n_copies
            FROM documents
            GROUP BY 1
            """,
            "X2 normalized-hash near-dup",
        ),
        # dedup_ngram_jaccard (uncapped) RETIRED from the graded
        # registry in round 10 (the round-9 retire-merge item): it
        # graded the SAME ngram_jaccard_pairs mechanism as
        # dedup_ngram_jaccard_capped with only the hot-shingle cap
        # flipped off, and the uncapped pipeline remains hash-checked
        # end-to-end INSIDE dedup_clusters' closure oracle (its pair
        # tier is this function, uncapped).  The tier stays direct-call
        # tested (test_retired_tiers + the cap-semantics pins in
        # tests/test_dedup_guards.py) and is still the pair source for
        # dedup_clusters.
        "duplicate_passages": QueryDef(
            duplicate_passages,
            """
            WITH tok AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct(["""
            + " || ' ' || ".join(f"tokens[i+{j}]" for j in range(8))
            + """
                           FOR i IN range(1, GREATEST(len(tokens) - 7, 0) + 1)
                       ]) AS passages
                FROM tok
            ), exploded AS (
                SELECT doc_id, UNNEST(passages) AS passage FROM sh
            )
            SELECT passage, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc_id
            FROM exploded
            GROUP BY passage
            HAVING COUNT(*) > 1
            """,
            "X2 exact duplicated 8-token passages across documents",
        ),
        # the 100 TB-guarded form, graded against its own oracle: the
        # df<=5 cutoff BINDS on driver data (max shingle df is 7 at
        # sf0.01), so the hot-shingle path is exercised end-to-end
        "dedup_ngram_jaccard_capped": QueryDef(
            lambda spark, sf_dir: ngram_jaccard_pairs(
                spark, sf_dir, max_shingle_df=5
            ),
            """
            WITH tok AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct([
                           tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                           FOR i IN range(1, GREATEST(len(tokens) - 2, 0) + 1)
                       ]) AS shingles
                FROM tok
            ), exploded_all AS (
                SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
            ), hot AS (
                SELECT shingle FROM exploded_all
                GROUP BY shingle HAVING COUNT(*) > 5
            ), exploded AS (
                SELECT doc_id, shingle FROM exploded_all
                ANTI JOIN hot USING (shingle)
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n_shingles FROM exploded GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_common
                FROM exploded a JOIN exploded b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                  >= 0.35
            """,
            "X2 n-gram Jaccard with hot-shingle DF cap (100TB guard, binding)",
        ),
        # dedup_minhash_lsh (xxhash64 production tier) RETIRED from the
        # graded registry in round 8: the md5 entry below hash-checks
        # the identical band/bucket/verify mechanism against the oracle
        # (minhash_lsh_pairs_md5 differs from minhash_lsh_pairs only in
        # the signature hash family); the xxhash64 tier stays pinned by
        # tests/test_oracle_parity.py::test_retired_tiers and the
        # pair-set twin test in tests/test_dedup_guards.py.
        "dedup_minhash_lsh_md5": QueryDef(
            minhash_lsh_pairs_md5,
            (
                lambda nh=32, bs=4: f"""
            WITH {jac_ctes}, hashed AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                           AS h1,
                       CAST('0x' || substr(md5(shingle), 16, 14) AS BIGINT)
                           AS h2
                FROM exploded
            ), sig AS (
                SELECT doc_id, """
                + ",\n                       ".join(
                    f"MIN((h1 + {i} * h2) & {(1 << 60) - 1}) AS h{i}"
                    for i in range(nh)
                )
                + """
                FROM hashed GROUP BY doc_id
            ), bands AS (
                """
                + "\n                UNION ALL\n                ".join(
                    f"SELECT doc_id, {bi} AS band, "
                    + " || ',' || ".join(
                        f"CAST(h{bi * bs + j} AS VARCHAR)" for j in range(bs)
                    )
                    + " AS band_key FROM sig"
                    for bi in range(nh // bs)
                )
                + f"""
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
            ), pairs AS (
                {jac_select}
            )
            SELECT p.doc_a, p.doc_b, p.jaccard
            FROM pairs p JOIN cand USING (doc_a, doc_b)
            """
            )(),
            "X2 MinHash+LSH on an engine-neutral md5 hash family — the "
            "oracle-checked witness for the xxhash64 production tier",
        ),
        # dedup_incoming_minhash (xxhash64 probe tier) RETIRED from the
        # graded registry in round 8: dedup_incoming_minhash_md5 below
        # hash-checks the same incoming-batch band-probe mechanism end
        # to end; the xxhash64 tier stays direct-call tested
        # (tests/test_dedup_guards.py twin test, test_retired_tiers).
        "dedup_incoming_minhash_md5": QueryDef(
            dedup_incoming_minhash_md5,
            (
                lambda nh=32, bs=4: f"""
            WITH tok AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct([
                           tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                           FOR i IN range(1, GREATEST(len(tokens) - 2, 0) + 1)
                       ]) AS shingles
                FROM tok
            ), exploded AS (
                SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n_shingles
                FROM exploded GROUP BY doc_id
            ), bkt AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5('inc' ||
                           CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                           % 100 AS bucket
                FROM sh
            ), hashed AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                           AS h1,
                       CAST('0x' || substr(md5(shingle), 16, 14) AS BIGINT)
                           AS h2
                FROM exploded
            ), sig AS (
                SELECT doc_id, """
                + ",\n                       ".join(
                    f"MIN((h1 + {i} * h2) & {(1 << 60) - 1}) AS h{i}"
                    for i in range(nh)
                )
                + """
                FROM hashed GROUP BY doc_id
            ), bands AS (
                """
                + "\n                UNION ALL\n                ".join(
                    f"SELECT doc_id, {bi} AS band, "
                    + " || ',' || ".join(
                        f"CAST(h{bi * bs + j} AS VARCHAR)" for j in range(bs)
                    )
                    + " AS band_key FROM sig"
                    for bi in range(nh // bs)
                )
                + """
            ), cand AS (
                SELECT DISTINCT i.doc_id AS doc_new, r.doc_id AS doc_ref
                FROM bands i
                JOIN bkt bi ON bi.doc_id = i.doc_id AND bi.bucket >= 90
                JOIN bands r ON r.band = i.band AND r.band_key = i.band_key
                JOIN bkt br ON br.doc_id = r.doc_id AND br.bucket < 90
            ), inter AS (
                SELECT c.doc_new, c.doc_ref, COUNT(*) AS n_common
                FROM cand c
                JOIN exploded a ON a.doc_id = c.doc_new
                JOIN exploded e ON e.doc_id = c.doc_ref
                                AND e.shingle = a.shingle
                GROUP BY 1, 2
            ), verified AS (
                SELECT doc_new, doc_ref,
                       ROUND(n_common /
                           (sa.n_shingles + sb.n_shingles - n_common), 6)
                           AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_new
                JOIN sizes sb ON sb.doc_id = doc_ref
                WHERE ROUND(n_common /
                          (sa.n_shingles + sb.n_shingles - n_common), 6)
                      >= 0.5
            )
            SELECT doc_new AS doc_id, doc_ref AS near_dup_of, jaccard
            FROM (
                SELECT v.*, ROW_NUMBER() OVER (
                    PARTITION BY doc_new
                    ORDER BY jaccard DESC, doc_ref) AS rn
                FROM verified v
            ) WHERE rn = 1
            """
            )(),
            "X2 incoming-probe MinHash on the engine-neutral md5 family "
            "— the oracle-checked witness for dedup_incoming_minhash",
        ),
        # dedup_simhash (xxhash64 production tier) RETIRED from the
        # graded registry in round 8: dedup_simhash_md5 below is the
        # oracle-checked witness of the same chunk-banded mechanism;
        # the xxhash64 tier stays direct-call tested (test_retired_tiers).
        "dedup_simhash_md5": QueryDef(
            simhash_pairs_md5,
            f"""
            WITH {jac_ctes}, tokd AS (
                SELECT doc_id, UNNEST(list_distinct(tokens)) AS token
                FROM tok
            ), th AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
                           AS h
                FROM tokd
            ), bs AS (
                SELECT doc_id, COUNT(*) AS n_tok,
                       """
            + ",\n                       ".join(
                f"SUM((h >> {i}) & 1) AS b{i}" for i in range(60)
            )
            + """
                FROM th GROUP BY doc_id
            ), sig AS (
                SELECT doc_id,
                       """
            + "\n                     + ".join(
                f"(CAST(CASE WHEN 2*b{i} > n_tok THEN 1 ELSE 0 END"
                f" AS BIGINT) << {i})"
                for i in range(60)
            )
            + """
                           AS simhash
                FROM bs
            ), ck AS (
                SELECT doc_id, simhash, c AS chunk,
                       (simhash >> (c * 15)) & 32767 AS chunk_val
                FROM sig, (VALUES (0), (1), (2), (3)) t(c)
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming
            FROM ck a JOIN ck b
              ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
            """,
            "X2 SimHash on the engine-neutral md5 family — oracle-"
            "checked witness for the xxhash64 production tier",
        ),
        # the full composition (exact pair tier + iterative clustering)
        # replays in SQL: connected components = min over the transitive
        # closure, a recursive CTE with UNION (set) semantics so the
        # fixed point terminates on cyclic graphs
        "dedup_clusters": QueryDef(
            dedup_clusters,
            f"""
            WITH RECURSIVE {jac_ctes}, pairs AS (
                {jac_select}
            ), edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION
                SELECT doc_b AS a, doc_a AS b FROM pairs
            ), reach(node, comp) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.comp
                FROM edges e JOIN reach r ON e.b = r.node
            )
            SELECT node AS doc_id, MIN(comp) AS cluster_id,
                   (node = MIN(comp)) AS is_canonical
            FROM reach GROUP BY node
            """,
            "X2 duplicate clusters (CC over exact-Jaccard pairs, "
            "oracle-replayed as recursive closure)",
        ),
        # dedup_clusters_lsh RETIRED from the graded registry in round
        # 8: it is dedup_clusters(pair_tier="lsh") — the CC machinery is
        # hash-checked via dedup_clusters and the LSH pair tier via
        # dedup_minhash_lsh_md5; the composition stays direct-call
        # tested (test_retired_tiers + the cluster pair-set pins).
        "dedup_embedding_cosine": QueryDef(
            embedding_cosine_pairs,
            """
            WITH e AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS norm
                FROM embeddings
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                   ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
                       AS cosine
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.3
            """,
            "X2 embedding-cosine near-dup (label-blocked)",
        ),
        "dedup_semantic": QueryDef(
            dedup_semantic,
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS norm
                FROM embeddings
            ), c AS (
                SELECT vec_id AS cell_id, v AS cv, norm AS cnorm
                FROM e WHERE vec_id < 16
            ), asg AS (
                SELECT e.vec_id, e.v, e.norm, c.cell_id,
                       list_dot_product(e.v, c.cv) / (e.norm * c.cnorm)
                           AS ccos,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv)
                                    / (e.norm * c.cnorm) DESC, c.cell_id
                       ) AS rn
                FROM e CROSS JOIN c
            ), a1 AS (
                SELECT vec_id, v, norm, cell_id, ROUND(ccos, 6)
                           AS centroid_cos
                FROM asg WHERE rn = 1
            ), dup AS (
                SELECT a.vec_id, MIN(b.vec_id) AS dup_of
                FROM a1 a JOIN a1 b
                  ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
                WHERE ROUND(list_dot_product(a.v, b.v)
                            / (a.norm * b.norm), 6) >= 0.4
                GROUP BY a.vec_id
            )
            SELECT a1.vec_id, a1.cell_id, a1.centroid_cos, dup.dup_of,
                   (dup.dup_of IS NULL) AS kept
            FROM a1 LEFT JOIN dup USING (vec_id)
            """,
            "X2 SemDeDup: within-k-means-cell embedding near-dup drop",
        ),
        "prototype_prune": QueryDef(
            prototype_prune,
            """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS norm
                FROM embeddings
            ), c AS (
                SELECT vec_id AS cell_id, v AS cv, norm AS cnorm
                FROM e WHERE vec_id < 16
            ), asg AS (
                SELECT e.vec_id, c.cell_id,
                       list_dot_product(e.v, c.cv) / (e.norm * c.cnorm)
                           AS ccos,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv)
                                    / (e.norm * c.cnorm) DESC, c.cell_id
                       ) AS rn
                FROM e CROSS JOIN c
            ), a1 AS (
                SELECT vec_id, cell_id, ROUND(ccos, 6) AS centroid_cos
                FROM asg WHERE rn = 1
            ), ranked AS (
                SELECT vec_id, cell_id, centroid_cos,
                       ROW_NUMBER() OVER (
                           PARTITION BY cell_id
                           ORDER BY centroid_cos DESC, vec_id
                       ) AS cell_rank,
                       COUNT(*) OVER (PARTITION BY cell_id) AS cell_n
                FROM a1
            )
            SELECT vec_id, cell_id, centroid_cos, cell_rank, cell_n,
                   cell_rank <= FLOOR(0.25 * cell_n) AS pruned
            FROM ranked
            """,
            "D4's SSL-prototype pruning: drop the most prototypical "
            "fraction per embedding cell, keep the diverse tail",
        ),
        "dedup_embedding_srp": QueryDef(
            embedding_srp_pairs,
            """
            WITH e AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v
                FROM embeddings
            ), bucketed AS (
                SELECT vec_id, label, v,
                       sqrt(list_dot_product(v, v)) AS norm,
                       (CAST(list_sum([v[i+1] * (CASE WHEN ((i >> 0) & 1) = 0
                               THEN 1.0 ELSE -1.0 END)
                               FOR i IN range(0, len(v))]) >= 0.0 AS BIGINT) << 0)
                     + (CAST(list_sum([v[i+1] * (CASE WHEN ((i >> 1) & 1) = 0
                               THEN 1.0 ELSE -1.0 END)
                               FOR i IN range(0, len(v))]) >= 0.0 AS BIGINT) << 1)
                     + (CAST(list_sum([v[i+1] * (CASE WHEN ((i >> 2) & 1) = 0
                               THEN 1.0 ELSE -1.0 END)
                               FOR i IN range(0, len(v))]) >= 0.0 AS BIGINT) << 2)
                           AS bucket
                FROM e
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                   a.bucket AS bucket,
                   ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
                       AS cosine
            FROM bucketed a
            JOIN bucketed b
              ON a.label = b.label AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
                  >= 0.3
            """,
            "X2 SRP sub-blocked embedding near-dup (oracle-checked scale tier)",
        ),
        # --- registered in round 7 (previously staged) ---
        "contained_documents": QueryDef(
            contained_documents,
            CONTAINED_DOCUMENTS_ORACLE_SQL,
            "X2 truncation-duplicate tier: verbatim containment",
        ),
        "bloom_prefilter": QueryDef(
            bloom_prefilter,
            BLOOM_PREFILTER_ORACLE_SQL,
            "X2 Bloom membership prefilter for incremental dedup",
        ),
        "passage_scrub": QueryDef(
            passage_scrub,
            PASSAGE_SCRUB_ORACLE_SQL,
            "X2 repeated-span removal with document reassembly",
        ),
        "source_overlap_matrix": QueryDef(
            source_overlap_matrix,
            SOURCE_OVERLAP_ORACLE_SQL,
            "X2 cross-source shared-passage matrix + Jaccard",
        ),
    }
