"""Training-batch assembly — deterministic corpus shuffle/shard and
GPT-style concat-and-chunk token packing, as relational plans.

An LLM training pipeline ends with two layout decisions that are easy
to get wrong at 100 TB:

* **Global shuffle + sharding** for the dataloader.  A true global
  ``ORDER BY rand()`` is a total-order sort (one straggler reducer owns
  the merge) and is irreproducible across engines.  Instead: shard =
  md5-bucket of doc_id, order within shard = the same md5 — a
  deterministic permutation that both Spark and DuckDB compute
  identically, with each shard an independent window partition.  At scale,
  shards map 1:1 onto output files and pack in parallel; the per-shard
  sort is bounded by |corpus| / n_shards, not |corpus|.

* **Concat-and-chunk packing** (GPT-style): concatenate documents in
  shuffle order, slice into fixed ``ctx``-token windows.  The chunk
  assignment of every document is a pure function of the exclusive
  running token sum within its shard — one window aggregate, no state
  machine, no driver loop.  Documents may straddle chunk boundaries
  (``chunk_first < chunk_last``); zero-token documents occupy no chunk.

Both decisions are keyed by document identity only (never row order or
partition layout), so appending data never reassigns existing docs and
the whole plan is oracle-checkable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import hex_long
from ..io import read_table
from .text import _tokens

N_SHARDS = 16
CTX_TOKENS = 128


def _sharded(docs: DataFrame, n_shards: int, *extra_cols) -> DataFrame:
    """doc_id + shuffle hash + shard bucket (+ caller extras), one select."""
    h = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id", h.alias("h"), *extra_cols
    ).withColumn(
        "shard",
        hex_long("h", 1, 4) % n_shards,
    )


def corpus_shards(
    spark: SparkSession, sf_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Deterministic global shuffle: (shard, position) per document.

    position is a row_number within the shard ordered by the md5 hash —
    the dataloader reads shard files sequentially and sees a stable
    pseudo-random document order.  The window partitions by shard, so
    the sort parallelizes across shards (no global total order)."""
    base = _sharded(read_table(spark, sf_dir, "documents"), n_shards)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return base.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
    )


def concat_chunk_plan(
    spark: SparkSession,
    sf_dir: str,
    ctx: int = CTX_TOKENS,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """Concat-and-chunk packing plan: for each document, the half-open
    range of ``ctx``-token training chunks it lands in after the corpus
    is concatenated in shard/shuffle order.

    tok_offset is the exclusive prefix sum of token counts within the
    shard (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING — the one shuffle in
    the plan, partitioned by shard); chunk ids are integer division of
    the offset range.  n_chunks sums to ceil(shard_tokens / ctx) spread
    over documents, and a downstream writer can explode the range to
    materialize chunk rows without re-reading text."""
    base = _sharded(
        read_table(spark, sf_dir, "documents"),
        n_shards,
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long")
        .alias("tok_offset"),
    )
    last_tok = F.col("tok_offset") + F.greatest(
        F.col("n_tokens") - 1, F.lit(0)
    )
    return with_off.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / ctx).cast("long").alias("chunk_first"),
        F.floor(last_tok / ctx).cast("long").alias("chunk_last"),
        F.when(
            F.col("n_tokens") > 0,
            F.floor(last_tok / ctx) - F.floor(F.col("tok_offset") / ctx) + 1,
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_chunks"),
    )


def overlap_chunk_plan(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Per-document sliding-window chunking with overlap — the
    RAG/long-document chunker, as a plan.

    Unlike concat_chunk_plan (which packs the corpus end-to-end),
    every document is split independently into windows of
    ``chunk_tokens`` tokens advancing by ``stride`` (overlap =
    chunk - stride), with the final partial window kept.  Emitting the
    plan rows (doc, chunk ordinal, 1-based token start, window length)
    rather than text keeps the output scalar-comparable and the
    operator a pure map-side projection + explode: no shuffle, nothing
    driver-side, trivially parallel at any corpus size.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError(f"need 0 < stride <= chunk_tokens, got {stride}")
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    # windows fully covering the doc: ceil(max(n-chunk,0)/stride) + 1
    n_chunks = (
        F.ceil(
            F.greatest(F.col("n_tokens") - chunk_tokens, F.lit(0))
            / F.lit(stride)
        )
        + 1
    ).cast("int")
    return (
        toks.withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * stride + 1).cast("long").alias("start_tok"),
            F.least(
                F.lit(chunk_tokens),
                F.col("n_tokens") - F.col("chunk_id") * stride,
            )
            .cast("long")
            .alias("chunk_len"),
        )
    )


def tokenized_shards(docs: DataFrame, n_shards: int) -> DataFrame:
    """(doc_id, shard, n_tokens) — the shard/token projection shared by
    the batch packers AND the streaming next-fit packer, so the two
    sides can never hash or tokenize differently."""
    return _sharded(
        docs,
        n_shards,
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).select("doc_id", "shard", "n_tokens")


def _ffd_pack(sizes: list, ctx: int) -> tuple:
    """The first-fit-decreasing core as a pure function over an
    already-(size desc)-sorted sequence: returns (bins, oversize,
    fills) where bins[i] is the bin index of sizes[i] in creation
    order.  Separated from the Arrow wrapper so the packing laws
    (capacity, any-fit bin bound, oversize isolation) are
    hypothesis-testable without Spark."""
    fills: list[int] = []  # actual tokens per bin, creation order
    closed: set[int] = set()  # oversize bins never accept others
    bins, oversize = [], []
    for n in sizes:
        n = int(n)
        if n > ctx:
            fills.append(n)
            closed.add(len(fills) - 1)
            bins.append(len(fills) - 1)
            oversize.append(True)
            continue
        for b, f in enumerate(fills):
            if b not in closed and f + n <= ctx:
                fills[b] = f + n
                bins.append(b)
                break
        else:
            fills.append(n)
            bins.append(len(fills) - 1)
        oversize.append(False)
    return bins, oversize, fills


def pack_samples(
    spark: SparkSession,
    sf_dir: str,
    ctx: int = CTX_TOKENS,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """No-split sample packing (instruction-tuning style): whole
    documents greedily packed into ``ctx``-token bins so no document
    straddles a boundary — the third member of the packing family
    (concat_chunk_plan splits at boundaries for pretraining;
    overlap_chunk_plan windows within documents for RAG; this one
    preserves document integrity for SFT-style training).

    Algorithm: first-fit-decreasing WITHIN each shard — docs sorted by
    (n_tokens desc, doc_id), each placed in the first open bin with
    room, else a new bin.  FFD is inherently sequential, so the scale
    shape is shard-parallel exactness: the md5 shard bucketing bounds
    each sequential problem at |corpus| / n_shards docs and the
    Arrow-batched applyInPandas packs every shard independently —
    first-fit ACROSS a 100 TB corpus would serialize the world for a
    few bins of savings.  Deterministic: bin ids are (shard, local bin
    in creation order); identity-keyed sharding means appended corpora
    repack only their own shard.

    Documents longer than ctx get a bin of their own, flagged
    ``oversize`` (the caller truncates or routes them to
    concat_chunk_plan).  NOT registered for driver grading: FFD's
    bin state is sequential and has no tractable SQL replay (the
    registry is 100% oracle-backed by policy since round 8) — the
    invariants (capacity, determinism, any-fit bin-count bounds,
    hand-computed small cases) are pinned in tests/test_packing.py.
    """
    import pandas as pd

    base = tokenized_shards(read_table(spark, sf_dir, "documents"), n_shards)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        bins, oversize, fills = _ffd_pack(list(pdf["n_tokens"]), ctx)
        out = pdf.copy()
        out["bin"] = pd.Series(bins, index=pdf.index, dtype="int64")
        out["oversize"] = pd.Series(oversize, index=pdf.index)
        out["bin_fill"] = out["bin"].map(lambda b: fills[b]).astype("int64")
        return out[
            ["doc_id", "shard", "n_tokens", "bin", "bin_fill", "oversize"]
        ]

    schema = (
        "doc_id long, shard long, n_tokens long, bin long, "
        "bin_fill long, oversize boolean"
    )
    return base.groupBy("shard").applyInPandas(pack, schema)


LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def length_bucket_plan(
    spark: SparkSession,
    sf_dir: str,
    buckets: tuple = LENGTH_BUCKETS,
) -> DataFrame:
    """Length-bucketed batching plan — the padding-waste card for the
    batching strategy pack_samples/concat_chunk replace: assign every
    document to the smallest power-of-two bucket holding its token
    count, and report per bucket how many pad tokens that batching
    layout burns (padded = n_docs * bucket_len vs real tokens).  The
    standard pre-LLM-training decision table: compare waste_pct rows
    against a packing plan's ~0 to justify packing, or pick bucket
    edges for a bucketed dataloader.

    Buckets are a FIXED conditional ladder (no log2 floats — an ulp of
    libm disagreement at an exact power of two would flip a boundary
    doc between engines); docs longer than the largest bucket land in
    the bucket_len = -1 overflow row with zero padding (they are
    routed to chunking, not padded).  Scale shape: one scan, one
    map-side projection, one tiny aggregate (|buckets|+1 rows) —
    nothing else.  The two stages are length_bucket_counts and
    length_bucket_waste; the streaming twin runs the first as its
    update-mode aggregate and the second at read time.
    """
    return length_bucket_waste(
        length_bucket_counts(read_table(spark, sf_dir, "documents"), buckets)
    )


def length_bucket_counts(
    docs: DataFrame, buckets: tuple = LENGTH_BUCKETS
) -> DataFrame:
    """(bucket_len, n_docs, total_tokens): each document's token count
    laddered into its bucket, then one per-bucket aggregate."""
    n = F.size(_tokens(F.col("text"))).cast("long")
    bucket = F.lit(-1).cast("long")
    for b in sorted(buckets, reverse=True):
        bucket = F.when(n <= b, F.lit(b).cast("long")).otherwise(bucket)
    return (
        docs.select(n.alias("n_tokens"), bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def length_bucket_waste(counts: DataFrame) -> DataFrame:
    """The waste read-off over length_bucket_counts' rows: padded
    tokens (n_docs * bucket_len; the overflow row pads nothing) and
    waste_pct."""
    padded = F.when(
        F.col("bucket_len") > 0, F.col("n_docs") * F.col("bucket_len")
    ).otherwise(F.col("total_tokens"))
    return counts.select(
        "bucket_len",
        "n_docs",
        "total_tokens",
        padded.cast("long").alias("padded_tokens"),
        F.round(
            1.0 - F.col("total_tokens") / padded.cast("double"), 6
        ).alias("waste_pct"),
    )


def _length_bucket_oracle_sql(buckets: tuple = LENGTH_BUCKETS) -> str:
    ladder = "CASE "
    for b in sorted(buckets):
        ladder += f"WHEN n_tokens <= {b} THEN {b} "
    ladder += "ELSE -1 END"
    return f"""
    WITH t AS (
        SELECT len(list_filter(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
        FROM documents
    ), b AS (
        SELECT CAST({ladder} AS BIGINT) AS bucket_len, n_tokens FROM t
    ), a AS (
        SELECT bucket_len, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM b GROUP BY 1
    )
    SELECT bucket_len, n_docs, total_tokens,
           CAST(CASE WHEN bucket_len > 0 THEN n_docs * bucket_len
                ELSE total_tokens END AS BIGINT) AS padded_tokens,
           ROUND(1.0 - total_tokens / CAST(CASE WHEN bucket_len > 0
                THEN n_docs * bucket_len ELSE total_tokens END AS DOUBLE),
                6) AS waste_pct
    FROM a
    """


def register() -> dict:
    from ..queries import QueryDef

    # DuckDB-side first-4-hex-digits value (no conv() there)
    def hx(i: int) -> str:
        return f"(position(substr(h, {i}, 1) IN '0123456789abcdef') - 1)"

    val4 = f"((({hx(1)} * 16 + {hx(2)}) * 16 + {hx(3)}) * 16 + {hx(4)})"

    shard_cte = f"""
        WITH d AS (
            SELECT doc_id,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS h,
                   len(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), t -> t <> '')) AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, h, n_tokens,
                   CAST({val4} % {N_SHARDS} AS BIGINT) AS shard
            FROM d
        )
    """

    return {
        "overlap_chunk_plan": QueryDef(
            overlap_chunk_plan,
            """
            WITH t AS (
                SELECT doc_id,
                       len(list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
                FROM documents
            ), s AS (
                SELECT doc_id, n_tokens,
                       CAST(CEIL(GREATEST(n_tokens - 128, 0) / 96.0)
                            AS INTEGER) + 1 AS n_chunks
                FROM t WHERE n_tokens > 0
            )
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(UNNEST(range(0, n_chunks)) AS BIGINT) AS chunk_id,
                   CAST(UNNEST(range(0, n_chunks)) * 96 + 1 AS BIGINT)
                       AS start_tok,
                   CAST(LEAST(128, n_tokens - UNNEST(range(0, n_chunks)) * 96)
                       AS BIGINT) AS chunk_len
            FROM s
            """,
            "sliding-window chunk plan with overlap (map-side explode)",
        ),
        "corpus_shards": QueryDef(
            corpus_shards,
            shard_cte
            + """
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                        ORDER BY h, doc_id) AS BIGINT) AS position
            FROM s
            """,
            "deterministic dataloader shuffle: md5 shard + position",
        ),
        "concat_chunk_plan": QueryDef(
            concat_chunk_plan,
            shard_cte
            + f"""
            , o AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
                FROM s
            )
            SELECT doc_id, shard, n_tokens, tok_offset,
                   CAST(tok_offset // {CTX_TOKENS} AS BIGINT) AS chunk_first,
                   CAST((tok_offset + GREATEST(n_tokens - 1, 0))
                        // {CTX_TOKENS} AS BIGINT) AS chunk_last,
                   CAST(CASE WHEN n_tokens > 0
                        THEN (tok_offset + n_tokens - 1) // {CTX_TOKENS}
                             - tok_offset // {CTX_TOKENS} + 1
                        ELSE 0 END AS BIGINT) AS n_chunks
            FROM o
            """,
            "GPT-style concat-and-chunk token packing plan",
        ),
        "length_bucket_plan": QueryDef(
            length_bucket_plan,
            _length_bucket_oracle_sql(),
            "length-bucketed batching padding-waste card (round 8)",
        ),
    }
