"""X4 — text analysis over the `documents` table.

All SQL-checkable tiers are pure JVM expressions (split/regexp/
higher-order array functions) with DuckDB twins using the same token
definition; nothing here touches Python row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import hex_long, normalized_text_hash
from ..io import (
    read_documents_spread as _documents,
    read_table,
)

_TOKEN_SPLIT = "[^a-z0-9]+"

# language marker stopwords for the n-gram/stopword heuristic language ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "y", "es"),
    "fr": ("le", "les", "et", "des", "est", "une"),
}
_STOPWORDS = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))


def _tokens(col):
    """lower -> split on non-alphanumeric -> drop empties: the package's
    one token definition (lockstep with the DuckDB twins'
    regexp_split_to_array + list_filter)."""
    return F.filter(F.split(F.lower(col), _TOKEN_SPLIT), lambda t: t != F.lit(""))


def _n_in(tokens_col, words: tuple[str, ...]):
    """Count of tokens that belong to a fixed word set (JVM-side).
    long-typed to match DuckDB's BIGINT len()."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(tokens_col, lambda t: F.array_contains(arr, t))
    ).cast("long")


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram: occurrences + document frequency.

    Two chained aggregates instead of count + COUNT(DISTINCT) in one:
    the per-(doc, token) pre-aggregation is map-side combinable and
    collapses the exploded stream before the per-token level, where
    n_docs becomes a plain COUNT(*) — no distinct aggregation anywhere.
    The hot-key risk ("the" at 100 TB) lands on the SECOND, collapsed
    level, bounded by |docs| not |occurrences|."""
    docs = _documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    per_doc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return per_doc.groupBy("token").agg(
        F.sum("c").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token counts (whitespace + BPE-ish
    regex), average token length, punctuation ratio, stopword ratio,
    and a keep/drop quality flag."""
    docs = _documents(spark, sf_dir)
    toks = _tokens(F.col("text"))
    ws_tokens = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    # BPE-ish: letter runs, digit runs, or single non-alnum-non-space marks
    bpe = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    n_punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"[.,;:!?]", "")
    )
    d = (
        docs.withColumn("tokens", toks)
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .withColumn("n_ws_tokens", F.size(ws_tokens).cast("long"))
        .withColumn("n_bpe_tokens", F.size(bpe).cast("long"))
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(
                    F.col("tokens"),
                    F.lit(0.0),
                    lambda acc, t: acc + F.length(t),
                )
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "punct_ratio",
            F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(
                _n_in(F.col("tokens"), _STOPWORDS)
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
    )
    keep = (
        (F.col("n_tokens") >= 5)
        & (F.col("avg_token_len") >= 2)
        & (F.col("avg_token_len") <= 15)
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_ws_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        keep.alias("keep"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with a deterministic argmax
    (fixed preference order en > de > es > fr, 'und' = no markers)."""
    docs = _documents(spark, sf_dir)
    d = docs.withColumn("tokens", _tokens(F.col("text")))
    for lang, words in LANG_MARKERS.items():
        d = d.withColumn(f"score_{lang}", _n_in(F.col("tokens"), words))
    s = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*s.values())
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(s["en"] == best, F.lit("en"))
        .when(s["de"] == best, F.lit("de"))
        .when(s["es"] == best, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(f"score_{lang}").alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("pred_lang"),
    )


def doc_fingerprints(
    spark: SparkSession, sf_dir: str, width: int = 8, stride: int = 4
) -> DataFrame:
    """Rolling-window document fingerprint: min-md5 over `width`-char
    shingles sampled every `stride` positions (a locality-sensitive
    'winnowing lite').

    The stride is the cost knob: hashing EVERY position (stride=1) is
    len(text) md5 calls per document — measured 2.2 s warm at sf0.1,
    the heaviest non-dedup headline query, with ~3/4 of it in the
    per-position transform itself.  At stride s both the window count
    and the hashing drop by s; the fingerprint is still a deterministic
    min over ~len/s shingles, stable under edits that don't disturb the
    minimal sampled window.  DuckDB twin uses range(..., stride) —
    identical sample positions, lockstep by construction.
    """
    docs = _documents(spark, sf_dir)
    # sequence 1..len-width+1 step s (Spark, inclusive) ==
    # range(1, len-width+2, s) (DuckDB, exclusive stop)
    fp = F.array_min(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text") - (width - 1), F.lit(1)),
                F.lit(stride),
            ),
            lambda i: F.md5(F.col("text").substr(i, F.lit(width))),
        )
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars_raw"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf*ln(N/df).

    Single tokenization feeds both the per-doc tf and the corpus df;
    the document-frequency side is tiny (one row per distinct token)
    and broadcast into the scoring join.
    """
    from pyspark.sql import Window

    docs = _documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df derived FROM tf (one row per (doc, token) -> COUNT(*) == distinct
    # docs): replaces COUNT(DISTINCT doc_id) — a two-level distinct
    # aggregation over the full exploded token stream — with a plain
    # count over the already-collapsed tf rows.  Measured 3.1 s -> 1.7 s
    # warm at sf0.1.  (The tokenize+explode itself still appears in both
    # branches' lineage — at 100 TB materialize `tok`/`tf` to a temp
    # table to make the sharing physical.)
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_total"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_total") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's end product: per-document keep/drop decision for a
    training corpus — quality gate (text_quality.keep) AND canonical
    survivor of normalized-hash dedup (lowest doc_id per hash).  Both
    tiers are SQL-expressible, so the whole decision is oracle-checked;
    fuzzy tiers (LSH clusters) refine `is_canonical` at scale."""
    from pyspark.sql import Window

    docs = (
        # measured spread opt-out: aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    norm_hash = normalized_text_hash("text")
    w = Window.partitionBy("text_hash")
    flags = (
        docs.withColumn("text_hash", norm_hash)
        .withColumn(
            "is_canonical", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .select("doc_id", "is_canonical")
    )
    quality = text_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_quality")
    )
    return flags.join(quality, "doc_id").select(
        "doc_id",
        "keep_quality",
        "is_canonical",
        (F.col("keep_quality") & F.col("is_canonical")).alias("keep"),
    )


def quality_keep_expr(text_col) -> "F.Column":
    """text_quality's keep/drop gate as a pure per-row column
    expression: n_tokens >= 5 and rounded avg token length in [2, 15]
    (same 4-dp round as the text_quality output column, so the two
    forms can never disagree at the gate boundary).  Shared by
    corpus_report and the streaming card twin
    (streaming.topology.streaming_canonical_texts); equality with
    text_quality's keep column is pinned in tests/test_text_extras.py.
    """
    tokens = _tokens(text_col)
    n_tokens = F.size(tokens).cast("long")
    avg_token_len = F.round(
        F.aggregate(tokens, F.lit(0.0), lambda acc, t: acc + F.length(t))
        / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    return (
        (n_tokens >= 5) & (avg_token_len >= 2) & (avg_token_len <= 15)
    )


def card_projection(docs: DataFrame) -> DataFrame:
    """Per-document projection feeding the corpus card — one map-side
    pass producing everything the (lang, source) rollups need: sizes,
    the normalized dedup hash, the split bucket (corpus_split's md5
    scheme) and the quality keep flag.  Batch corpus_report and its
    streaming twin share this projection so the card semantics cannot
    drift between the two forms."""
    from .sampling import _bucket

    norm_hash = normalized_text_hash("text")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        norm_hash.alias("text_hash"),
        _bucket(F.col("doc_id")),
        quality_keep_expr(F.col("text")).alias("keep_quality"),
    )


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card, per (lang, source) — the summary table a training
    corpus ships with: volume (docs, chars, tokens), duplication
    (distinct normalized texts + dup rate), curation (keep-gate pass
    count, composing corpus_keep_list's quality ∧ canonical decision),
    and the train/val/test split distribution (same md5 buckets as
    corpus_split, so the report agrees with the split machinery by
    construction).

    Shape at 100 TB: ONE document scan feeds the per-doc projections
    (token size, hash, bucket, quality flags), then a single
    (lang, source) groupBy; the distinct-text count is the two-level
    form (collapse on (lang, source, hash) first, then count), never a
    COUNT(DISTINCT) expand; the keep decision re-derives the canonical
    flag as min-doc_id-per-hash via the same two-level branch.  Fully
    oracle-checked — every column is deterministic SQL.

    STAGED round 6, REGISTERED round 7 (round-6 window saturated);
    CORPUS_REPORT_ORACLE_SQL below is parity-tested now
    (tests/test_text_extras.py)."""
    # round 8: keep_quality is inlined via quality_keep_expr (same gate,
    # pinned equal to text_quality's keep column) instead of a doc_id
    # self-join against text_quality — one documents scan instead of two
    base = card_projection((
        # measured spread opt-out (round 13): aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    ))
    per_doc = base.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.when(F.col("bucket") < 5, 1)).alias("n_test"),
        F.count(
            F.when((F.col("bucket") >= 5) & (F.col("bucket") < 10), 1)
        ).alias("n_val"),
        F.count(F.when(F.col("bucket") >= 10, 1)).alias("n_train"),
    )
    # two-level distinct + canonical-keep: collapse per hash first
    by_hash = base.groupBy("lang", "source", "text_hash").agg(
        F.count("*").alias("n_copies"),
        # the canonical copy is min doc_id per hash; it passes the keep
        # gate iff ITS quality flag is true — min_by picks that flag
        F.expr("min_by(keep_quality, doc_id)").alias("canonical_quality"),
    )
    dedup = by_hash.groupBy("lang", "source").agg(
        F.count("*").alias("n_unique_texts"),
        F.count(F.when(F.col("canonical_quality"), 1)).alias("n_kept"),
    )
    return (
        per_doc.join(dedup, ["lang", "source"])
        .withColumn(
            "dup_rate",
            F.round(
                1.0 - F.col("n_unique_texts") / F.col("n_docs"), 6
            ),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            "n_unique_texts",
            "dup_rate",
            "n_kept",
            "n_train",
            "n_val",
            "n_test",
        )
    )


# DuckDB twin for corpus_report — parity-tested now
# (tests/test_text_extras.py), registered in round 7.  The quality
# keep flag mirrors text_quality's gate; the split buckets mirror
# corpus_split's md5 scheme (plans/oracle-compatible '0x' cast form).
CORPUS_REPORT_ORACLE_SQL = """
WITH t AS (
    SELECT doc_id, lang, source, n_chars, text,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS toks
    FROM documents
), q AS (
    SELECT doc_id, lang, source, n_chars,
           len(toks) AS n_tokens,
           sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS text_hash,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) % 100 AS bucket,
           -- text_quality's keep gate, exactly (text.py:103-107)
           (len(toks) >= 5 AND
            ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / GREATEST(len(toks), 1), 4)
                BETWEEN 2 AND 15) AS keep_quality
    FROM t
), per_doc AS (
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(CASE WHEN bucket < 5 THEN 1 END) AS n_test,
           COUNT(CASE WHEN bucket >= 5 AND bucket < 10 THEN 1 END) AS n_val,
           COUNT(CASE WHEN bucket >= 10 THEN 1 END) AS n_train
    FROM q GROUP BY 1, 2
), by_hash AS (
    SELECT lang, source, text_hash,
           min_by(keep_quality, doc_id) AS canonical_quality
    FROM q GROUP BY 1, 2, 3
), dedup AS (
    SELECT lang, source,
           COUNT(*) AS n_unique_texts,
           COUNT(CASE WHEN canonical_quality THEN 1 END) AS n_kept
    FROM by_hash GROUP BY 1, 2
)
SELECT p.lang, p.source, n_docs, total_chars, total_tokens,
       n_unique_texts,
       ROUND(1.0 - n_unique_texts / n_docs, 6) AS dup_rate,
       n_kept, n_train, n_val, n_test
FROM per_doc p JOIN dedup d ON p.lang = d.lang AND p.source = d.source
"""


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1): a
    document dominated by a few repeated tokens/2-grams is boilerplate
    or spam, not prose.  Per document:

      dup_token_frac  = 1 - |distinct tokens| / |tokens|
      top_token_frac  = occurrences of the modal token / |tokens|
      top_bigram_frac = occurrences of the modal 2-gram / |2-grams|
      keep_repetition = all three under their cutoffs

    Shape: one explode per grain, two-level aggregate (per-(doc, term)
    count -> per-doc max/sum) — per-doc modes without any window; both
    shuffles are on doc_id-prefixed keys, so at 100 TB this is two
    map-side-combined aggregations, no skew beyond document size.
    Docs too short for a grain keep zero fractions (left join +
    coalesce), mirroring DuckDB exactly.
    """
    docs = _documents(spark, sf_dir)
    d = docs.withColumn("tokens", _tokens(F.col("text")))
    # tokens is a materialized projection (attribute, not expression), so
    # referencing it from HOF lambdas does not re-run the tokenization
    bigrams = F.when(
        F.size("tokens") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tokens") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("tokens", i), F.element_at("tokens", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    tok_counts = (
        d.select("doc_id", F.explode("tokens").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_token"),
        )
    )
    bi_counts = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram"))
    )
    joined = (
        docs.select("doc_id")
        .join(tok_counts, "doc_id", "left")
        .join(bi_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            # (n - distinct)/n, not 1 - distinct/n: identical for n > 0
            # but degrades to 0 (not 1) for zero-token documents
            F.round(
                (
                    F.coalesce("n_tokens", F.lit(0))
                    - F.coalesce("n_distinct", F.lit(0))
                )
                / F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_token_frac"),
            F.round(
                F.coalesce("top_token", F.lit(0))
                / F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)),
                6,
            ).alias("top_token_frac"),
            F.round(
                F.coalesce("top_bigram", F.lit(0))
                / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)),
                6,
            ).alias("top_bigram_frac"),
        )
    )
    keep = (
        (F.col("dup_token_frac") <= 0.9)
        & (F.col("top_token_frac") <= 0.2)
        & (F.col("top_bigram_frac") <= 0.18)
    )
    return joined.withColumn("keep_repetition", keep)


# PII patterns (redaction tier): plain-ASCII forms of the classic
# email / international-ish phone / IPv4 shapes
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass over the corpus: emails, phone-like digit
    runs, and IPv4 literals replaced with typed placeholders, with
    per-kind match counts so downstream can quarantine high-PII docs.

    Pure regexp_replace/regexp_count chain — single scan, no shuffle at
    all (fully map-side at any scale).  The synthetic corpus contains
    no PII, so the graded run proves the null path (zero counts, text
    unchanged); the planted-PII behavior is pinned by unit test on a
    synthetic corpus (tests/test_text_extras.py).
    """
    docs = _documents(spark, sf_dir)
    out = docs.select(
        "doc_id",
        F.col("text"),
        *[
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{kind}")
            for kind, pat in PII_PATTERNS.items()
        ],
    )
    scrubbed = F.col("text")
    for kind, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        "n_email",
        "n_phone",
        "n_ipv4",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4") > 0).alias(
            "had_pii"
        ),
    )


def lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup per (lang, source)."""
    docs = (
        # measured spread opt-out (round 13): aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation gate a training pipeline runs before packing:
    per-document AND of every filter tier this module implements —

      keep_quality    — token-count / token-length gate (text_quality)
      keep_repetition — Gopher repetition filters (repetition_metrics)
      lang_ok         — language ID confident (any marker stopword hit;
                        equivalent to lang_id.pred_lang <> 'und')
      is_canonical    — survivor of normalized-hash exact dedup

    Composition shape at 100 TB: the quality and lang tiers are pure
    map-side expressions, so they're FUSED into the dedup-canonical
    scan (one window over the hash) — one documents pass computes
    three of the four flags.  Only repetition needs its own aggregates
    (explode per grain), re-joined on doc_id; on a doc_id-bucketed
    layout that join is exchange-free.  A real pipeline materializes
    the per-document feature table once and reuses it for every
    downstream decision.
    """
    from pyspark.sql import Window

    r = repetition_metrics(spark, sf_dir).select("doc_id", "keep_repetition")
    docs = _documents(spark, sf_dir)
    norm_hash = normalized_text_hash("text")
    toks = _tokens(F.col("text"))
    w = Window.partitionBy("text_hash")
    avg_len = F.round(
        F.aggregate(
            F.col("tokens"), F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / F.greatest(F.size("tokens"), F.lit(1)),
        4,
    )
    flags = (
        docs.withColumn("text_hash", norm_hash)
        .withColumn("tokens", toks)
        .withColumn(
            "keep_quality",
            (F.size("tokens") >= 5) & avg_len.between(2, 15),
        )
        .withColumn("lang_ok", _n_in(F.col("tokens"), _STOPWORDS) > 0)
        .withColumn(
            "is_canonical", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .select("doc_id", "keep_quality", "lang_ok", "is_canonical")
    )
    return (
        flags.join(r, "doc_id")
        .select(
            "doc_id",
            "keep_quality",
            "keep_repetition",
            "lang_ok",
            "is_canonical",
            (
                F.col("keep_quality")
                & F.col("keep_repetition")
                & F.col("lang_ok")
                & F.col("is_canonical")
            ).alias("keep"),
        )
    )


def bpe_pair_counts(
    spark: SparkSession, sf_dir: str, min_count: int = 2
) -> DataFrame:
    """X4 — adjacent-token-pair frequencies: one BPE merge step,
    distributed.

    A byte-pair-encoding trainer's inner loop is "count every adjacent
    symbol pair, merge the most frequent"; over a corpus this is the
    aggregation that dominates vocabulary building.  Expressed
    relationally: tokens materialized once per doc, adjacent pairs via
    zip_with over two shifted slices (JVM-side, no Python), then a
    plain two-level groupBy — map-side combinable, per-key width
    bounded by |docs| via the same distinct-pair trick as
    duplicate_passages.  `min_count` trims the hapax tail (a BPE
    trainer never merges count-1 pairs), keeping the output the
    candidate-merge table rather than the full histogram; at 100 TB the
    tail is the bulk of the keys, so the HAVING prunes most of the
    shuffle output after partial aggregation.
    """
    docs = _documents(spark, sf_dir)
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
                F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-document character-level Shannon entropy (bits/char):
    the engine-side proxy for LM-perplexity quality filtering (CCNet/
    Gopher filter on perplexity; entropy catches the same degenerate
    tails — repeated characters, binary junk, single-symbol spam —
    without a model).  Low entropy = repetitive/degenerate, ~4-4.5 =
    typical prose, higher = noisy/random.

    Shape: explode to (doc, char) -> two-level count agg (map-side
    combinable; per-doc key width bounded by the alphabet, not doc
    length) -> entropy as a sum over <= |alphabet| terms.  Rounded to
    6: the <= 1e-14 cross-engine summation-order noise on ~100 terms
    sits far below the rounding grain, so the oracle hash-matches.
    A zero-shuffle per-row form (array_distinct + per-symbol
    filter-size) measured 2.98 s vs 0.73 s at sf0.1 and was rejected.
    """
    docs = _documents(spark, sf_dir)
    # split("") yields CODE POINTS (Java 8+ zero-width split never cuts a
    # surrogate pair), matching DuckDB string_split(text, '') character
    # semantics; the earlier '(?!^)' pattern split between UTF-16 code
    # units, diverging from the oracle on supplementary-plane text —
    # pinned by tests/test_text_extras.py::test_char_entropy_unicode_parity
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("n"))
    totals = per_char.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.sum(F.col("n") * F.log2("n")).alias("sum_nlogn"),
    )
    # H = log2(N) - (1/N) * sum(n_i * log2(n_i)) — one pass, no join
    return totals.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.log2("n_chars") - F.col("sum_nlogn") / F.col("n_chars"), 6
        ).alias("entropy_bits"),
    )


def bigram_perplexity(
    spark: SparkSession, sf_dir: str, k: float = 0.5
) -> DataFrame:
    """X4 — corpus-trained bigram-LM perplexity per document: the real
    CCNet/Gopher-style quality signal (char_entropy is the model-free
    proxy; this is the modeled form, trained relationally on the corpus
    itself — no external LM).

    Model: add-k smoothed conditionals p(w2|w1) = (C(w1,w2) + k) /
    (C(w1) + k·V) over corpus unigram/bigram counts (no BOS/EOS
    symbols — scores cover within-document bigrams only, documented
    deviation from a sentence-segmented LM).  Per doc: cross-entropy
    bits/bigram H = mean(-log2 p) and perplexity 2^H.  Repetitive or
    boilerplate-heavy docs score LOW perplexity, rare-junk docs HIGH —
    both tails are filter targets.  Docs with < 2 tokens have no
    bigrams and are excluded.

    Scale shape: one token explode feeds the unigram counts; one
    bigram explode feeds BOTH the model counts and the scoring side;
    every stage is an equi-join or map-side-combinable agg keyed on
    token/bigram — hot bigrams ("of the") are 1-row build keys AQE can
    split.  Registered for driver grading in round 7 (the round-6
    window is saturated); the DuckDB oracle below is parity-tested
    already.
    """
    docs = _documents(spark, sf_dir)
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("tokens"))
    unigrams = toks.select("doc_id", F.explode("tokens").alias("w"))
    # .cache() on the vocab-bounded histogram; |V| is one row per
    # distinct unigram, so the vocab scalar derives from it instead of
    # re-running the corpus explode with a count_distinct (round 8:
    # 4 documents scans -> 3; the remaining three are the unigram
    # explode and the two bigram passes, each corpus-scale by nature)
    uni_counts = (
        unigrams.groupBy("w").agg(F.count("*").alias("cw")).cache()
    )
    vocab = uni_counts.agg(
        F.count("*").alias("v")
    )  # 1-row scalar, broadcast below
    bigrams = toks.filter(F.size("tokens") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tokens") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tokens"), i).alias("w1"),
                    F.element_at(F.col("tokens"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bi_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    scored = (
        bigrams.join(bi_counts, ["w1", "w2"])
        .join(uni_counts.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log2(
                (F.col("cb") + F.lit(k)) / (F.col("cw") + F.lit(k) * F.col("v"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), F.avg("nll")), 6).alias("perplexity"),
    )


# DuckDB twin for bigram_perplexity — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7 when
# driver-window slots free up.
BIGRAM_PERPLEXITY_ORACLE_SQL = """
WITH tok AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), uni AS (
    SELECT doc_id, UNNEST(tokens) AS w FROM tok
), cw AS (
    SELECT w, COUNT(*) AS cw FROM uni GROUP BY w
), v AS (
    SELECT COUNT(DISTINCT w) AS v FROM uni
), bg AS (
    SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2
    FROM tok, UNNEST(range(1, len(tokens))) t(i)
    WHERE len(tokens) >= 2
), cb AS (
    SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2
), scored AS (
    SELECT bg.doc_id,
           -log2((cb.cb + 0.5) / (cw.cw + 0.5 * v.v)) AS nll
    FROM bg
    JOIN cb USING (w1, w2)
    JOIN cw ON cw.w = bg.w1
    CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(nll), 6) AS cross_entropy_bits,
       ROUND(POW(2.0, AVG(nll)), 6) AS perplexity
FROM scored GROUP BY doc_id
"""


def _cms_col(r_col, token_col, w: int):
    """Column index of hash row r for a token: md5(r ':' token) mod w —
    md5-derived so both engines (and the streaming form) agree."""
    h = F.md5(F.concat(r_col.cast("string"), F.lit(":"), token_col))
    return hex_long(h, 1, 6) % w


def cms_positions(
    df: DataFrame, text_col: str = "text", d: int = 4, w: int = 256
) -> DataFrame:
    """(r, col) counter-increment stream for a Count-Min sketch over
    the tokenized text column — shared by the batch operator
    (cms_heavy_hitters) and the streaming build
    (streaming/topology.py::streaming_cms_build)."""
    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
    rows = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("r")
    return toks.select("token", rows).select(
        "r", _cms_col(F.col("r"), F.col("token"), w).alias("col")
    )


def cms_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    d: int = 4,
    w: int = 256,
    k: int = 20,
) -> DataFrame:
    """Count-Min-sketch heavy hitters (Cormode–Muthukrishnan, 2005) —
    the hash-checked witness for the sketch family: sketch_summaries'
    HLL/GK tiers are Spark-internal (rows-only by contract), so this
    operator demonstrates the same fixed-size-mergeable-state idea
    with a sketch BOTH engines can replay bit-for-bit.

    Build: every token occurrence increments d=4 counters, one per
    hash row, at column md5(r ':' token) mod w — the shuffled sketch
    state is AT MOST d*w = 1024 counters regardless of corpus size,
    and merging two sketches is elementwise sum, i.e. exactly what
    partial aggregation already does.  Because this operator needs the
    exact per-token counts anyway (for the probe side), the sketch is
    built FROM the aggregated vocabulary — cell = SUM of counts of the
    tokens hashing there, identical values to the occurrence-level
    build but ONE corpus tokenization scan instead of two (the
    occurrence-level form lives on in streaming_cms_build, where no
    vocab aggregate exists to reuse).  Probe: the exact top-k tokens
    (TakeOrdered — top-k per partition + merge, no global sort) look
    up min over their d counters.  CMS guarantees estimate >= exact
    (counters only ever over-count, pinned in tests); md5-derived
    columns make the whole pipeline engine-exact, same witness recipe
    as dedup_minhash_lsh_md5.

    Output: (token, exact_cnt, cms_est, overestimate), the top-k
    tokens by exact count (count desc, token asc tie-break).
    STAGED round 6, REGISTERED round 7 (round-6 window saturated);
    CMS_HEAVY_HITTERS_ORACLE_SQL is parity-tested now
    (tests/test_text_extras.py)."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        F.explode(_tokens(F.col("text"))).alias("token")
    )
    rows = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("r")
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    cms = (
        exact.select("token", "exact_cnt", rows)
        .select(
            "r",
            _cms_col(F.col("r"), F.col("token"), w).alias("col"),
            "exact_cnt",
        )
        .groupBy("r", "col")
        .agg(F.sum("exact_cnt").alias("c"))
    )
    topk = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(k)
    probes = topk.select("token", "exact_cnt", rows).withColumn(
        "col", _cms_col(F.col("r"), F.col("token"), w)
    )
    return (
        probes.join(F.broadcast(cms), ["r", "col"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "token",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# DuckDB twin for cms_heavy_hitters — parity-tested now
# (tests/test_text_extras.py), registered in round 7.
CMS_HEAVY_HITTERS_ORACLE_SQL = """
WITH toks AS (
    SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        t -> t <> '')) AS token
    FROM documents
), hrows AS (
    SELECT * FROM (VALUES (0), (1), (2), (3)) v(r)
), exact AS (
    SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY 1
), cms AS (
    SELECT r,
           CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 6)
                AS BIGINT) % 256 AS col,
           CAST(SUM(exact_cnt) AS BIGINT) AS c
    FROM exact CROSS JOIN hrows
    GROUP BY 1, 2
), topk AS (
    SELECT token, exact_cnt FROM exact
    ORDER BY exact_cnt DESC, token LIMIT 20
), probes AS (
    SELECT t.token, t.exact_cnt, h.r,
           CAST('0x' || substr(md5(CAST(h.r AS VARCHAR) || ':' || t.token),
                               1, 6) AS BIGINT) % 256 AS col
    FROM topk t CROSS JOIN hrows h
)
SELECT p.token, p.exact_cnt, MIN(c.c) AS cms_est,
       MIN(c.c) - p.exact_cnt AS overestimate
FROM probes p JOIN cms c ON p.r = c.r AND p.col = c.col
GROUP BY 1, 2
"""


VOCAB_COVERAGE_SHARE = 0.9


def vocab_coverage(
    spark: SparkSession,
    sf_dir: str,
    coverage: float = VOCAB_COVERAGE_SHARE,
    vocab_join: str = "broadcast",
) -> DataFrame:
    """X4 — tokenizer-fit vocabulary + per-document OOV rate: the
    smallest frequency-ranked vocabulary covering `coverage` of all
    token occurrences (the unigram analogue of a BPE vocab-size
    decision), then each document scored by its out-of-vocabulary
    token share — the signal that flags docs a tokenizer trained on
    this corpus would shatter into rare pieces.

    Vocabulary rule: rank tokens by (count DESC, token ASC); a token
    is IN while the cumulative count of strictly-higher-ranked tokens
    is still below coverage x total — i.e. the prefix that first
    reaches the target, deterministically.

    Scale shape: the ONLY windowed frame is the token-frequency table
    — bounded by |vocab|, never by corpus size — and since round 11
    even that cumulative sum is range-PARTITIONED
    (operators.ordered.cumsum_total_order), because this function's
    own 100 TB note puts the vocab at O(millions) of tokens: large
    enough that a single-task sort is the same hazard class the
    vocab_join knob exists for.  The corpus-sized stages are one
    explode, one map-side-combinable count, and a left-join of the
    vocab back onto the token stream.  Zero-token docs drop, matching
    the oracle.

    ``vocab_join`` picks the join strategy for that last step.
    "broadcast" (default, the graded/fixture path) pins the vocab to
    every executor — correct while the vocab fits comfortably in
    executor memory (fixture scale: O(10^4) tokens, a few hundred KB).
    At the 100 TB scale the docstring targets, a 90%-coverage
    vocabulary is O(millions) of strings — hundreds of MB, past
    Spark's broadcast comfort zone and driver memory headroom — so
    pass "shuffle": a plain hash equi-join on the token column, one
    extra corpus shuffle but no single-node materialization of the
    vocab.  Both modes produce identical rows (pinned in
    tests/test_text_extras.py); the bound is documented in
    SCALE_DESIGN.md."""
    from ..operators.ordered import cumsum_total_order

    docs = _documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("w")
    )
    counts = tok.groupBy("w").agg(F.count("*").alias("cw"))
    # the grand total rides the cumsum's own partition-summary frame
    # (total_alias) instead of a separate agg + crossJoin(broadcast) —
    # one whole broadcast-build job less per run (round-13 profiling:
    # this query's residual cost is per-job constants, not data)
    vocab = (
        cumsum_total_order(
            counts, [F.col("cw").desc(), F.col("w")], "cw", "cum_before",
            total_alias="tot",
        )
        .filter(F.col("cum_before") < coverage * F.col("tot"))
        .select("w", F.lit(1).alias("in_vocab"))
    )
    if vocab_join not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown vocab_join {vocab_join!r}")
    # "shuffle" pins a merge join (not merely dropping the broadcast
    # hint — at fixture scale the optimizer's size estimate would
    # quietly re-broadcast, defeating the knob's purpose of never
    # materializing the vocab on a single node)
    vocab_side = (
        F.broadcast(vocab) if vocab_join == "broadcast"
        else vocab.hint("merge")
    )
    return (
        tok.join(vocab_side, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6),
        )
    )


# DuckDB twin for vocab_coverage — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
VOCAB_COVERAGE_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '')) AS w
    FROM documents
), counts AS (
    SELECT w, COUNT(*) AS cw FROM tok GROUP BY w
), total AS (
    SELECT SUM(cw) AS tot FROM counts
), vocab AS (
    SELECT w FROM (
        SELECT w, COALESCE(SUM(cw) OVER (
            ORDER BY cw DESC, w
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before
        FROM counts
    ) ranked CROSS JOIN total
    WHERE cum_before < {VOCAB_COVERAGE_SHARE} * tot
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY 1
"""


BPE_LEARN_ROUNDS = 3


def bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_LEARN_ROUNDS
) -> DataFrame:
    """X4 — relational BPE trainer: `rounds` merge steps learned and
    APPLIED on the corpus word-frequency table (bpe_pair_counts is one
    step's counts; this is the full trainer loop, unrolled).  Industry
    BPE trainers run on the word histogram, not the raw corpus — the
    same shape here: the only corpus-scale stages are one token explode
    and one map-side-combinable word count; every merge round is then
    vocab-bounded (pair counting, top-pair selection, greedy rewrite).

    Per round: pair counts weighted by word frequency; the winning
    pair by (count, a, b) — picked with a 1-row max(struct) aggregate,
    NOT a global sort; the rewrite is a left-to-right greedy fold
    (classic BPE merge semantics: after a merge the scanner moves past
    the merged symbol) expressed as `F.aggregate` over the symbol
    array — and as DuckDB `list_reduce` in the oracle, so both engines
    execute the identical scan.  Output per word: final symbolization,
    symbol count, and the learned merge table as columns.

    Scale: vocabulary at 100 TB is O(10M) words — the per-round frames
    are histogram-sized, the three scalar tops broadcast, and no stage
    ever revisits the corpus.  Registered for driver grading in round
    7 (window saturated); BPE_LEARN_ORACLE_SQL is parity-tested now
    (tests/test_text_extras.py)."""
    docs = _documents(spark, sf_dir)
    # .cache(): every merge round's pair-count aggregate and the final
    # projection otherwise re-execute this lineage — including the
    # corpus-scale explode+count — once per round (bpe_tokenize_stats
    # measured 9 documents scans for 3 rounds before the round-8
    # cache; 2 after — the remaining scan is the apply side's corpus
    # join, inherent).  The cached frame is the vocab histogram,
    # O(|vocab|) rows, the same bounded artifact industry BPE trainers
    # hold in memory; bench-style warm timing at sf0.1: 3.13 -> 2.52 s.
    words = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .cache()
    )
    # split("(?!^)") matches the end-of-string position too, leaving a
    # trailing "" element — filter it or every word gains a ghost symbol
    #
    # .cache() per round (including round 0 here): round r's
    # symbolization is referenced TWICE — by round r+1's pair-count
    # aggregate (which feeds that round's broadcast top-pair) and by
    # the continuing rewrite chain — and without a cache Catalyst
    # plans the two references as separate copies whose pushed-down
    # parent predicates differ, so ReuseExchange never fires and
    # round 3's aggregate re-executes rounds 1-2's greedy rewrites
    # from scratch (round-15 plan census: 23 hash exchanges, 8 cache
    # scans, ZERO reuse; 14 exchanges and half the stage-jobs after).
    # Every cached frame is the vocab histogram — O(|vocab|) rows,
    # the same bounded artifact the words.cache() above holds.
    seq = words.withColumn(
        "syms",
        F.array_join(
            F.filter(
                F.split(F.col("word"), "(?!^)"), lambda t: t != F.lit("")
            ),
            " ",
        ),
    ).cache()
    cached = [words, seq]  # released via dedup.unpersist_deps
    for r in range(1, rounds + 1):
        arr = F.split(F.col("syms"), " ")
        pairs = (
            seq.filter(F.size(arr) >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.struct(
                            F.element_at(arr, i).alias("a"),
                            F.element_at(arr, i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.agg(F.max(F.struct("cnt", "a", "b")).alias("m")).select(
            F.col("m.a").alias(f"ma{r}"), F.col("m.b").alias(f"mb{r}")
        )
        seq = seq.crossJoin(F.broadcast(top))
        ma, mb = F.col(f"ma{r}"), F.col(f"mb{r}")
        merged = F.concat(ma, mb)
        seq = seq.withColumn(
            "syms",
            F.aggregate(
                F.split(F.col("syms"), " "),
                F.lit(""),
                lambda acc, x: (
                    F.when(acc == F.lit(""), x)
                    .when((x == mb) & (acc == ma), merged)
                    .when(
                        (x == mb)
                        & acc.endswith(F.concat(F.lit(" "), ma)),
                        F.concat(
                            F.substring(
                                acc,
                                F.lit(1),
                                F.length(acc) - F.length(ma) - 1,
                            ),
                            F.lit(" "),
                            merged,
                        ),
                    )
                    .otherwise(F.concat(acc, F.lit(" "), x))
                ),
            ),
        ).cache()
        cached.append(seq)
    out = seq.select(
        "word",
        "freq",
        F.col("syms").alias("symbols"),
        F.size(F.split(F.col("syms"), " ")).cast("long").alias("n_symbols"),
        F.concat_ws("+", F.col("ma1"), F.col("mb1")).alias("merge1"),
        F.concat_ws("+", F.col("ma2"), F.col("mb2")).alias("merge2"),
        F.concat_ws("+", F.col("ma3"), F.col("mb3")).alias("merge3"),
    )
    # the dedup cache contract (dedup.unpersist_deps): every vocab-
    # bounded frame this trainer pinned, releasable by a long-lived
    # caller once the result is fully materialized
    out._cached_deps = cached
    return out


def _bpe_round_sql(r: int) -> str:
    """One unrolled merge round of the DuckDB twin: pair counts from
    s{r-1}, deterministic top pair, list_reduce greedy rewrite."""
    return f"""p{r} AS (
    SELECT arr[i] AS a, arr[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT freq, string_split(syms, ' ') AS arr FROM s{r - 1}) q,
         UNNEST(range(1, len(arr))) t(i)
    WHERE len(arr) >= 2
    GROUP BY 1, 2
), m{r} AS (
    -- MAX over a (cnt, a, b) struct, exactly mirroring the Spark
    -- side's max(struct) 1-row aggregate: on a round with NO pairs
    -- (degenerate corpus of single-char words) this yields one row of
    -- NULLs — not zero rows — so the CROSS JOIN below keeps every
    -- word and the merge CASE never fires (NULL comparisons), in
    -- lockstep with Spark.  An ORDER BY ... LIMIT 1 form would return
    -- zero rows and silently drop the whole corpus in that case.
    SELECT mm.a AS ma{r}, mm.b AS mb{r}
    FROM (SELECT MAX(struct_pack(cnt := cnt, a := a, b := b)) AS mm
          FROM p{r})
), s{r} AS (
    SELECT word, freq, ma{r}, mb{r},
           list_reduce(string_split(syms, ' '),
               (acc, x) -> CASE
                   WHEN x = mb{r} AND acc = ma{r}
                       THEN ma{r} || mb{r}
                   WHEN x = mb{r} AND ends_with(acc, ' ' || ma{r})
                       THEN left(acc, len(acc) - len(ma{r}) - 1)
                            || ' ' || ma{r} || mb{r}
                   ELSE acc || ' ' || x END) AS syms
    FROM s{r - 1} CROSS JOIN m{r}
)"""


# DuckDB twin for bpe_learn — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
BPE_LEARN_ORACLE_SQL = (
    """
WITH tok AS (
    SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) AS word
    FROM documents
), words AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word
), s0 AS (
    SELECT word, freq,
           array_to_string(string_split(word, ''), ' ') AS syms
    FROM words
), """
    + ", ".join(_bpe_round_sql(r) for r in range(1, BPE_LEARN_ROUNDS + 1))
    + f"""
SELECT s.word, s.freq, s.syms AS symbols,
       CAST(len(string_split(s.syms, ' ')) AS BIGINT) AS n_symbols,
       concat_ws('+', m1.ma1, m1.mb1) AS merge1,
       concat_ws('+', m2.ma2, m2.mb2) AS merge2,
       concat_ws('+', m3.ma3, m3.mb3) AS merge3
FROM s{BPE_LEARN_ROUNDS} s CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3
"""
)


def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — apply the bpe_learn tokenizer to the corpus: per-document
    BPE token counts and compression ratio under the merges the
    trainer just learned.  This is the APPLY side of the trainer pair
    (train on the word histogram, tokenize by joining the corpus back
    to the learned segmentations) — the join-back is how production
    tokenizer pipelines amortize segmentation: each distinct word is
    segmented once, not once per occurrence.

    Scale shape: the corpus-scale stages are one token explode and one
    per-(doc, word) count; the learned segmentation table is
    vocab-bounded and joins on word (broadcastable at fixture scale,
    an ordinary equi-join at 100 TB); the final rollup is one
    map-side-combinable groupBy(doc_id).  Zero-token docs drop,
    matching the oracle."""
    docs = _documents(spark, sf_dir)
    seg = bpe_learn(spark, sf_dir).select("word", "n_symbols")
    occ = (
        docs.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    return (
        occ.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.length("word"))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.col("n_occ") * F.col("n_symbols"))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
        .withColumn(
            "compression",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6),
        )
    )


# DuckDB twin for bpe_tokenize_stats — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
# Reuses the trainer's unrolled rounds so the applied merges cannot
# disagree with the learned ones.
BPE_TOKENIZE_STATS_ORACLE_SQL = (
    """
WITH tok AS (
    SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) AS word
    FROM documents
), words AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word
), s0 AS (
    SELECT word, freq,
           array_to_string(string_split(word, ''), ' ') AS syms
    FROM words
), """
    + ", ".join(_bpe_round_sql(r) for r in range(1, BPE_LEARN_ROUNDS + 1))
    + f"""
, seg AS (
    SELECT word,
           CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_symbols
    FROM s{BPE_LEARN_ROUNDS}
), dtok AS (
    SELECT doc_id,
           UNNEST(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '')) AS word
    FROM documents
), occ AS (
    SELECT doc_id, word, COUNT(*) AS n_occ FROM dtok GROUP BY 1, 2
)
SELECT occ.doc_id,
       CAST(SUM(n_occ) AS BIGINT) AS n_words,
       CAST(SUM(n_occ * len(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_occ * n_symbols) AS BIGINT) AS n_bpe_tokens,
       ROUND(SUM(n_occ * len(word))::DOUBLE
             / SUM(n_occ * n_symbols), 6) AS compression
FROM occ JOIN seg USING (word)
GROUP BY 1
"""
)


WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # window width (guarantee: every w consecutive k-grams
#               contribute >= 1 fingerprint; expected density 2/(w+1))


def _winnow_fps(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, tokens, packed_arr, fps) — the per-row robust winnowing
    selection that winnow_fingerprints and winnow_fp_hashes read.
    packed_arr holds each k-gram's first-7-hex md5 hash packed with its
    rightmost-wins position, hash * 2^32 + (2^31 - pos); fps is the
    distinct sliding-window MIN of that array.  packed_arr is a real
    column so the window transform references it once per row, not
    once per window (the inlined form re-evaluates the whole array per
    element — O(n^2) on long docs).  Docs with fewer than w full
    windows (less than k + w - 1 tokens) drop."""
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") >= k + w - 1)
    big = F.lit(4294967296).cast("long")
    packed = toks.withColumn(
        "packed_arr",
        F.transform(
            F.sequence(F.lit(1), F.size("tokens") - k + 1),
            lambda i: hex_long(
                F.md5(F.array_join(F.slice(F.col("tokens"), i, k), " ")), 1, 7
            )
            * big
            + (F.lit(2147483648).cast("long") - i.cast("long")),
        ),
    )
    return packed.withColumn(
        "fps",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(w), F.size("packed_arr")),
                lambda e: F.array_min(
                    F.slice(F.col("packed_arr"), e - w + 1, w)
                ),
            )
        ),
    )


def winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """X4 — robust winnowing (Schleimer, Wilkerson, Aiken, SIGMOD'03):
    the MOSS fingerprint-selection algorithm over token k-grams.  In
    every window of `w` consecutive k-gram hashes select the minimum,
    breaking ties by the RIGHTMOST position (the robust variant); the
    distinct selected (hash, position) pairs are the document's
    fingerprint sketch, with the paper's guarantee that any match of
    length >= w + k - 1 tokens shares a fingerprint — the
    position-aware plagiarism/overlap primitive that doc_fingerprints'
    positionless rolling hash can't provide.

    Engine-exact trick: hash = first-7-hex of md5(kgram) (28 bits,
    Spark conv == DuckDB CAST('0x'||hex AS BIGINT) — the established
    md5 convention), and (hash, rightmost-pos) min-selection is packed
    into ONE BIGINT: hash * 2^32 + (2^31 - pos), so the windowed MIN
    is a plain long comparison in both engines — no struct-ordering
    semantics to align.

    Scale shape: ZERO exchanges — every output column is derivable
    from the document's own packed-fingerprint array, so the whole
    query is scan -> project (higher-order array functions; the
    per-row window MIN over the materialized packed array).  The
    min/max HASH ride the packed extremes directly: the hash field
    dominates the packing, so shiftright(array_min(fps), 32) IS the
    minimum hash.  The partitioned-window relation (_winnow_selected)
    remains the reference formulation, equality-pinned in test.  Docs
    with fewer than w full windows (less than k + w - 1 tokens) drop,
    matching the oracle."""
    fps = _winnow_fps(_documents(spark, sf_dir), k, w)
    n_kg = (F.size("tokens") - k + 1).cast("long")
    n_fp = F.size("fps").cast("long")
    return fps.select(
        "doc_id",
        n_kg.alias("n_kgrams"),
        n_fp.alias("n_fingerprints"),
        F.round(n_fp / n_kg, 6).alias("fp_density"),
        # shiftright == integer DIV 2^32 (exact; / is double division
        # and packed sits at ~2^60)
        F.shiftright(F.array_min("fps"), 32).cast("long").alias(
            "fp_min_hash"
        ),
        F.shiftright(F.array_max("fps"), 32).cast("long").alias(
            "fp_max_hash"
        ),
    )


def _winnow_selected(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """The selected-fingerprint relation winnow_fingerprints aggregates
    and winnow_probe_incoming joins: distinct (doc_id, n_kgrams, fp)
    where fp is the packed (hash, rightmost-pos) BIGINT."""
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") >= k + w - 1)
    kg = toks.select(
        "doc_id",
        (F.size("tokens") - k + 1).cast("long").alias("n_kgrams"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tokens") - k + 1),
                lambda i: F.array_join(F.slice(F.col("tokens"), i, k), " "),
            )
        ).alias("pos0", "kgram"),
    ).select(
        "doc_id",
        "n_kgrams",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        hex_long(F.md5(F.col("kgram")), 1, 7).alias("h"),
    )
    packed = kg.withColumn(
        "packed",
        F.col("h") * F.lit(4294967296).cast("long")
        + (F.lit(2147483648).cast("long") - F.col("pos")),
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    return (
        packed.withColumn("fp", F.min("packed").over(win))
        .filter(F.col("pos") >= w)  # full windows only
        .select("doc_id", "n_kgrams", "fp")
        .distinct()
    )


# DuckDB twin for winnow_fingerprints — parity-tested in
# tests/test_text_extras.py.
WINNOW_FINGERPRINTS_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), kg AS (
    SELECT doc_id,
           CAST(len(tokens) - {WINNOW_K} + 1 AS BIGINT) AS n_kgrams,
           CAST(i AS BIGINT) AS pos,
           CAST('0x' || substr(md5(array_to_string(
               list_slice(tokens, i, i + {WINNOW_K} - 1), ' ')), 1, 7)
               AS BIGINT) AS h
    FROM tok, UNNEST(range(1, len(tokens) - {WINNOW_K} + 2)) t(i)
    WHERE len(tokens) >= {WINNOW_K} + {WINNOW_W} - 1
), packed AS (
    SELECT doc_id, n_kgrams, pos,
           h * 4294967296 + (2147483648 - pos) AS packed
    FROM kg
), sel AS (
    SELECT DISTINCT doc_id, n_kgrams,
           MIN(packed) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
               AS fp
    FROM packed
    QUALIFY pos >= {WINNOW_W}
)
SELECT doc_id,
       MAX(n_kgrams) AS n_kgrams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       ROUND(COUNT(*)::DOUBLE / MAX(n_kgrams), 6) AS fp_density,
       CAST(MIN(fp // 4294967296) AS BIGINT) AS fp_min_hash,
       CAST(MAX(fp // 4294967296) AS BIGINT) AS fp_max_hash
FROM sel GROUP BY doc_id
"""


def winnow_fp_hashes(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W):
    """Shuffle-free winnowing: the same robust fingerprint selection as
    _winnow_selected, but computed per-ROW with higher-order array
    functions (_winnow_fps) instead of a partitioned window — NO
    exchange at all, which also makes it legal on a STREAMING
    DataFrame, where window functions are not.

    Returns (doc_id, fph) distinct — the position-stripped fingerprint
    HASHES (what the probe joins on).  Equality with the windowed
    relation is pinned in test."""
    fps = _winnow_fps(docs, k, w)
    return fps.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # shiftright(32) == integer DIV 2^32 for non-negative
                # longs — exact, unlike / (double division, ~2^60 input)
                F.transform(F.col("fps"), lambda fp: F.shiftright(fp, 32))
            )
        ).alias("fph"),
    )


WINNOW_PROBE_MIN_SHARED = 2
WINNOW_PROBE_MAX_DOCS_PER_FP = 64


def winnow_probe_incoming(
    spark: SparkSession,
    sf_dir: str,
    incoming_pct: int = 10,
    min_shared: int = WINNOW_PROBE_MIN_SHARED,
    max_corpus_docs_per_fp: int = WINNOW_PROBE_MAX_DOCS_PER_FP,
) -> DataFrame:
    """X2/X4 — position-aware incremental overlap probe: fingerprint
    the INCOMING document slice (same deterministic md5 'inc' bucket
    split as dedup_incoming) with robust winnowing and join it against
    the existing corpus's fingerprint index — each surviving
    (incoming, corpus) pair shares >= `min_shared` distinct
    fingerprint hashes, i.e. winnowing-guaranteed evidence of shared
    passages.  This is what the hash tier of dedup_incoming cannot
    see: PARTIAL overlap (a copied paragraph inside an otherwise-new
    document), caught at ingest without re-fingerprinting the corpus.

    Scale shape: the corpus index is the materialized
    (corpus_doc, fp_hash) relation — computed once, joined on fp_hash;
    fingerprints present in more than `max_corpus_docs_per_fp` corpus
    docs are everywhere-boilerplate and excised (same hot-key
    discipline as source_overlap_matrix), bounding the join fan-out
    per key; only the incoming slice is fingerprinted fresh.
    Fingerprinting uses the SHUFFLE-FREE per-row form
    (winnow_fp_hashes — equality with the windowed relation pinned in
    test, and measurably faster: no exchange until the probe join),
    so the plan's only exchanges are the join, the map-side-combinable
    pair aggregate, and (at narrow-scan scale only) the round-13
    _documents spread ahead of the fingerprint fold — none at real
    scale."""
    docs = _documents(spark, sf_dir)
    from .sampling import _bucket

    b = docs.select("doc_id", "text", _bucket(F.col("doc_id"), "inc"))
    cut = 100 - incoming_pct
    inc = b.filter(F.col("bucket") >= cut).select("doc_id", "text")
    cor = b.filter(F.col("bucket") < cut).select("doc_id", "text")
    sel_inc = winnow_fp_hashes(inc).withColumnRenamed(
        "doc_id", "incoming_doc_id"
    )
    sel_cor = winnow_fp_hashes(cor).withColumnRenamed(
        "doc_id", "corpus_doc_id"
    )
    keep = (
        sel_cor.groupBy("fph")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") <= max_corpus_docs_per_fp)
        .select("fph")
    )
    return (
        sel_inc.join(sel_cor.join(keep, "fph"), "fph")
        .groupBy("incoming_doc_id", "corpus_doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= min_shared)
    )


def _winnow_probe_sql_chain(prefix: str, src: str) -> str:
    """One slice's winnowing chain for the probe oracle, ending in
    `{prefix}_sel` = distinct (doc_id, fph)."""
    return f"""{prefix}_tok AS (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM {src}
), {prefix}_kg AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           CAST('0x' || substr(md5(array_to_string(
               list_slice(tokens, i, i + {WINNOW_K} - 1), ' ')), 1, 7)
               AS BIGINT) AS h
    FROM {prefix}_tok,
         UNNEST(range(1, len(tokens) - {WINNOW_K} + 2)) t(i)
    WHERE len(tokens) >= {WINNOW_K} + {WINNOW_W} - 1
), {prefix}_sel AS (
    SELECT DISTINCT doc_id, fp // 4294967296 AS fph FROM (
        SELECT doc_id,
               MIN(h * 4294967296 + (2147483648 - pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                   AS fp
        FROM {prefix}_kg QUALIFY pos >= {WINNOW_W}
    )
)"""


# DuckDB twin for winnow_probe_incoming — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
WINNOW_PROBE_ORACLE_SQL = (
    """
WITH b AS (
    SELECT doc_id, text,
           CAST('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)),
               1, 4) AS BIGINT) % 100 AS bucket
    FROM documents
), inc_docs AS (
    SELECT doc_id, text FROM b WHERE bucket >= 90
), cor_docs AS (
    SELECT doc_id, text FROM b WHERE bucket < 90
), """
    + _winnow_probe_sql_chain("inc", "inc_docs")
    + ", "
    + _winnow_probe_sql_chain("cor", "cor_docs")
    + f""", keep AS (
    SELECT fph FROM cor_sel GROUP BY fph
    HAVING COUNT(*) <= {WINNOW_PROBE_MAX_DOCS_PER_FP}
)
SELECT i.doc_id AS incoming_doc_id, c.doc_id AS corpus_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fp
FROM inc_sel i
JOIN (SELECT * FROM cor_sel WHERE fph IN (SELECT fph FROM keep)) c
  ON i.fph = c.fph
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_PROBE_MIN_SHARED}
"""
)


FEATURE_HASH_DIM = 16


def feature_hash_embed(
    spark: SparkSession, sf_dir: str, dim: int = FEATURE_HASH_DIM
) -> DataFrame:
    """X4/X5 bridge — feature hashing (the Weinberger et al. hashing
    trick): every document becomes a dense `dim`-dimensional
    L2-normalized bag-of-words vector, with token -> dimension
    assignment by md5 (engine-exact, vocabulary-free — no dictionary
    to build, ship or keep consistent, which is WHY the trick is the
    production featurizer at corpus scale).  The output is the same
    `array<double>` shape the embeddings table carries, so every
    downstream X3 operator (brute-force kNN, SRP dedup, k-means)
    composes with text directly.

    Scale shape: one token explode -> one map-side-combinable
    (doc, dim) count -> one groupBy(doc) assembling the dense vector
    (per-doc state = dim counters); missing dimensions zero-fill via
    a per-row sequence transform, not a join.  Components are rounded
    AFTER the exact-integer norm arithmetic (counts are longs; the
    sqrt and divisions are identical IEEE ops in both engines)."""
    docs = _documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("w")
    )
    counts = tok.withColumn(
        "d",
        hex_long(F.md5(F.col("w")), 1, 4) % dim,
    ).groupBy("doc_id", "d").agg(F.count("*").alias("c"))
    sparse = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("d"), F.col("c")))
        ).alias("m"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            F.coalesce(F.element_at(F.col("m"), i.cast("long")), F.lit(0))
            / F.sqrt(F.col("ss")),
            6,
        ),
    )
    return sparse.select(
        "doc_id",
        comp.alias("vec"),
        F.size("m").cast("long").alias("n_active_dims"),
    )


# DuckDB twin for feature_hash_embed — parity-tested in
# tests/test_text_extras.py.
FEATURE_HASH_EMBED_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) AS w
    FROM documents
), counts AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(w), 1, 4) AS BIGINT)
               % {FEATURE_HASH_DIM} AS d,
           COUNT(*) AS c
    FROM tok GROUP BY 1, 2
), sparse AS (
    SELECT doc_id, MAP(list(d), list(c)) AS m, SUM(c * c) AS ss
    FROM counts GROUP BY doc_id
)
SELECT doc_id,
       [ROUND(COALESCE(map_extract(m, i)[1], 0) / sqrt(ss), 6)
        FOR i IN range(0, {FEATURE_HASH_DIM})] AS vec,
       CAST(cardinality(m) AS BIGINT) AS n_active_dims
FROM sparse
"""


def feature_hash_embed_long(
    spark: SparkSession, sf_dir: str, dim: int = FEATURE_HASH_DIM
) -> DataFrame:
    """The GRADED driver shape of feature_hash_embed: one row per
    (doc, dimension) with scalar columns only — no registered entry
    ships a container-valued column to the driver's value-hash (its
    canonicalization of array cells is outside our contract; the same
    reason question_page_array serializes its struct array to JSON).
    The array-returning feature_hash_embed stays the composition API
    feeding the X3 operators and is parity-tested in pytest
    (tests/test_text_extras.py, tests/test_oracle_parity.py)."""
    v = feature_hash_embed(spark, sf_dir, dim)
    return v.select(
        "doc_id",
        "n_active_dims",
        F.posexplode("vec").alias("dim_i", "component"),
    ).select(
        "doc_id",
        F.col("dim_i").cast("long").alias("dim_i"),
        "component",
        "n_active_dims",
    )


# DuckDB twin for feature_hash_embed_long — identical CTEs, the dense
# vector unrolled to one row per dimension.
FEATURE_HASH_EMBED_LONG_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '')) AS w
    FROM documents
), counts AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(w), 1, 4) AS BIGINT)
               % {FEATURE_HASH_DIM} AS d,
           COUNT(*) AS c
    FROM tok GROUP BY 1, 2
), sparse AS (
    SELECT doc_id, MAP(list(d), list(c)) AS m, SUM(c * c) AS ss
    FROM counts GROUP BY doc_id
)
SELECT doc_id,
       CAST(i AS BIGINT) AS dim_i,
       ROUND(COALESCE(map_extract(m, i)[1], 0) / sqrt(ss), 6) AS component,
       CAST(cardinality(m) AS BIGINT) AS n_active_dims
FROM sparse, UNNEST(range(0, {FEATURE_HASH_DIM})) t(i)
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 5
BM25_TOP_DOCS = 10


def _bm25_postings(docs: DataFrame, n_queries: int):
    """(tf, dl, stats, queries) — BM25's corpus aggregate chain, shared
    by bm25_top_docs and its streaming index (bm25_query_index): tf per
    (doc_id, w), dl per doc_id, the 1-row (n_docs, avgdl) scalar, and
    the query pick — the `n_queries` most frequent non-stopword terms
    (total occurrences DESC, term ASC) with their df.

    .cache() on the postings: dl, df/cf, the query pick and the
    scoring join all derive from tf — uncached, each re-executed the
    corpus explode (4 documents scans measured; 1 after).  dl is
    sum(tf) per doc (identical to counting the raw explode — every
    occurrence is in exactly one (doc, term) group)."""
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf")).cache()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("w").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    queries = (
        df_t.filter(~F.col("w").isin(*_STOPWORDS))
        .orderBy(F.col("cf").desc(), F.col("w"))
        .limit(n_queries)
        .select("w", "df")
    )
    return tf, dl, stats, queries


def bm25_score(k1: float, b: float) -> "F.Column":
    """The 6-dp BM25 score over columns tf, dl, df, n_docs and avgdl:
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the Lucene
    +1 idf, ln((N - df + 0.5) / (df + 0.5) + 1).  Shared by
    bm25_top_docs and streaming.topology.streaming_bm25_score, so the
    stream scores bit-for-bit like the batch."""
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    return F.round(
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") / F.col("avgdl")
            )
        ),
        6,
    )


def bm25_top_docs(
    spark: SparkSession,
    sf_dir: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_queries: int = BM25_N_QUERIES,
    top_docs: int = BM25_TOP_DOCS,
) -> DataFrame:
    """X4 — BM25 document ranking (Robertson/Sparck Jones; the Lucene
    +1 IDF variant): the retrieval-scoring primitive behind
    quality-targeted data selection ("select training documents most
    relevant to a trusted query set").  tfidf_top_terms ranks TERMS
    within a doc; this ranks DOCS for a query term — the inverse,
    length-normalized direction an actual selection pipeline runs.

    Deterministic, self-contained query set: the corpus's `n_queries`
    most frequent non-stopword tokens (total occurrences DESC, token
    ASC) — at scale the query set is the trusted benchmark's terms,
    shipped as a broadcast dim exactly like this one.  For each query
    term, the top `top_docs` documents by
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), ranked on the
    ROUNDED score (6 dp) with doc_id tie-break so an ulp of ln()
    divergence can never reorder the cutoff (the pmi_top_pairs
    discipline; ln itself is cross-engine-stable at 6 dp, proven by
    the PMI entry's hash checks).

    Scale shape: one token explode feeds tf, dl, df and the query
    pick; tf/dl/df are map-side-combinable aggregates; N/avgdl are a
    broadcast 1-row scalar; the scoring join touches only the
    query-term postings (|terms| = n_queries), never the full postings
    table; the per-term top-k is a window over those postings alone.
    """
    from pyspark.sql import Window

    tf, dl, stats, queries = _bm25_postings(
        _documents(spark, sf_dir), n_queries
    )
    scored = (
        tf.join(F.broadcast(queries), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "w",
            "doc_id",
            F.col("tf").cast("long").alias("tf"),
            bm25_score(k1, b).alias("bm25"),
        )
    )
    w_rank = Window.partitionBy("w").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= top_docs)
        .select(
            F.col("w").alias("query_term"), "doc_id", "tf", "bm25", "rank"
        )
    )


def bm25_query_index(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = BM25_N_QUERIES,
) -> DataFrame:
    """The STATIC side of streaming BM25 scoring: the query-term
    dimension (term, its document frequency) carrying the corpus
    scalars (n_docs, avgdl) on every row — built offline from the
    corpus with bm25_top_docs' own aggregate chain (_bm25_postings),
    so the streaming scorer reproduces the batch scores bit-for-bit.

    At 100 TB this is the trusted benchmark's term list plus two
    corpus statistics — a few-KB broadcast dim refreshed by a periodic
    batch job, the same artifact-lifecycle as the IVF centroid index
    (similarity.build_ivf_index) and the eval anchor index
    (dedup.eval_anchor_index)."""
    _, _, stats, queries = _bm25_postings(_documents(spark, sf_dir), n_queries)
    return queries.crossJoin(F.broadcast(stats))


# DuckDB twin for bm25_top_docs — identical aggregate chain, identical
# operation order inside the score expression, ranked on the ROUNDED
# score.
BM25_TOP_DOCS_ORACLE_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           UNNEST(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '')) AS w
    FROM documents
), tf AS (
    SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
    SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
), df_t AS (
    SELECT w, COUNT(*) AS df, SUM(tf) AS cf FROM tf GROUP BY w
), queries AS (
    SELECT w, df FROM df_t
    WHERE w NOT IN ({", ".join(f"'{s}'" for s in _STOPWORDS)})
    ORDER BY cf DESC, w LIMIT {BM25_N_QUERIES}
), scored AS (
    SELECT q.w AS query_term, tf.doc_id, CAST(tf.tf AS BIGINT) AS tf,
           ROUND(
               LN((n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * (tf.tf * {BM25_K1 + 1.0})
               / (tf.tf + {BM25_K1}
                  * ({1.0 - BM25_B} + {BM25_B} * dl.dl / avgdl)),
               6) AS bm25
    FROM tf
    JOIN queries q USING (w)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
)
SELECT query_term, doc_id, tf, bm25, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT s.*, ROW_NUMBER() OVER (
        PARTITION BY query_term ORDER BY bm25 DESC, doc_id) AS rn
    FROM scored s
) WHERE rn <= {BM25_TOP_DOCS}
"""


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def pmi_top_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = PMI_MIN_COUNT,
    k: int = PMI_TOP_K,
) -> DataFrame:
    """X4 — collocation extraction: the top-k adjacent token pairs by
    pointwise mutual information, PMI = log2(C(w1,w2) * N / (C(w1) *
    C(w2))), with a minimum pair-count floor (rare pairs explode PMI —
    the standard Church & Hanks discipline).  bigram_perplexity scores
    DOCUMENTS with the corpus LM; this scores the VOCABULARY pairs —
    the phrase-mining complement.

    Cross-engine determinism at the top-k CUTOFF: the sort key is the
    ROUNDED pmi (6 dp) with (w1, w2) tiebreaks, because raw log2 can
    differ by an ulp between engines and silently reorder the
    boundary; after rounding, survival at the cutoff is engine-exact.
    Scale shape: one bigram explode + two vocab-bounded aggregates;
    the N scalar broadcasts; top-k is TakeOrdered, never a global
    sort."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(_tokens(F.col("text")).alias("tokens"))
    unigrams = toks.select(F.explode("tokens").alias("w"))
    # .cache() + derive the corpus token count from the histogram
    # (sum of per-word counts == the raw explode count): round 8,
    # 4 documents scans -> 2 (unigram + bigram passes, both
    # corpus-scale by nature; uni is vocab-bounded and feeds two
    # broadcast sides plus the scalar)
    uni = unigrams.groupBy("w").agg(F.count("*").alias("cw")).cache()
    total = uni.agg(F.sum("cw").alias("n_tokens"))
    bigrams = toks.filter(F.size("tokens") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tokens") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tokens"), i).alias("w1"),
                    F.element_at(F.col("tokens"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bi = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= min_count)
    )
    scored = (
        bi.join(
            F.broadcast(
                uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("cb").cast("long").alias("pair_count"),
            # cb is cast to DOUBLE before the multiply so the product
            # is computed in floating point on BOTH engines: at the
            # 100 TB scale this docstring targets (n_tokens ~1e13,
            # cb up to ~1e10) a long*long product would silently wrap
            # in Spark while DuckDB promotes to HUGEINT — the cast
            # keeps the two engines (and the PMI ordering) in lockstep
            # at any scale.  Same cast in PMI_TOP_PAIRS_ORACLE_SQL.
            F.round(
                F.log2(
                    F.col("cb").cast("double")
                    * F.col("n_tokens")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


# DuckDB twin for pmi_top_pairs — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
PMI_TOP_PAIRS_ORACLE_SQL = f"""
WITH tok AS (
    SELECT list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), uni AS (
    SELECT w, COUNT(*) AS cw FROM (
        SELECT UNNEST(tokens) AS w FROM tok
    ) GROUP BY w
), total AS (
    SELECT SUM(cw) AS n_tokens FROM uni
), bi AS (
    SELECT tokens[i] AS w1, tokens[i + 1] AS w2, COUNT(*) AS cb
    FROM tok, UNNEST(range(1, len(tokens))) t(i)
    WHERE len(tokens) >= 2
    GROUP BY 1, 2
    HAVING COUNT(*) >= {PMI_MIN_COUNT}
)
SELECT w1, w2, CAST(cb AS BIGINT) AS pair_count,
       ROUND(log2(CAST(cb AS DOUBLE) * n_tokens / (c1.cw * c2.cw)), 6) AS pmi
FROM bi
JOIN uni c1 ON c1.w = w1
JOIN uni c2 ON c2.w = w2
CROSS JOIN total
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


NB_ALPHA = 1.0
NB_TARGET_LANG = "en"


def nb_quality_score(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = NB_ALPHA,
    target_lang: str = NB_TARGET_LANG,
) -> DataFrame:
    """X4 — learned quality classifier, closed-form multinomial Naive
    Bayes: the "train a cheap text classifier to recognize the trusted
    distribution, then score the raw corpus with it" step of modern
    curation pipelines (the fastText-classifier selection baseline of
    DCLM/FineWeb-style curation).  The trusted slice here is the
    corpus's `en` documents (at production scale: Wikipedia/books/
    benchmark text, shipped as labels exactly like this); training is
    the closed-form count ratio, so the whole train+infer cycle is two
    aggregation levels and one vocab-keyed equi-join — no gradient
    loop, no Python.  (The heuristic quality gate is NOT usable as the
    seed label on this corpus — it keeps 100% of documents at every
    SF, a one-class degenerate; the lang label actually splits.)

    Model: per-token weight = ln p(w|target) - ln p(w|rest) with add-α
    smoothing over the corpus vocabulary V (occurrence counts, the
    multinomial event model); per-doc logit = class-prior ratio
    ln((n_pos+α)/(n_neg+α)) + Σ_w tf_{d,w}·weight_w.  Output carries
    the seed label next to the classifier's verdict, so the result IS
    the confusion readout; nb_keep is derived from the ROUNDED logit
    (6 dp) in both engines, so an ulp of ln() can never flip the
    decision boundary between Spark and the oracle.  (On the driver's
    synthetic corpus all langs draw from ONE shared vocabulary, so the
    classes are non-separable by construction and logits sit near the
    prior — the honest readout; real separation is demonstrated on a
    constructed two-distribution corpus in tests/test_text_extras.py.)

    Scale shape: one corpus explode collapsed immediately into the
    cached per-(doc, token) tf histogram; token/class counts and the
    vocab scalar derive from tf (map-side combinable, bounded by |V|
    at the second level); scoring is tf ⋈ weights on the token key —
    a vocab-bounded build side (broadcastable while the model fits,
    shuffle equi-join with AQE beyond that — the same knob as
    vocab_coverage's guarded join mode).  Docs with zero tokens keep
    the prior-only logit via the left join."""
    docs = _documents(spark, sf_dir)
    labeled = docs.select(
        "doc_id",
        _tokens(F.col("text")).alias("tokens"),
        (F.col("lang") == target_lang).alias("keep"),
    )
    tok = labeled.select("doc_id", "keep", F.explode("tokens").alias("w"))
    # keep is functionally dependent on doc_id — grouping on it too
    # costs nothing and lets every class-conditional count derive from
    # this one cached histogram instead of re-running the explode
    tf = (
        tok.groupBy("doc_id", "keep", "w")
        .agg(F.count("*").alias("tf"))
        .cache()
    )
    tok_counts = tf.groupBy("w").agg(
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("tf"))), F.lit(0)
        ).alias("cpos"),
        F.coalesce(
            F.sum(F.when(~F.col("keep"), F.col("tf"))), F.lit(0)
        ).alias("cneg"),
    )
    totals = tok_counts.agg(
        F.sum("cpos").alias("tpos"),
        F.sum("cneg").alias("tneg"),
        F.count("*").alias("v"),
    )
    # narrow per-doc head (id, token count, label) cached once: the
    # prior aggregate AND the final projection read it, instead of
    # each re-scanning the corpus (3 documents scans -> 2, pinned in
    # tests/test_plans.py — the round-8 cache-the-bounded-frame
    # discipline; ~17 bytes/doc, spillable)
    head = labeled.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        "keep",
    ).cache()
    priors = head.agg(
        F.count(F.when(F.col("keep"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_neg"),
    )
    weights = tok_counts.crossJoin(F.broadcast(totals)).select(
        "w",
        (
            F.log(
                (F.col("cpos") + F.lit(alpha))
                / (F.col("tpos") + F.lit(alpha) * F.col("v"))
            )
            - F.log(
                (F.col("cneg") + F.lit(alpha))
                / (F.col("tneg") + F.lit(alpha) * F.col("v"))
            )
        ).alias("weight"),
    )
    term_sums = (
        tf.join(weights, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("token_llr"))
    )
    prior = F.log(
        (F.col("n_pos") + F.lit(alpha)) / (F.col("n_neg") + F.lit(alpha))
    )
    logit = F.round(
        prior + F.coalesce(F.col("token_llr"), F.lit(0.0)), 6
    )
    return (
        head.join(term_sums, "doc_id", "left")
        .crossJoin(F.broadcast(priors))
        .withColumn("nb_logit", logit)
        .select(
            "doc_id",
            "n_tokens",
            F.col("keep").alias("target_label"),
            "nb_logit",
            (F.col("nb_logit") > 0).alias("nb_keep"),
        )
    )


def nb_weight_model(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = NB_ALPHA,
    target_lang: str = NB_TARGET_LANG,
) -> DataFrame:
    """The STATIC side of streaming NB scoring: the trained classifier
    as a ONE-ROW artifact — map<token, weight> plus the prior — built
    offline with exactly nb_quality_score's closed-form counts, so the
    streaming scorer reproduces the batch logits (at 6 dp; the fold
    accumulates in token order, the batch sum in shuffle order — both
    engines round before any decision).  At 100 TB this is the model
    file every classifier deployment ships anyway: |V| map entries on
    one broadcast row, refreshed by a periodic training batch — the
    same artifact lifecycle as bm25_query_index and the IVF centroid
    index."""
    docs = _documents(spark, sf_dir)
    labeled = docs.select(
        "doc_id",
        _tokens(F.col("text")).alias("tokens"),
        (F.col("lang") == target_lang).alias("keep"),
    )
    tok = labeled.select("keep", F.explode("tokens").alias("w"))
    tok_counts = tok.groupBy("w").agg(
        F.count(F.when(F.col("keep"), 1)).alias("cpos"),
        F.count(F.when(~F.col("keep"), 1)).alias("cneg"),
    )
    totals = tok_counts.agg(
        F.sum("cpos").alias("tpos"),
        F.sum("cneg").alias("tneg"),
        F.count("*").alias("v"),
    )
    priors = labeled.agg(
        F.log(
            (F.count(F.when(F.col("keep"), 1)) + F.lit(alpha))
            / (F.count(F.when(~F.col("keep"), 1)) + F.lit(alpha))
        ).alias("prior")
    )
    weight = F.log(
        (F.col("cpos") + F.lit(alpha))
        / (F.col("tpos") + F.lit(alpha) * F.col("v"))
    ) - F.log(
        (F.col("cneg") + F.lit(alpha))
        / (F.col("tneg") + F.lit(alpha) * F.col("v"))
    )
    wmap = (
        tok_counts.crossJoin(F.broadcast(totals))
        .select("w", weight.alias("weight"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "weight"))
            ).alias("wmap")
        )
    )
    return wmap.crossJoin(F.broadcast(priors))


NB_QUALITY_ORACLE_SQL = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '') AS tokens,
           lang = '{NB_TARGET_LANG}' AS keep
    FROM documents
), tok AS (
    SELECT doc_id, keep, UNNEST(tokens) AS w FROM d
), tf AS (
    SELECT doc_id, keep, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3
), tc AS (
    SELECT w,
           COALESCE(SUM(CASE WHEN keep THEN tf END), 0) AS cpos,
           COALESCE(SUM(CASE WHEN NOT keep THEN tf END), 0) AS cneg
    FROM tf GROUP BY w
), tot AS (
    SELECT SUM(cpos) AS tpos, SUM(cneg) AS tneg, COUNT(*) AS v FROM tc
), pri AS (
    SELECT COUNT(CASE WHEN keep THEN 1 END) AS n_pos,
           COUNT(CASE WHEN NOT keep THEN 1 END) AS n_neg
    FROM d
), wt AS (
    SELECT w,
           LN((cpos + {NB_ALPHA}) / (tpos + {NB_ALPHA} * v))
           - LN((cneg + {NB_ALPHA}) / (tneg + {NB_ALPHA} * v)) AS weight
    FROM tc CROSS JOIN tot
), ts AS (
    SELECT tf.doc_id, SUM(tf.tf * wt.weight) AS token_llr
    FROM tf JOIN wt USING (w) GROUP BY tf.doc_id
)
SELECT d.doc_id, CAST(len(d.tokens) AS BIGINT) AS n_tokens,
       d.keep AS target_label,
       ROUND(LN((n_pos + {NB_ALPHA}) / (n_neg + {NB_ALPHA}))
             + COALESCE(ts.token_llr, 0.0), 6) AS nb_logit,
       ROUND(LN((n_pos + {NB_ALPHA}) / (n_neg + {NB_ALPHA}))
             + COALESCE(ts.token_llr, 0.0), 6) > 0 AS nb_keep
FROM d LEFT JOIN ts ON ts.doc_id = d.doc_id
CROSS JOIN pri
"""


SELECTION_BUDGETS = tuple(range(10, 101, 10))


def _budget_thresholds(scored: DataFrame, *extra_aggs) -> DataFrame:
    """The 10-row (budget_pct, logit_threshold) frame from ONE exact
    percentile aggregate over the scored corpus — shared by the graded
    batch curve and selection_budget_thresholds (the offline artifact
    the streaming budget counters broadcast).  ``extra_aggs``: further
    aggregate expressions computed in the SAME corpus pass and carried
    on every threshold row (the curve folds its positives total in
    here instead of paying a second aggregate job + broadcast —
    round-15 optimization)."""
    probs = ", ".join(
        f"{(100 - b) / 100.0!r}D" for b in SELECTION_BUDGETS
    )
    agged = scored.agg(
        F.expr(f"percentile(nb_logit, array({probs}))").alias("q"),
        *extra_aggs,
    )
    carry = [c for c in agged.columns if c != "q"]
    return (
        agged.select(F.posexplode("q").alias("pos", "thr"), *carry)
        .select(
            ((F.col("pos") + 1) * 10).cast("bigint").alias("budget_pct"),
            F.round("thr", 6).alias("logit_threshold"),
            *carry,
        )
    )


def selection_budget_thresholds(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = NB_ALPHA,
    target_lang: str = NB_TARGET_LANG,
) -> DataFrame:
    """The offline threshold artifact for the streaming budget
    counters: the same 10 exact-percentile logit cut-points the graded
    batch curve uses, built from a corpus snapshot — the model-file
    lifecycle of nb_weight_model / bm25_query_index (periodic batch
    refresh, broadcast to the stream)."""
    return _budget_thresholds(
        nb_quality_score(spark, sf_dir, alpha, target_lang)
    )


def selection_budget_curve(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = NB_ALPHA,
    target_lang: str = NB_TARGET_LANG,
) -> DataFrame:
    """X4 — the keep-budget operating curve for the learned quality
    classifier: at every 10% selection budget, the logit threshold you
    would set, what survives it (docs/tokens), and what it buys
    (capture of the trusted-label slice, precision of the kept set) —
    the threshold-sweep card every classifier-curation pipeline
    (DCLM/FineWeb-style) reads before committing to a keep rate.

    Scale shape: deliberately NOT an NTILE/global-sort over the corpus
    (ranking 100 TB of docs to take a prefix is the anti-pattern) —
    the 10 thresholds come from ONE exact `percentile` aggregate over
    the logits (the value_quantiles recipe: Spark `percentile` ==
    DuckDB `quantile_cont`, linear interpolation; swap in
    approx_percentile at 100 TB, same plan shape), and budget
    membership is a broadcast join of the corpus against the 10-row
    threshold frame plus one partial-aggregable rollup.  Every
    comparison runs on 6-dp-rounded values in both engines, so an ulp
    of interpolation can never flip a membership decision.

    Output: (budget_pct, logit_threshold, n_docs_kept, n_tokens_kept,
    pos_capture, keep_precision), one row per budget decile.  Ties at
    the threshold keep MORE than the nominal budget (>= semantics) —
    the honest tie-inflation a fixed-threshold deployment actually
    exhibits."""
    scored = nb_quality_score(spark, sf_dir, alpha, target_lang).cache()
    # the positives total rides the threshold frame (same corpus pass
    # as the percentile aggregate) instead of a second aggregate job +
    # broadcast; it is globally constant, so grouping on it is free
    # (round-15 optimization — the oracle already groups on np)
    th = _budget_thresholds(
        scored, F.count(F.when(F.col("target_label"), 1)).alias("np")
    )
    kept_pos = F.count(F.when(F.col("target_label"), 1))
    return (
        scored.join(
            F.broadcast(th),
            F.col("nb_logit") >= F.col("logit_threshold"),
        )
        .groupBy("budget_pct", "logit_threshold", "np")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
            kept_pos.alias("_kp"),
        )
        .select(
            "budget_pct",
            "logit_threshold",
            "n_docs_kept",
            "n_tokens_kept",
            F.round(
                F.col("_kp") / F.nullif(F.col("np"), F.lit(0)).cast("double"),
                6,
            ).alias("pos_capture"),
            F.round(F.col("_kp") / F.col("n_docs_kept").cast("double"), 6)
            .alias("keep_precision"),
        )
    )


_BUDGET_PROBS_SQL = ", ".join(
    f"{(100 - b) / 100.0!r}" for b in SELECTION_BUDGETS
)
SELECTION_BUDGET_CURVE_ORACLE_SQL = f"""
WITH nb AS ({NB_QUALITY_ORACLE_SQL}
), q AS (
    SELECT quantile_cont(nb_logit, [{_BUDGET_PROBS_SQL}]) AS qs FROM nb
), th AS (
    SELECT CAST(10 * (t.i + 1) AS BIGINT) AS budget_pct,
           ROUND(qs[CAST(t.i + 1 AS INT)], 6) AS logit_threshold
    FROM q, range(10) t(i)
), tot AS (
    SELECT COUNT(CASE WHEN target_label THEN 1 END) AS np FROM nb
)
SELECT th.budget_pct, th.logit_threshold,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(nb.n_tokens) AS BIGINT) AS n_tokens_kept,
       ROUND(COUNT(CASE WHEN nb.target_label THEN 1 END)
             / CAST(NULLIF(np, 0) AS DOUBLE), 6) AS pos_capture,
       ROUND(COUNT(CASE WHEN nb.target_label THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS keep_precision
FROM th JOIN nb ON nb.nb_logit >= th.logit_threshold
CROSS JOIN tot
GROUP BY th.budget_pct, th.logit_threshold, np
"""


def register() -> dict:
    from ..queries import QueryDef

    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    markers_sql = {
        lang: ", ".join(f"'{w}'" for w in words)
        for lang, words in LANG_MARKERS.items()
    }
    return {
        "token_counts": QueryDef(
            token_counts,
            """
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '')) AS token
                FROM documents
            )
            SELECT token, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM tok GROUP BY token
            """,
            "X4 corpus token histogram",
        ),
        "bpe_pair_counts": QueryDef(
            bpe_pair_counts,
            """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), x -> x <> '') AS toks
                FROM documents
            ), p AS (
                SELECT doc_id,
                       UNNEST(list_zip(toks[1:len(toks)-1],
                                       toks[2:len(toks)])) AS z
                FROM t
            )
            SELECT z[1] || ' ' || z[2] AS pair,
                   COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM p GROUP BY 1 HAVING COUNT(*) >= 2
            """,
            "X4 BPE merge-step: adjacent-pair frequency aggregation",
        ),
        "char_entropy": QueryDef(
            char_entropy,
            """
            WITH c AS (
                SELECT doc_id, UNNEST(string_split(text, '')) AS ch
                FROM documents WHERE len(text) > 0
            ), pc AS (
                SELECT doc_id, ch, COUNT(*) AS n
                FROM c GROUP BY doc_id, ch
            ), t AS (
                SELECT doc_id, SUM(n) AS n_chars,
                       SUM(n * log2(n)) AS sum_nlogn
                FROM pc GROUP BY doc_id
            )
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   ROUND(log2(n_chars) - sum_nlogn / n_chars, 6)
                       AS entropy_bits
            FROM t
            """,
            "X4 char-level Shannon entropy (perplexity-proxy quality)",
        ),
        "text_quality": QueryDef(
            text_quality,
            f"""
            WITH d AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> t <> '') AS ws_tokens,
                       regexp_extract_all(lower(text),
                           '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS bpe
                FROM documents
            )
            SELECT doc_id,
                   len(tokens) AS n_tokens,
                   len(ws_tokens) AS n_ws_tokens,
                   len(bpe) AS n_bpe_tokens,
                   ROUND(COALESCE(list_sum(list_transform(tokens, t -> length(t))), 0)
                         / GREATEST(len(tokens), 1), 4) AS avg_token_len,
                   ROUND((length(text) - length(regexp_replace(text,
                         '[.,;:!?]', '', 'g')))
                         / GREATEST(length(text), 1), 6) AS punct_ratio,
                   ROUND(len(list_filter(tokens, t -> t IN ({stop_list})))
                         / GREATEST(len(tokens), 1), 6) AS stopword_ratio,
                   (len(tokens) >= 5
                    AND ROUND(COALESCE(list_sum(list_transform(tokens, t -> length(t))), 0)
                        / GREATEST(len(tokens), 1), 4) BETWEEN 2 AND 15)
                       AS keep
            FROM d
            """,
            "X4 per-document quality features",
        ),
        "lang_id": QueryDef(
            lang_id,
            f"""
            WITH d AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), scored AS (
                SELECT doc_id, lang,
                       len(list_filter(tokens, t -> t IN ({markers_sql['en']})))
                           AS score_en,
                       len(list_filter(tokens, t -> t IN ({markers_sql['de']})))
                           AS score_de,
                       len(list_filter(tokens, t -> t IN ({markers_sql['es']})))
                           AS score_es,
                       len(list_filter(tokens, t -> t IN ({markers_sql['fr']})))
                           AS score_fr
                FROM d
            )
            SELECT doc_id, lang AS labeled_lang,
                   score_en, score_de, score_es, score_fr,
                   CASE
                     WHEN GREATEST(score_en, score_de, score_es, score_fr) = 0
                       THEN 'und'
                     WHEN score_en = GREATEST(score_en, score_de, score_es,
                                              score_fr) THEN 'en'
                     WHEN score_de = GREATEST(score_en, score_de, score_es,
                                              score_fr) THEN 'de'
                     WHEN score_es = GREATEST(score_en, score_de, score_es,
                                              score_fr) THEN 'es'
                     ELSE 'fr'
                   END AS pred_lang
            FROM scored
            """,
            "X4 marker-stopword language ID",
        ),
        "doc_fingerprints": QueryDef(
            doc_fingerprints,
            """
            SELECT doc_id,
                   list_min([md5(substr(text, i, 8))
                             FOR i IN range(1, GREATEST(length(text) - 7, 1) + 1, 4)])
                       AS fingerprint,
                   length(text) AS n_chars_raw
            FROM documents
            """,
            "X4 rolling min-hash document fingerprint (stride-4 sampling)",
        ),
        "tfidf_top_terms": QueryDef(
            tfidf_top_terms,
            """
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '')) AS token
                FROM documents
            ), tf AS (
                SELECT doc_id, token, COUNT(*) AS tf
                FROM tok GROUP BY doc_id, token
            ), df AS (
                SELECT token, COUNT(*) AS df
                FROM tf GROUP BY token
            ), n AS (SELECT COUNT(*) AS n_total FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.token, tf.tf, df.df,
                       ROUND(tf.tf * ln(n.n_total / df.df), 6) AS tfidf
                FROM tf JOIN df USING (token) CROSS JOIN n
            )
            SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS BIGINT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, token) AS rnk
                FROM scored
            )
            WHERE rnk <= 3
            """,
            "X4 tf-idf characteristic terms per document",
        ),
        "corpus_keep_list": QueryDef(
            corpus_keep_list,
            """
            WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens,
                       MIN(doc_id) OVER (PARTITION BY
                           sha256(TRIM(regexp_replace(lower(text), '\\s+',
                                       ' ', 'g')))) AS canon
                FROM documents
            ), q AS (
                SELECT doc_id,
                       (len(tokens) >= 5
                        AND ROUND(COALESCE(list_sum(list_transform(tokens,
                                t -> length(t))), 0)
                            / GREATEST(len(tokens), 1), 4) BETWEEN 2 AND 15)
                           AS keep_quality,
                       (doc_id = canon) AS is_canonical
                FROM d
            )
            SELECT doc_id, keep_quality, is_canonical,
                   (keep_quality AND is_canonical) AS keep
            FROM q
            """,
            "X2/X4 end-product: training-corpus keep/drop decision",
        ),
        "repetition_metrics": QueryDef(
            repetition_metrics,
            """
            WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM documents
            ), tok AS (
                SELECT doc_id, UNNEST(tokens) AS t FROM d
            ), tc AS (
                SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
            ), tagg AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                       COUNT(*) AS n_distinct, MAX(c) AS top_token
                FROM tc GROUP BY doc_id
            ), bi AS (
                SELECT doc_id,
                       UNNEST([tokens[i] || ' ' || tokens[i+1]
                               FOR i IN range(1, GREATEST(len(tokens) - 1, 0) + 1)])
                           AS b
                FROM d
            ), bc AS (
                SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2
            ), bagg AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                       MAX(c) AS top_bigram
                FROM bc GROUP BY doc_id
            ), m AS (
                SELECT d.doc_id,
                       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
                       ROUND((COALESCE(n_tokens, 0) - COALESCE(n_distinct, 0))
                             / GREATEST(COALESCE(n_tokens, 0), 1), 6)
                           AS dup_token_frac,
                       ROUND(COALESCE(top_token, 0)
                             / GREATEST(COALESCE(n_tokens, 0), 1), 6)
                           AS top_token_frac,
                       ROUND(COALESCE(top_bigram, 0)
                             / GREATEST(COALESCE(n_bigrams, 0), 1), 6)
                           AS top_bigram_frac
                FROM d
                LEFT JOIN tagg USING (doc_id)
                LEFT JOIN bagg USING (doc_id)
            )
            SELECT doc_id, n_tokens, dup_token_frac, top_token_frac,
                   top_bigram_frac,
                   (dup_token_frac <= 0.9 AND top_token_frac <= 0.2
                    AND top_bigram_frac <= 0.18) AS keep_repetition
            FROM m
            """,
            "X4 Gopher-style repetition filters (dup/top token+bigram fracs)",
        ),
        "pii_scrub": QueryDef(
            pii_scrub,
            """
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '"""
            + PII_PATTERNS["email"]
            + """', '<EMAIL>', 'g'),
                       '"""
            + PII_PATTERNS["phone"]
            + """', '<PHONE>', 'g'),
                       '"""
            + PII_PATTERNS["ipv4"]
            + """', '<IPV4>', 'g') AS scrubbed_text,
                   CAST(len(regexp_extract_all(text, '"""
            + PII_PATTERNS["email"]
            + """')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '"""
            + PII_PATTERNS["phone"]
            + """')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '"""
            + PII_PATTERNS["ipv4"]
            + """')) AS BIGINT) AS n_ipv4,
                   (len(regexp_extract_all(text, '"""
            + PII_PATTERNS["email"]
            + """'))
                    + len(regexp_extract_all(text, '"""
            + PII_PATTERNS["phone"]
            + """'))
                    + len(regexp_extract_all(text, '"""
            + PII_PATTERNS["ipv4"]
            + """')) > 0) AS had_pii
            FROM documents
            """,
            "X4 PII redaction pass (email/phone/IPv4 -> typed placeholders)",
        ),
        "lang_source_rollup": QueryDef(
            lang_source_rollup,
            """
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   ROUND(AVG(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang, source
            """,
            "X4 corpus composition rollup",
        ),
        "corpus_curation": QueryDef(
            corpus_curation,
            f"""
            WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens,
                       MIN(doc_id) OVER (PARTITION BY
                           sha256(TRIM(regexp_replace(lower(text), '\\s+',
                                       ' ', 'g')))) AS canon
                FROM documents
            ), flags AS (
                SELECT doc_id,
                       (len(tokens) >= 5
                        AND ROUND(COALESCE(list_sum(list_transform(tokens,
                                t -> length(t))), 0)
                            / GREATEST(len(tokens), 1), 4) BETWEEN 2 AND 15)
                           AS keep_quality,
                       (len(list_filter(tokens, t -> t IN ({stop_list})))
                            > 0) AS lang_ok,
                       (doc_id = canon) AS is_canonical
                FROM d
            ), tok AS (
                SELECT doc_id, UNNEST(tokens) AS t FROM d
            ), tc AS (
                SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
            ), tagg AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                       COUNT(*) AS n_distinct, MAX(c) AS top_token
                FROM tc GROUP BY doc_id
            ), bi AS (
                SELECT doc_id,
                       UNNEST([tokens[i] || ' ' || tokens[i+1]
                               FOR i IN range(1, GREATEST(len(tokens) - 1, 0) + 1)])
                           AS b
                FROM d
            ), bc AS (
                SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2
            ), bagg AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                       MAX(c) AS top_bigram
                FROM bc GROUP BY doc_id
            ), rep AS (
                SELECT d.doc_id,
                       (ROUND((COALESCE(n_tokens, 0) - COALESCE(n_distinct, 0))
                              / GREATEST(COALESCE(n_tokens, 0), 1), 6) <= 0.9
                        AND ROUND(COALESCE(top_token, 0)
                              / GREATEST(COALESCE(n_tokens, 0), 1), 6) <= 0.2
                        AND ROUND(COALESCE(top_bigram, 0)
                              / GREATEST(COALESCE(n_bigrams, 0), 1), 6) <= 0.18)
                           AS keep_repetition
                FROM d
                LEFT JOIN tagg USING (doc_id)
                LEFT JOIN bagg USING (doc_id)
            )
            SELECT flags.doc_id, keep_quality, keep_repetition, lang_ok,
                   is_canonical,
                   (keep_quality AND keep_repetition AND lang_ok
                    AND is_canonical) AS keep
            FROM flags JOIN rep ON flags.doc_id = rep.doc_id
            """,
            "X2/X4 full curation gate: quality AND repetition AND lang "
            "AND dedup-canonical",
        ),
        # --- registered in round 7 (previously staged) ---
        "bigram_perplexity": QueryDef(
            bigram_perplexity,
            BIGRAM_PERPLEXITY_ORACLE_SQL,
            "X4 corpus-trained bigram-LM perplexity quality scoring",
        ),
        "cms_heavy_hitters": QueryDef(
            cms_heavy_hitters,
            CMS_HEAVY_HITTERS_ORACLE_SQL,
            "Count-Min sketch witness: bounded mergeable counters",
        ),
        "corpus_report": QueryDef(
            corpus_report,
            CORPUS_REPORT_ORACLE_SQL,
            "per-(lang, source) dataset card: volume/dup/keep/split",
        ),
        "vocab_coverage": QueryDef(
            vocab_coverage,
            VOCAB_COVERAGE_ORACLE_SQL,
            "X4 coverage-thresholded vocabulary + per-doc OOV rate",
        ),
        "bpe_learn": QueryDef(
            bpe_learn,
            BPE_LEARN_ORACLE_SQL,
            "X4 relational BPE trainer: 3 unrolled merge rounds",
        ),
        "bpe_tokenize_stats": QueryDef(
            bpe_tokenize_stats,
            BPE_TOKENIZE_STATS_ORACLE_SQL,
            "X4 BPE apply: per-doc token counts under learned merges",
        ),
        "winnow_fingerprints": QueryDef(
            winnow_fingerprints,
            WINNOW_FINGERPRINTS_ORACLE_SQL,
            "X4 robust winnowing (MOSS) fingerprint selection",
        ),
        "pmi_top_pairs": QueryDef(
            pmi_top_pairs,
            PMI_TOP_PAIRS_ORACLE_SQL,
            "X4 collocation mining: top-k PMI pairs, floor-counted",
        ),
        "winnow_probe_incoming": QueryDef(
            winnow_probe_incoming,
            WINNOW_PROBE_ORACLE_SQL,
            "X2 position-aware incremental overlap probe (winnowing)",
        ),
        # graded as the scalar long form — see feature_hash_embed_long
        "feature_hash_embed": QueryDef(
            feature_hash_embed_long,
            FEATURE_HASH_EMBED_LONG_ORACLE_SQL,
            "X4/X5 hashing-trick doc vectors (L2-normalized, md5 dims)",
        ),
        # --- registered mid-round-7 ---
        "bm25_top_docs": QueryDef(
            bm25_top_docs,
            BM25_TOP_DOCS_ORACLE_SQL,
            "X4 BM25 document ranking: length-normalized retrieval "
            "scoring for quality-targeted selection",
        ),
        # --- registered mid-round-8 ---
        "nb_quality_score": QueryDef(
            nb_quality_score,
            NB_QUALITY_ORACLE_SQL,
            "X4 learned quality classifier: closed-form Naive Bayes "
            "trained on trusted-slice seed labels",
        ),
        # --- registered mid-round-9 ---
        "selection_budget_curve": QueryDef(
            selection_budget_curve,
            SELECTION_BUDGET_CURVE_ORACLE_SQL,
            "X4 keep-budget operating curve: threshold / survivors / "
            "capture / precision at every 10% selection budget",
        ),
    }
