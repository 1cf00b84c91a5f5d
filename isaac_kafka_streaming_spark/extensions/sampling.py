"""Reproducible corpus sampling — deterministic md5-bucket assignment.

A training pipeline needs sampling decisions that are (a) stable across
runs and engines, (b) keyed by document identity (not row order, not
partition layout), (c) cheap at 100 TB (pure map-side expressions, no
shuffle).  `rand(seed)` fails (a)/(b) — its stream depends on partition
layout — so buckets derive from md5(doc_id), which both Spark and DuckDB
compute identically: the whole decision is oracle-checkable.

Bucket = first 4 hex digits of md5(CAST(doc_id AS STRING)) mod 100,
a uniform-enough 0-99 label; a salt prefix decorrelates independent
sampling decisions from the split assignment.
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

# per-language downsampling rates (percent kept) for the stratified
# sample: the dominant language is halved, the rest kept whole — the
# mixture-reweighting shape of real corpus curation
LANG_KEEP_PCT: dict[str, int] = {"en": 50}
DEFAULT_KEEP_PCT = 100


def _bucket(key_col, salt: str = ""):
    """Deterministic 0-99 bucket from md5(salt || key)."""
    h = F.md5(F.concat(F.lit(salt), key_col.cast("string")))
    return (hex_long(h, 1, 4) % 100).alias("bucket")


def split_assignment(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, split) from doc_id alone — 5% test, 5% val, 90%
    train.  Keyed by document identity, so adding documents never
    reassigns existing ones; pure map-side projection usable on any
    table that has doc_id (contamination checks join THIS, not the
    full corpus_split output, so they don't require lang/source)."""
    split = (
        F.when(F.col("bucket") < 5, F.lit("test"))
        .when(F.col("bucket") < 10, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", _bucket(F.col("doc_id"))).withColumn(
        "split", split
    )


def with_split(docs: DataFrame) -> DataFrame:
    """All of ``docs``' columns plus the identity-keyed split label as
    a PURE PROJECTION — the round-8 replacement for the old
    `docs.join(split_assignment(docs), "doc_id")` composition, which
    was a corpus-wide self-join against a projection of the same table
    (an extra shuffle, and it doubled every downstream scan of the
    lineage).  Same md5 bucket expression as split_assignment;
    equality is pinned in tests/test_sampling_staged.py."""
    split = (
        F.when(F.col("bucket") < 5, F.lit("test"))
        .when(F.col("bucket") < 10, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select("*", _bucket(F.col("doc_id")))
        .withColumn("split", split)
        .drop("bucket")
    )


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment over the documents table (graded
    shape: identity + lang/source strata + bucket + split), still a
    single map-side projection — no join, and no shuffle beyond the
    round-13 scan spread (_documents inserts a doc_id hash exchange
    only when the scan is narrower than the cluster; none at real
    scale)."""
    docs = _documents(spark, sf_dir)
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(F.col("bucket") < 5, F.lit("test"))
        .when(F.col("bucket") < 10, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "lang", "source", b).withColumn(
        "split", split
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (mixture reweighting):
    keep md5-bucket < keep_pct(lang).  Salted differently from
    corpus_split so the two decisions are independent."""
    docs = _documents(spark, sf_dir)
    rate = F.lit(DEFAULT_KEEP_PCT)
    for lang, pct in LANG_KEEP_PCT.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", _bucket(F.col("doc_id"), "s"))
        .withColumn("keep_pct", rate.cast("long"))
        .filter(F.col("bucket") < F.col("keep_pct"))
    )


def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination check: held-out (val/test) documents whose
    normalized text also appears in train — the leak a dedup-then-split
    pipeline must prove absent.  Pairs each contaminated eval doc with
    the lowest-id train doc sharing its hash."""
    docs = _documents(spark, sf_dir)
    norm_hash = normalized_text_hash("text")
    hashed = with_split(docs).select(
        "doc_id", norm_hash.alias("text_hash"), "split"
    )
    train = hashed.filter(F.col("split") == "train").groupBy("text_hash").agg(
        F.min("doc_id").alias("train_doc_id")
    )
    held_out = hashed.filter(F.col("split") != "train")
    return held_out.join(train, "text_hash").select(
        F.col("doc_id").alias("eval_doc_id"),
        "split",
        "train_doc_id",
    )


def ngram_contamination(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Partial-overlap contamination: for every held-out document with
    >= n tokens, the fraction of its distinct n-token shingles that
    appear ANYWHERE in the train split — the graded metric behind
    "decontaminate eval sets by n-gram overlap" (exact-hash
    split_contamination only catches verbatim copies).

    Shape at 100 TB: one explode feeds both sides; the train side
    collapses to DISTINCT shingles (two-level, map-side combinable)
    before the equi-join, so a shingle's join width is its distinct-doc
    frequency, never its occurrence count.  ``max_shingle_df`` is the
    hot-boilerplate cap (default off = graded semantics): shingles
    whose distinct-doc frequency exceeds it are dropped from BOTH sides
    before the join — a boilerplate phrase shared by 10^6 docs stops
    counting as "contamination" and stops being a hot join key.  Same
    anti-join shape as ngram_jaccard_pairs' cap; bounded fan-out pinned
    in tests/test_dedup_guards.py."""
    docs = _documents(spark, sf_dir)
    from .dedup import _shingles
    from .text import _tokens

    sh = with_split(docs).select(
        "doc_id",
        "split",
        F.explode(_shingles(_tokens(F.col("text")), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        # distinct (shingle, doc_id) rows: their count per shingle is
        # count_distinct(doc_id), whatever the doc_id multiplicity
        hot = hot_keys(
            sh.select("shingle", "doc_id").distinct(),
            ["shingle"],
            max_shingle_df,
        )
        sh = sh.join(hot, "shingle", "left_anti")
    train_sh = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    held_out = sh.filter(F.col("split") != "train")
    hits = held_out.join(
        train_sh.withColumn("_hit", F.lit(1)), "shingle", "left"
    )
    return (
        hits.groupBy(F.col("doc_id").alias("eval_doc_id"), "split")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_leaked"),
        )
        .withColumn(
            "leak_frac",
            F.round(F.col("n_leaked") / F.col("n_shingles"), 6),
        )
    )


def decontaminate_exact(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    max_anchor_df: int | None = None,
) -> DataFrame:
    """Exact substring-level decontamination: held-out documents whose
    full normalized token sequence appears VERBATIM inside some train
    document.  Catches truncation/concatenation leaks that exact-hash
    split_contamination misses (hash equality needs the whole doc) and
    that ngram_contamination only scores approximately.

    Sorted-ngram-anchor containment, never all-pairs:

    1. both splits explode to distinct n-token shingles (train side also
       yields the per-shingle train document frequency);
    2. each held-out doc picks ONE anchor shingle — its globally RAREST
       (min train-df, shingle tie-break), since a containing train doc
       must contain *every* eval shingle, any single one is a sound
       join key and the rarest minimizes fan-out.  A rarest-df of 0
       proves non-containment and prunes the doc entirely;
    3. candidates = anchor equi-join against train shingles — per eval
       doc at most min-df candidate train docs, the data-dependent
       bound a boilerplate-heavy corpus cannot blow up;
    4. verify candidates exactly: space-delimited normalized text
       containment (token-aligned by construction), then roll up per
       eval doc.

    Held-out docs with < n tokens have no shingles and are not checked
    (same contract as ngram_contamination).  At 100 TB every stage is
    an equi-join or two-level agg on shingle/doc keys; the quadratic
    LIKE scan of the naive form never appears.
    """
    docs = _documents(spark, sf_dir)
    from .dedup import _shingles
    from .text import _tokens

    # round 8: split via the shared with_split projection (no
    # self-join; 10 documents scans -> 5 — see with_split's docstring)
    base = with_split(
        docs.select("doc_id", _tokens(F.col("text")).alias("tokens"))
        .withColumn(
            "norm_text",
            F.concat(
                F.lit(" "), F.concat_ws(" ", F.col("tokens")), F.lit(" ")
            ),
        )
    )
    sh = base.filter(F.size("tokens") >= n).select(
        "doc_id",
        "split",
        F.explode(_shingles(F.col("tokens"), n)).alias("shingle"),
    )
    train_sh = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    train_df = train_sh.groupBy("shingle").agg(F.count("*").alias("df"))
    anchors = (
        sh.filter(F.col("split") != "train")
        .join(train_df, "shingle", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .groupBy(F.col("doc_id").alias("eval_doc_id"), "split")
        .agg(F.min(F.struct("df", "shingle")).alias("a"))
        .filter(F.col("a.df") > 0)
    )
    if max_anchor_df is not None:
        # hot-anchor cap — see contained_documents: an eval doc whose
        # rarest train-shared shingle is still shared by > cap train
        # docs is boilerplate the hash tiers own; excised rather than
        # allowed a df-wide candidate probe.
        anchors = anchors.filter(F.col("a.df") <= max_anchor_df)
    anchors = anchors.select(
        "eval_doc_id", "split", F.col("a.shingle").alias("anchor")
    )
    cands = anchors.join(
        train_sh, anchors.anchor == train_sh.shingle
    ).select("eval_doc_id", "split", "train_doc_id")
    texts = base.select("doc_id", "norm_text")
    verified = (
        cands.join(
            texts.select(
                F.col("doc_id").alias("eval_doc_id"),
                F.col("norm_text").alias("e_norm"),
            ),
            "eval_doc_id",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("train_doc_id"),
                F.col("norm_text").alias("t_norm"),
            ),
            "train_doc_id",
        )
        .filter(F.col("t_norm").contains(F.col("e_norm")))
    )
    return verified.groupBy("eval_doc_id", "split").agg(
        F.count("*").alias("n_train_hits"),
        F.min("train_doc_id").alias("first_train_doc_id"),
        F.max((F.col("t_norm") == F.col("e_norm")).cast("int"))
        .cast("boolean")
        .alias("any_exact"),
    )


def temperature_mixture_plan(
    spark: SparkSession, sf_dir: str, alpha: float = 0.7
) -> DataFrame:
    """Temperature-resampled language mixture (the T5/multilingual
    alpha-sampling rule): target share_l ∝ p_l^alpha where p_l is the
    language's NATURAL token share — alpha < 1 upweights rare
    languages without hand-written targets (mixture_plan's explicit
    MIXTURE_TARGETS become the derived p^alpha shares).  Budget and
    keep_frac computation then follow mixture_plan exactly: feasible
    budget B = min_l(tokens_l / share_l) — with alpha < 1 the RAREST
    language binds (kept whole) and abundant ones downsample.

    Two tiny aggregations + a broadcast scalar, like mixture_plan;
    nothing scales with the corpus except the one token-count pass.
    Registered for driver grading in round 7 (round-6 window is
    saturated); TEMPERATURE_MIXTURE_ORACLE_SQL below is parity-tested.
    """
    from .text import _tokens

    docs = _documents(spark, sf_dir)
    per_lang = (
        docs.select("lang", F.size(_tokens(F.col("text"))).alias("n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )
    # scalar chain (totals -> wsum -> budget) as unpartitioned window
    # aggregates over the |langs|-row frame: ONE SinglePartition
    # exchange of <= |langs| rows and no sort, where the old
    # agg+crossJoin(broadcast) chain paid an aggregate job + broadcast
    # build per scalar and needed a .cache() to stop the corpus pass
    # re-executing per scalar (round-15 optimization; plans/r15/).
    # Identical values: same sums/min over the same rows, and the
    # window needs no ordering (plan_lint's sorted-single-partition
    # detector stays clean).
    w_all = Window.partitionBy()
    planned = (
        per_lang
        .withColumn("total_tokens", F.sum("n_tokens").over(w_all))
        .withColumn("nat_share", F.col("n_tokens") / F.col("total_tokens"))
        .withColumn("w", F.pow(F.col("nat_share"), F.lit(alpha)))
        .withColumn("wsum", F.sum("w").over(w_all))
        .withColumn("target_share", F.col("w") / F.col("wsum"))
    )
    return (
        planned
        .withColumn(
            "budget",
            F.min(F.col("n_tokens") / F.col("target_share")).over(w_all),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round("nat_share", 6).alias("nat_share"),
            F.round("target_share", 6).alias("target_share"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("target_share") * F.col("budget") / F.col("n_tokens"),
                ),
                6,
            ).alias("keep_frac"),
            F.round(F.col("target_share") * F.col("budget"), 2).alias(
                "expected_tokens"
            ),
        )
    )


# DuckDB twin for temperature_mixture_plan — parity-tested now
# (tests/test_text_extras.py), wired into register() in round 7.
TEMPERATURE_MIXTURE_ORACLE_SQL = """
WITH per_lang AS (
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(regexp_split_to_array(
               lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY lang
), t AS (
    SELECT SUM(n_tokens) AS total_tokens FROM per_lang
), weighted AS (
    SELECT lang, n_docs, n_tokens,
           n_tokens / total_tokens AS nat_share,
           POW(n_tokens / total_tokens, 0.7) AS w
    FROM per_lang CROSS JOIN t
), ws AS (
    SELECT SUM(w) AS wsum FROM weighted
), planned AS (
    SELECT lang, n_docs, n_tokens, nat_share, w / wsum AS target_share
    FROM weighted CROSS JOIN ws
), b AS (
    SELECT MIN(n_tokens / target_share) AS budget FROM planned
)
SELECT lang, n_docs, n_tokens,
       ROUND(nat_share, 6) AS nat_share,
       ROUND(target_share, 6) AS target_share,
       ROUND(LEAST(CAST(1.0 AS DOUBLE),
                   target_share * budget / n_tokens), 6) AS keep_frac,
       ROUND(target_share * budget, 2) AS expected_tokens
FROM planned CROSS JOIN b
"""


def eval_anchor_index(eval_docs: DataFrame, n: int = 5) -> DataFrame:
    """Static side of streaming decontamination: one row per held-out
    document — (anchor, eval_doc_id, e_norm), where anchor is the doc's
    FIRST n-token shingle.  Any document containing the eval text
    token-aligned necessarily contains its first shingle, so an
    anchor equi-join has no false negatives and the containment filter
    removes the false positives; the emitted pair set is therefore
    independent of the anchor choice (first vs rarest — the batch tier
    uses rarest only to minimize candidate fan-out against a large
    train corpus; the eval side here is small and broadcast).  Docs
    with < n tokens have no shingles and are not checked (same
    contract as decontaminate_exact)."""
    from .dedup import _shingles
    from .text import _tokens

    base = eval_docs.select(
        F.col("doc_id").alias("eval_doc_id"),
        _tokens(F.col("text")).alias("tokens"),
    ).filter(F.size("tokens") >= n)
    return base.select(
        F.element_at(_shingles(F.col("tokens"), n), 1).alias("anchor"),
        "eval_doc_id",
        F.concat(
            F.lit(" "), F.concat_ws(" ", F.col("tokens")), F.lit(" ")
        ).alias("e_norm"),
    )


# target corpus mixture for mixture_plan: the share of the training
# token budget each language should contribute
MIXTURE_TARGETS: dict[str, float] = {
    "en": 0.5,
    "de": 0.2,
    "es": 0.2,
    "fr": 0.1,
}


def mixture_plan(
    spark: SparkSession,
    sf_dir: str,
    targets: dict[str, float] | None = None,
) -> DataFrame:
    """Data-mixing plan: per-language keep fractions that rebalance the
    corpus to a target token mixture WITHOUT upsampling.

    The feasible token budget is B = min_l(tokens_l / share_l) — the
    binding language is kept whole (keep_frac 1.0) and every other
    language is downsampled to share_l * B tokens.  Output is the plan
    a curation run feeds into deterministic bucket sampling
    (stratified_sample with keep_pct = round(100 * keep_frac)).

    Two tiny aggregations (per-lang token totals, then a global min),
    re-broadcast onto four rows — nothing here scales with corpus size
    except the one map-side token-count pass.

    Target shares must sum to 1.0 (+-1e-6): a plan whose shares don't
    cover the budget would silently under-promise.  A target language
    absent from the corpus still gets a row (n_docs/n_tokens 0,
    expected_tokens 0.0) so the shortfall vs its target_share is
    observable in the plan instead of vanishing; the feasible budget
    min only ranges over languages that actually have tokens.
    """
    targets = MIXTURE_TARGETS if targets is None else targets
    total_share = sum(targets.values())
    if abs(total_share - 1.0) > 1e-6:
        raise ValueError(
            f"mixture target shares must sum to 1.0, got {total_share:.6f} "
            f"for {sorted(targets)}"
        )
    from .text import _tokens

    docs = _documents(spark, sf_dir)
    per_lang = (
        docs.select(
            "lang", F.size(_tokens(F.col("text"))).cast("long").alias("n_tok")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    targets_df = spark.createDataFrame(
        sorted((lang, float(s)) for lang, s in targets.items()),
        "lang string, target_share double",
    )
    # right-anchored on the targets so absent languages surface as
    # zero-token rows; per_lang is an agg of <= |langs| rows, broadcast
    planned = targets_df.join(F.broadcast(per_lang), "lang", "left").select(
        "lang",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "target_share",
    )
    # feasible budget as an unpartitioned window min over the
    # |targets|-row frame (min-of-when ignores the null it yields on
    # zero-token rows — exactly the old filter+agg); one
    # SinglePartition exchange instead of an aggregate job + broadcast
    # (round-15 optimization)
    return (
        planned.withColumn(
            "budget",
            F.min(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("n_tokens") / F.col("target_share"),
                )
            ).over(Window.partitionBy()),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "target_share",
            F.when(F.col("n_tokens") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.least(
                        F.lit(1.0),
                        F.col("target_share")
                        * F.col("budget")
                        / F.col("n_tokens"),
                    ),
                    6,
                )
            )
            .alias("keep_frac"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("target_share") * F.col("budget"), 2))
            .alias("expected_tokens"),
        )
    )


def soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware importance sampling — the SOFT alternative to
    hard dedup: every document is kept with probability 1/n_copies of
    its normalized-text duplicate group, so each group contributes one
    surviving copy in expectation while preserving within-group
    diversity (hard dedup's min-doc_id canonical keeps the same copy
    every time).  The keep decision is the deterministic md5 bucket
    (salt 'sd') compared against 100/n_copies — layout-independent,
    reproducible, oracle-checkable.

    Shape at 100 TB: one shuffle on the normalized hash for the group
    count (window count, map-side partial via the two-level groupBy
    equivalent), then a pure map-side keep filter; no join against a
    canonical table and no second pass.
    """
    docs = (
        # measured spread opt-out: aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    norm_hash = normalized_text_hash("text")
    hashed = docs.select("doc_id", norm_hash.alias("text_hash"))
    n_copies = F.count("*").over(Window.partitionBy("text_hash"))
    return (
        hashed.withColumn("n_copies", n_copies.cast("long"))
        .withColumn("bucket", _bucket(F.col("doc_id"), "sd"))
        .filter(F.col("bucket") < 100.0 / F.col("n_copies"))
        .select(
            "doc_id",
            "n_copies",
            F.round(1.0 / F.col("n_copies"), 6).alias("weight"),
            "bucket",
        )
    )


def stratified_topk_sample(
    spark: SparkSession, sf_dir: str, k: int = 25
) -> DataFrame:
    """Exact-k per-stratum selection — eval-set construction.

    `stratified_sample` keeps a deterministic *fraction* per language;
    evaluation sets instead need an exact, reproducible k per stratum
    regardless of stratum size.  Selection order is md5('tk' ||
    doc_id) — identity-keyed, so a grown corpus only ever *displaces*
    members (never reshuffles survivors' relative order), and engines
    agree byte-for-byte.  One shuffle on the stratum key; the window
    rank is per-stratum (bounded by stratum size, no global sort).
    Ties are impossible (md5 of distinct ids), so row_number is stable.
    """
    docs = (
        # measured spread opt-out (round 13): aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    okey = F.md5(F.concat(F.lit("tk"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("sel_key", "doc_id")
    return (
        docs.select("doc_id", "lang", "source", okey.alias("sel_key"))
        .withColumn("sel_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sel_rank") <= k)
    )


def priority_u_int(salt: str) -> "F.Column":
    """The priority draw's integer u in [1, 2^24]: a 24-bit md5 slice of
    the salted doc identity, plus one.  Shared by priority_sample and
    its streaming reservoir (streaming.state.priority_sample_stream)."""
    return (
        hex_long(
            F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
            1,
            6,
        )
        + 1
    )


def priority_sample(
    spark: SparkSession, sf_dir: str, k: int = 20, salt: str = "ws"
) -> DataFrame:
    """Weighted sampling without replacement per stratum — priority
    sampling (Duffield–Lund–Thorup, JACM 2007): each document draws a
    uniform u from its identity hash, gets priority q = w/u (weight w =
    n_chars, so long documents are proportionally more likely to be
    kept), and each language keeps its k largest priorities.  The
    (k+1)-th priority is the stratum threshold tau, and est_weight =
    max(w, tau) is the Horvitz–Thompson estimator that makes any
    weighted sum over the sample unbiased for the population — the
    principled way to downsample a corpus by length/quality weight
    while keeping totals estimable.

    Engine-exact by construction: u is a 24-bit md5 slice (u_int in
    [1, 2^24]), and q = (w * 2^24) / u_int uses only an exact integer
    product (fits double far below 2^53) and one IEEE-754 division —
    both engines produce bit-identical doubles, unlike ln/pow-based
    A-ES keys whose libm implementations differ in ulps and could flip
    a rank.  Selection ties are impossible (distinct md5 slices; doc_id
    tie-break regardless).

    Shape at 100 TB: one shuffle on the stratum key; the rank window is
    per-stratum.  A stratum with <= k members keeps everything with
    est_weight = w (tau is NULL -> 0).  PRIORITY_SAMPLE_ORACLE_SQL below
    is its DuckDB twin (parity-tested in tests/test_sampling_staged.py)."""
    docs = (
        # measured spread opt-out: aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    q = (F.col("n_chars") * F.lit(float(1 << 24))) / F.col("u_int")
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("q").desc(), F.col("doc_id")
    )
    w_str = Window.partitionBy("lang")
    ranked = (
        docs.select(
            "doc_id", "lang", "n_chars", priority_u_int(salt).alias("u_int")
        )
        .withColumn("q", q)
        .withColumn("prio_rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("prio_rank") <= k + 1)
        .withColumn(
            "tau",
            F.max(
                F.when(F.col("prio_rank") == k + 1, F.col("q"))
            ).over(w_str),
        )
    )
    return ranked.filter(F.col("prio_rank") <= k).select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("weight"),
        "prio_rank",
        F.round("q", 4).alias("priority"),
        F.round(
            F.greatest(F.col("n_chars").cast("double"), F.coalesce("tau", F.lit(0.0))),
            4,
        ).alias("est_weight"),
    )


# DuckDB twin for priority_sample — parity-tested in
# tests/test_sampling_staged.py.
PRIORITY_SAMPLE_ORACLE_SQL = """
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           CAST('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 6)
                AS BIGINT) + 1 AS u_int
    FROM documents
), prio AS (
    SELECT doc_id, lang, n_chars, u_int,
           (n_chars * 16777216.0) / u_int AS q
    FROM keyed
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY q DESC, doc_id) AS prio_rank
    FROM prio
), windowed AS (
    SELECT *, MAX(CASE WHEN prio_rank = 21 THEN q END)
                  OVER (PARTITION BY lang) AS tau
    FROM ranked WHERE prio_rank <= 21
)
SELECT doc_id, lang, n_chars AS weight, prio_rank,
       ROUND(q, 4) AS priority,
       ROUND(GREATEST(CAST(n_chars AS DOUBLE), COALESCE(tau, 0.0)), 4)
           AS est_weight
FROM windowed WHERE prio_rank <= 20
"""


def epoch_shuffle(
    spark: SparkSession, sf_dir: str, epoch: int = 3, n_shards: int = 8
) -> DataFrame:
    """Deterministic per-epoch training order — the data-loader shuffle,
    computed engine-side.

    A trainer needs a different, reproducible permutation of the corpus
    every epoch.  Materializing `ORDER BY rand(epoch)` is (a) a global
    sort and (b) partition-layout-dependent; instead each doc gets a
    pseudo-random order key md5(epoch ':' doc_id) — stable across
    engines and layouts — a shard from the key's top byte, and a
    position from a PER-SHARD sort.  Shards are the unit a loader
    reads sequentially, so no global order is ever imposed: at 100 TB
    this is `repartitionByRange(shard)` + sortWithinPartitions into
    n_shards files, each an independent bounded sort, exactly the
    write_range_partitioned layout.  Epoch changes re-key everything;
    doc identity (not row order) drives the permutation, so resuming a
    crashed epoch re-reads identical shards.
    """
    docs = (
        # measured spread opt-out: aggregate-light;
        # the exchange costs more than the single-split scan
        read_table(spark, sf_dir, "documents")
    )
    okey = F.md5(F.concat_ws(":", F.lit(epoch), F.col("doc_id")))
    shard = (hex_long("order_key", 1, 2) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        docs.select("doc_id", okey.alias("order_key"))
        .withColumn("shard", shard)
        .select(
            "doc_id",
            F.lit(epoch).cast("int").alias("epoch"),
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "order_key",
        )
    )


DSIR_BUCKETS = 256
DSIR_K = 100
DSIR_ALPHA = 1.0
DSIR_TARGET_LANG = "en"


def dsir_feats(text_col) -> "F.Column":
    """DSIR's hashed-feature inputs as a per-row array: unigrams plus
    adjacent bigrams ("w1 w2").  Shared by the batch selector and the
    streaming ingest scorer so the feature definition cannot drift.
    The slice length is clamped at 0 so a zero-token doc yields an
    empty array (the knn_srp empty-sequence discipline — an unguarded
    sequence(1, size-1) would go descending)."""
    from .text import _tokens

    tokens = _tokens(text_col)
    n_bi = F.greatest(F.size(tokens) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(tokens, 1, n_bi),
        F.slice(tokens, 2, n_bi),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(tokens, bigrams)


def dsir_bucket_expr(feat_col, n_buckets=DSIR_BUCKETS) -> "F.Column":
    """Engine-neutral feature -> bucket assignment: 24-bit md5 slice
    mod B (salt 'ds:'), identical in the DuckDB oracle and the
    python replica test.  ``n_buckets`` may be an int or a Column —
    the streaming scorer passes the model row's own n_buckets so a
    non-default model can never silently disagree with the fold."""
    return hex_long(F.md5(F.concat(F.lit("ds:"), feat_col)), 1, 6) % n_buckets


def dsir_gumbel(doc_id_col) -> "F.Column":
    """The resampling noise: g = -ln(-ln(u)) with u an engine-exact
    24-bit md5 slice of the doc identity (salt 'dg:'), mapped into
    (0, 1)."""
    u_int = hex_long(
        F.md5(F.concat(F.lit("dg:"), doc_id_col.cast("string"))), 1, 6
    )
    u = (u_int + 1) / F.lit(float((1 << 24) + 1))
    return -F.log(-F.log(u))


def dsir_select(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    k: int = DSIR_K,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): select the k raw documents whose hashed-n-gram distribution
    best matches a trusted target distribution — the
    distribution-matching alternative to the classifier-based
    selection of text.nb_quality_score (the two methods DCLM-style
    curation benchmarks against each other, on the same target slice).

    Features are unigrams + adjacent bigrams hashed into `n_buckets`
    md5 buckets (the hashing IS the method's dimensionality bound —
    collisions are part of the estimator, not a defect).  The target
    distribution is estimated from the corpus's `en` slice, the raw
    distribution from the whole corpus; both add-α smoothed over the
    B-bucket feature space.  Per doc, the log importance weight is
    Σ_b tf_d(b)·(ln p_target(b) − ln p_raw(b)); resampling is
    Gumbel-top-k — sel_key = logw + g with g = −ln(−ln(u)) — which
    draws k docs without replacement with probability ∝ exp(logw).
    The uniform u derives from a 24-bit md5 slice of doc_id (the
    priority_sample discipline), so u is engine-exact; the two ln's
    on top are single-chain libm calls, and the ranking compares the
    6-dp-ROUNDED key with a doc_id tie-break so an ulp can never flip
    the cutoff (the bm25/pmi discipline).

    Scale shape: one corpus explode collapsed into the cached
    per-(doc, bucket) histogram; the bucket model is ≤ B rows (a
    broadcast); scoring joins the histogram to the model on the bucket
    key; selection is a global top-k (TakeOrdered — per-partition
    heads merged on the driver, no global sort).  Docs with zero
    features stay candidates at logw = 0 via the left join (pure
    Gumbel — i.e. uniform — among themselves)."""
    docs = _documents(spark, sf_dir)
    base = docs.select(
        "doc_id",
        "lang",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        dsir_feats(F.col("text")).alias("feats"),
    )
    tfb = (
        base.select(
            "doc_id", "is_target", F.explode("feats").alias("feat")
        )
        .select(
            "doc_id",
            "is_target",
            dsir_bucket_expr(F.col("feat"), n_buckets).alias("bucket"),
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").alias("c"))
        .cache()
    )
    bucket_counts = tfb.groupBy("bucket").agg(
        F.coalesce(
            F.sum(F.when(F.col("is_target"), F.col("c"))), F.lit(0)
        ).alias("ct"),
        F.sum("c").alias("cr"),
    )
    totals = bucket_counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lr = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("ct") + F.lit(alpha))
                / (F.col("tt") + F.lit(alpha) * F.lit(n_buckets))
            )
            - F.log(
                (F.col("cr") + F.lit(alpha))
                / (F.col("tr") + F.lit(alpha) * F.lit(n_buckets))
            )
        ).alias("lr"),
    )
    logw = (
        tfb.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lr")).alias("logw"))
    )
    cand = (
        base.select(
            "doc_id", "lang", F.size("feats").cast("long").alias("n_feats")
        )
        .join(logw, "doc_id", "left")
        .withColumn("logw", F.coalesce(F.col("logw"), F.lit(0.0)))
        .withColumn(
            "sel_key",
            F.round(F.col("logw") + dsir_gumbel(F.col("doc_id")), 6),
        )
    )
    return (
        cand.orderBy(F.col("sel_key").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "lang",
            "n_feats",
            F.round("logw", 6).alias("log_weight"),
            "sel_key",
        )
    )


def dsir_bucket_model(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """The STATIC side of streaming DSIR scoring: the bucket log-ratio
    model as a ONE-ROW artifact — map<bucket, lr> plus lr_default, the
    smoothed log-ratio of a bucket never seen in the training corpus
    (ln(α/(tt+αB)) − ln(α/(tr+αB)); the batch selector never needs it
    because every corpus doc's buckets are in the raw counts by
    construction, but an ARRIVING doc can hash into a fresh bucket).
    Built offline with exactly dsir_select's count chain, so the
    streaming scorer reproduces the batch log weights (at 6 dp).  The
    row also carries n_buckets itself: the scorer's fold buckets with
    the MODEL's modulus, so a non-default build cannot silently
    diverge from the batch surface.  At 100 TB this is ≤B map entries
    on one broadcast row, refreshed by a periodic batch job — the
    same artifact lifecycle as nb_weight_model and bm25_query_index."""
    docs = _documents(spark, sf_dir)
    base = docs.select(
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        dsir_feats(F.col("text")).alias("feats"),
    )
    # .cache(): the totals scalar, the lrmap roll-up and the
    # lr_default broadcast all branch off this frame — uncached, the
    # corpus feature explode re-executes per branch (the dsir_select
    # tfb discipline).  The cached frame is <=B rows.
    bc = (
        base.select("is_target", F.explode("feats").alias("feat"))
        .select(
            "is_target",
            dsir_bucket_expr(F.col("feat"), n_buckets).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.count(F.when(F.col("is_target"), 1)), F.lit(0)
            ).alias("ct"),
            F.count("*").alias("cr"),
        )
        .cache()
    )
    totals = bc.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lr = F.log(
        (F.col("ct") + F.lit(alpha))
        / (F.col("tt") + F.lit(alpha) * F.lit(n_buckets))
    ) - F.log(
        (F.col("cr") + F.lit(alpha))
        / (F.col("tr") + F.lit(alpha) * F.lit(n_buckets))
    )
    lr_default = F.log(
        F.lit(alpha) / (F.col("tt") + F.lit(alpha) * F.lit(n_buckets))
    ) - F.log(
        F.lit(alpha) / (F.col("tr") + F.lit(alpha) * F.lit(n_buckets))
    )
    lrmap = (
        bc.crossJoin(F.broadcast(totals))
        .select("bucket", lr.alias("lr"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "lr"))
            ).alias("lrmap")
        )
    )
    return lrmap.crossJoin(
        F.broadcast(totals.select(lr_default.alias("lr_default")))
    ).withColumn("n_buckets", F.lit(n_buckets))


DSIR_SELECT_ORACLE_SQL = f"""
WITH d AS (
    SELECT doc_id, lang,
           list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '') AS tokens
    FROM documents
), f AS (
    SELECT doc_id, lang, lang = '{DSIR_TARGET_LANG}' AS is_target,
           list_concat(tokens,
               list_transform(list_zip(tokens[1:len(tokens)-1],
                                       tokens[2:len(tokens)]),
                   z -> z[1] || ' ' || z[2])) AS feats
    FROM d
), e AS (
    SELECT doc_id, is_target, UNNEST(feats) AS feat FROM f
), tfb AS (
    SELECT doc_id, is_target,
           CAST('0x' || substr(md5('ds:' || feat), 1, 6) AS BIGINT)
               % {DSIR_BUCKETS} AS bucket,
           COUNT(*) AS c
    FROM e GROUP BY 1, 2, 3
), bc AS (
    SELECT bucket,
           COALESCE(SUM(CASE WHEN is_target THEN c END), 0) AS ct,
           SUM(c) AS cr
    FROM tfb GROUP BY bucket
), tot AS (
    SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM bc
), lr AS (
    SELECT bucket,
           LN((ct + {DSIR_ALPHA}) / (tt + {DSIR_ALPHA} * {DSIR_BUCKETS}))
           - LN((cr + {DSIR_ALPHA}) / (tr + {DSIR_ALPHA} * {DSIR_BUCKETS}))
               AS lr
    FROM bc CROSS JOIN tot
), lw AS (
    SELECT tfb.doc_id, SUM(tfb.c * lr.lr) AS logw
    FROM tfb JOIN lr USING (bucket) GROUP BY tfb.doc_id
), cand AS (
    SELECT f.doc_id, f.lang,
           CAST(len(f.feats) AS BIGINT) AS n_feats,
           COALESCE(lw.logw, 0.0) AS logw,
           ROUND(COALESCE(lw.logw, 0.0)
                 - LN(-LN((CAST('0x' || substr(md5('dg:' ||
                       CAST(f.doc_id AS VARCHAR)), 1, 6) AS BIGINT) + 1)
                     / {float((1 << 24) + 1)})), 6) AS sel_key
    FROM f LEFT JOIN lw ON lw.doc_id = f.doc_id
)
SELECT doc_id, lang, n_feats,
       ROUND(logw, 6) AS log_weight, sel_key
FROM cand
ORDER BY sel_key DESC, doc_id
LIMIT {DSIR_K}
"""


DOREMI_ETA = 1.0
DOREMI_ALPHA = 1.0
DOREMI_TARGET_LANG = "en"


def doremi_mixture_plan(
    spark: SparkSession,
    sf_dir: str,
    eta: float = DOREMI_ETA,
    alpha: float = DOREMI_ALPHA,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) — the third
    published mixing method, completing the family: mixture_plan is
    hand-written target shares, temperature_mixture derives shares
    from size alone, and this derives them from LOSS: domains whose
    text the trusted-slice reference model finds hard (high excess
    loss) get upweighted, the Group-DRO intuition collapsed to its
    closed one-step form so the whole computation is two corpus
    passes and oracle-checkable.

    Per `source` domain d, with add-α smoothed UNIGRAM LMs standing in
    for the paper's proxy/reference transformers (the cheap-model
    substitution every engine-side pipeline makes — same trusted-slice
    framing as nb_quality_score / dsir_select, reference = the `en`
    slice corpus-wide):

      H_ref(d)  = cross-entropy of domain text under the reference LM
                = ln(N_ref + αV) − (Σ_w c_dw·ln(c_ref,w + α)) / N_d
      H_self(d) = the domain's own-LM entropy — its achievable floor
                = ln(N_d + αV) − (Σ_w c_dw·ln(c_dw + α)) / N_d
      excess(d) = max(H_ref − H_self, 0)   (≈ KL(p_d ‖ p_ref))
      target_share ∝ nat_share · e^(η·excess)  — the one-step
      multiplicative-weights DRO update from the natural mixture.

    Budget and keep_frac then follow mixture_plan exactly
    (B = min_d tokens_d/share_d, no upsampling).

    Scale shape: ONE corpus-scale token explode collapsing into the
    cached (source, word) histogram (c + the trusted-slice count c_t
    in the same pass); the reference LM, vocab size V and both
    entropy sums all derive from that |domains|×|V|-bounded frame
    (the dw⋈ref join keys on word — vocab-bounded, never corpus
    rows); plus one column-pruned count-only pass for n_docs.  The
    scalar chain (totals → wsum → budget) is unpartitioned window
    aggregates over the |domains|-row frame (one SinglePartition
    exchange; the temperature_mixture recipe).  Entropies
    are normalized by N_d before the 6-dp round, so the cross-engine
    summation-order noise on the Σ c·ln(·) terms sits orders below
    the rounding grain (the char_entropy argument)."""
    from .text import _tokens

    docs = _documents(spark, sf_dir)
    # .cache(): the histogram is re-read by ref (word-level roll-up),
    # the dw⋈ref entropy aggregation, and the vocab/ref scalars —
    # uncached, each would re-run the corpus explode.
    dw = (
        docs.select(
            "source",
            "lang",
            F.explode(_tokens(F.col("text"))).alias("w"),
        )
        .groupBy("source", "w")
        .agg(
            F.count("*").alias("c"),
            F.count(
                F.when(F.col("lang") == DOREMI_TARGET_LANG, 1)
            ).alias("c_t"),
        )
        .cache()
    )
    ref = dw.groupBy("w").agg(F.sum("c_t").alias("c_ref"))
    scal = ref.agg(
        F.sum("c_ref").alias("n_ref"), F.count("*").alias("v")
    )
    ent = (
        dw.join(ref, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.log(F.col("c") + alpha)).alias("a_self"),
            F.sum(F.col("c") * F.log(F.col("c_ref") + alpha)).alias(
                "a_ref"
            ),
        )
    )
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    per_dom = (
        ent.join(F.broadcast(n_docs), "source")
        .crossJoin(F.broadcast(scal))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.log(F.col("n_ref") + F.lit(alpha) * F.col("v"))
                - F.col("a_ref") / F.col("n_tokens")
            ).alias("h_ref"),
            (
                F.log(F.col("n_tokens") + F.lit(alpha) * F.col("v"))
                - F.col("a_self") / F.col("n_tokens")
            ).alias("h_self"),
        )
        .withColumn(
            "excess",
            F.greatest(F.col("h_ref") - F.col("h_self"), F.lit(0.0)),
        )
    )
    # scalar chain (tot -> wsum -> budget) as unpartitioned window
    # aggregates over the |domains|-row frame — one SinglePartition
    # exchange, no sort, instead of an aggregate job + broadcast build
    # per scalar (and the .cache() that chain needed); identical
    # values (round-15 optimization, the temperature_mixture recipe)
    w_all = Window.partitionBy()
    planned = (
        per_dom
        .withColumn("total_tokens", F.sum("n_tokens").over(w_all))
        .withColumn("nat_share", F.col("n_tokens") / F.col("total_tokens"))
        .withColumn(
            "uw", F.col("nat_share") * F.exp(F.lit(eta) * F.col("excess"))
        )
        .withColumn("wsum", F.sum("uw").over(w_all))
        .withColumn("target_share", F.col("uw") / F.col("wsum"))
    )
    return (
        planned.withColumn(
            "budget",
            F.min(F.col("n_tokens") / F.col("target_share")).over(w_all),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("nat_share", 6).alias("nat_share"),
            F.round("h_ref", 6).alias("h_ref"),
            F.round("h_self", 6).alias("h_self"),
            F.round("excess", 6).alias("excess"),
            F.round("target_share", 6).alias("target_share"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("target_share")
                    * F.col("budget")
                    / F.col("n_tokens"),
                ),
                6,
            ).alias("keep_frac"),
            F.round(F.col("target_share") * F.col("budget"), 2).alias(
                "expected_tokens"
            ),
        )
    )


def doremi_ref_model(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = DOREMI_ALPHA,
) -> DataFrame:
    """The STATIC side of streaming domain-drift monitoring: the
    trusted-slice reference LM as a ONE-ROW artifact — map<word,
    ln(c_ref+α)> over words the reference slice actually contains,
    plus the entropy offset h0 = ln(N_ref + αV) and ln_alpha, the
    smoothed log-count an arriving doc's never-seen word contributes
    (words IN the corpus vocab but absent from the slice hit the same
    value via the map-miss default, so dropping c_ref == 0 entries
    keeps the map no bigger than the slice vocab without changing any
    score).  V is pinned at build time to the whole-corpus vocab,
    exactly doremi_mixture_plan's scalar, so the streaming monitor's
    h_ref converges to the batch plan's.  Same artifact lifecycle as
    nb_weight_model / dsir_bucket_model."""
    from .text import _tokens

    docs = _documents(spark, sf_dir)
    # .cache(): both the lnmap roll-up and the (n_ref, v) scalar
    # branch off this frame — uncached, the corpus token explode
    # re-executes per branch.  The cached frame is |vocab| rows.
    wc = (
        docs.select("lang", F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(
            F.count(
                F.when(F.col("lang") == DOREMI_TARGET_LANG, 1)
            ).alias("c_ref")
        )
        .cache()
    )
    scal = wc.agg(F.sum("c_ref").alias("n_ref"), F.count("*").alias("v"))
    lnmap = (
        wc.filter(F.col("c_ref") > 0)
        .select("w", F.log(F.col("c_ref") + F.lit(alpha)).alias("lnc"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "lnc"))
            ).alias("lnmap")
        )
    )
    return lnmap.crossJoin(
        F.broadcast(
            scal.select(
                F.log(
                    F.col("n_ref") + F.lit(alpha) * F.col("v")
                ).alias("h0"),
                F.log(F.lit(alpha)).alias("ln_alpha"),
            )
        )
    )


DOREMI_MIXTURE_ORACLE_SQL = f"""
WITH tok AS (
    SELECT source, lang,
           UNNEST(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), t -> t <> '')) AS w
    FROM documents
), dw AS (
    SELECT source, w, COUNT(*) AS c,
           COUNT(*) FILTER (WHERE lang = '{DOREMI_TARGET_LANG}') AS c_t
    FROM tok GROUP BY 1, 2
), ref AS (
    SELECT w, SUM(c_t) AS c_ref FROM dw GROUP BY 1
), scal AS (
    SELECT SUM(c_ref) AS n_ref, COUNT(*) AS v FROM ref
), ent AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           SUM(c * LN(c + {DOREMI_ALPHA})) AS a_self,
           SUM(c * LN(c_ref + {DOREMI_ALPHA})) AS a_ref
    FROM dw JOIN ref USING (w) GROUP BY 1
), nd AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
), per_dom AS (
    SELECT source, n_docs, n_tokens,
           LN(n_ref + {DOREMI_ALPHA} * v) - a_ref / n_tokens AS h_ref,
           LN(n_tokens + {DOREMI_ALPHA} * v) - a_self / n_tokens
               AS h_self,
           GREATEST(
               (LN(n_ref + {DOREMI_ALPHA} * v) - a_ref / n_tokens)
               - (LN(n_tokens + {DOREMI_ALPHA} * v) - a_self / n_tokens),
               0.0) AS excess
    FROM ent JOIN nd USING (source) CROSS JOIN scal
), t AS (
    SELECT SUM(n_tokens) AS total_tokens FROM per_dom
), weighted AS (
    SELECT *, n_tokens / total_tokens AS nat_share,
           (n_tokens / total_tokens) * EXP({DOREMI_ETA} * excess) AS uw
    FROM per_dom CROSS JOIN t
), ws AS (
    SELECT SUM(uw) AS wsum FROM weighted
), planned AS (
    SELECT *, uw / wsum AS target_share FROM weighted CROSS JOIN ws
), b AS (
    SELECT MIN(n_tokens / target_share) AS budget FROM planned
)
SELECT source, n_docs, n_tokens,
       ROUND(nat_share, 6) AS nat_share,
       ROUND(h_ref, 6) AS h_ref,
       ROUND(h_self, 6) AS h_self,
       ROUND(excess, 6) AS excess,
       ROUND(target_share, 6) AS target_share,
       ROUND(LEAST(CAST(1.0 AS DOUBLE),
                   target_share * budget / n_tokens), 6) AS keep_frac,
       ROUND(target_share * budget, 2) AS expected_tokens
FROM planned CROSS JOIN b
"""


def register() -> dict:
    from ..queries import QueryDef

    # DuckDB-side 4-hex-digit value (no conv() there): digit positions
    # in the hex alphabet
    def hx(i: int) -> str:
        return f"(position(substr(h, {i}, 1) IN '0123456789abcdef') - 1)"

    val4 = f"((({hx(1)} * 16 + {hx(2)}) * 16 + {hx(3)}) * 16 + {hx(4)})"
    val2 = f"({hx(1)} * 16 + {hx(2)})"

    return {
        "soft_dedup_sample": QueryDef(
            soft_dedup_sample,
            f"""
            WITH h AS (
                SELECT doc_id,
                       sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ',
                           'g'))) AS text_hash
                FROM documents
            ), c AS (
                SELECT doc_id,
                       COUNT(*) OVER (PARTITION BY text_hash) AS n_copies
                FROM h
            ), b AS (
                SELECT doc_id, n_copies,
                       md5('sd' || doc_id) AS h
                FROM c
            )
            SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
                   ROUND(1.0 / n_copies, 6) AS weight,
                   CAST({{val4}} % 100 AS BIGINT) AS bucket
            FROM b
            WHERE CAST({{val4}} % 100 AS BIGINT) < 100.0 / n_copies
            """.replace("{val4}", val4),
            "duplicate-aware importance sampling (soft dedup, 1/n keep)",
        ),
        "stratified_topk_sample": QueryDef(
            stratified_topk_sample,
            """
            WITH s AS (
                SELECT doc_id, lang, source,
                       md5('tk' || doc_id) AS sel_key
                FROM documents
            )
            SELECT doc_id, lang, source, sel_key,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY sel_key, doc_id
                   ) AS BIGINT) AS sel_rank
            FROM s
            QUALIFY sel_rank <= 25
            """,
            "exact-k per-stratum eval-set selection (md5 order)",
        ),
        "epoch_shuffle": QueryDef(
            epoch_shuffle,
            f"""
            WITH o AS (
                SELECT doc_id, md5('3:' || doc_id) AS h
                FROM documents
            ), s AS (
                SELECT doc_id, h AS order_key,
                       CAST({val2} % 8 AS INTEGER) AS shard
                FROM o
            )
            SELECT doc_id, CAST(3 AS INTEGER) AS epoch, shard,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY shard ORDER BY order_key, doc_id
                   ) AS BIGINT) AS pos,
                   order_key
            FROM s
            """,
            "deterministic per-epoch training order (per-shard sort)",
        ),
        "corpus_split": QueryDef(
            corpus_split,
            f"""
            WITH d AS (
                SELECT doc_id, lang, source,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), b AS (
                SELECT doc_id, lang, source,
                       CAST({val4} % 100 AS BIGINT) AS bucket
                FROM d
            )
            SELECT doc_id, lang, source, bucket,
                   CASE WHEN bucket < 5 THEN 'test'
                        WHEN bucket < 10 THEN 'val'
                        ELSE 'train' END AS split
            FROM b
            """,
            "reproducible train/val/test split (md5-bucketed)",
        ),
        "split_contamination": QueryDef(
            split_contamination,
            f"""
            WITH d AS (
                SELECT doc_id,
                       sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ',
                                   'g'))) AS text_hash,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), s AS (
                SELECT doc_id, text_hash,
                       CASE WHEN {val4} % 100 < 5 THEN 'test'
                            WHEN {val4} % 100 < 10 THEN 'val'
                            ELSE 'train' END AS split
                FROM d
            ), train AS (
                SELECT text_hash, MIN(doc_id) AS train_doc_id
                FROM s WHERE split = 'train' GROUP BY text_hash
            )
            SELECT s.doc_id AS eval_doc_id, s.split, train.train_doc_id
            FROM s JOIN train USING (text_hash)
            WHERE s.split <> 'train'
            """,
            "eval-set contamination check (held-out x train overlap)",
        ),
        "ngram_contamination": QueryDef(
            ngram_contamination,
            f"""
            WITH d AS (
                SELECT doc_id, text,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       CASE WHEN {val4} % 100 < 5 THEN 'test'
                            WHEN {val4} % 100 < 10 THEN 'val'
                            ELSE 'train' END AS split
                FROM d
            ), tok AS (
                SELECT doc_id, split,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM s
            ), sh AS (
                SELECT doc_id, split,
                       list_distinct(["""
            + " || ' ' || ".join(f"tokens[i+{j}]" for j in range(5))
            + """
                           FOR i IN range(1, GREATEST(len(tokens) - 4, 0) + 1)
                       ]) AS shingles
                FROM tok
            ), ex AS (
                SELECT doc_id, split, UNNEST(shingles) AS shingle FROM sh
            ), train AS (
                SELECT DISTINCT shingle FROM ex WHERE split = 'train'
            )
            SELECT ex.doc_id AS eval_doc_id, ex.split,
                   COUNT(*) AS n_shingles,
                   CAST(COALESCE(SUM(CASE WHEN train.shingle IS NOT NULL
                                          THEN 1 END), 0) AS BIGINT)
                       AS n_leaked,
                   ROUND(CAST(COALESCE(SUM(CASE WHEN train.shingle IS NOT
                                           NULL THEN 1 END), 0) AS BIGINT)
                         / COUNT(*), 6) AS leak_frac
            FROM ex LEFT JOIN train ON ex.shingle = train.shingle
            WHERE ex.split <> 'train'
            GROUP BY 1, 2
            """,
            "n-gram eval contamination (held-out shingles found in train)",
        ),
        "decontaminate_exact": QueryDef(
            decontaminate_exact,
            f"""
            WITH d AS (
                SELECT doc_id, text,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       CASE WHEN {val4} % 100 < 5 THEN 'test'
                            WHEN {val4} % 100 < 10 THEN 'val'
                            ELSE 'train' END AS split
                FROM d
            ), tok AS (
                SELECT doc_id, split,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens
                FROM s
            ), nrm AS (
                SELECT doc_id, split, tokens,
                       ' ' || array_to_string(tokens, ' ') || ' '
                           AS norm_text
                FROM tok
            ), sh AS (
                SELECT doc_id, split,
                       list_distinct(["""
            + " || ' ' || ".join(f"tokens[i+{j}]" for j in range(5))
            + """
                           FOR i IN range(1, GREATEST(len(tokens) - 4, 0) + 1)
                       ]) AS shingles
                FROM nrm WHERE len(tokens) >= 5
            ), ex AS (
                SELECT doc_id, split, UNNEST(shingles) AS shingle FROM sh
            ), train_sh AS (
                SELECT doc_id AS train_doc_id, shingle
                FROM ex WHERE split = 'train'
            ), tdf AS (
                SELECT shingle, COUNT(*) AS df FROM train_sh GROUP BY shingle
            ), ranked AS (
                SELECT ex.doc_id AS eval_doc_id, ex.split, ex.shingle,
                       COALESCE(tdf.df, 0) AS df,
                       ROW_NUMBER() OVER (
                           PARTITION BY ex.doc_id
                           ORDER BY COALESCE(tdf.df, 0), ex.shingle
                       ) AS rn
                FROM ex LEFT JOIN tdf USING (shingle)
                WHERE ex.split <> 'train'
            ), anch AS (
                SELECT eval_doc_id, split, shingle AS anchor
                FROM ranked WHERE rn = 1 AND df > 0
            ), cand AS (
                SELECT anch.eval_doc_id, anch.split, t.train_doc_id
                FROM anch JOIN train_sh t ON anch.anchor = t.shingle
            ), v AS (
                SELECT c.eval_doc_id, c.split, c.train_doc_id,
                       en.norm_text AS e_norm, tn.norm_text AS t_norm
                FROM cand c
                JOIN nrm en ON en.doc_id = c.eval_doc_id
                JOIN nrm tn ON tn.doc_id = c.train_doc_id
                WHERE position(en.norm_text IN tn.norm_text) > 0
            )
            SELECT eval_doc_id, split, COUNT(*) AS n_train_hits,
                   MIN(train_doc_id) AS first_train_doc_id,
                   CAST(MAX(CASE WHEN e_norm = t_norm THEN 1 ELSE 0 END)
                        AS BOOLEAN) AS any_exact
            FROM v GROUP BY 1, 2
            """,
            "exact substring decontamination (rarest-anchor containment)",
        ),
        "stratified_sample": QueryDef(
            stratified_sample,
            f"""
            WITH d AS (
                SELECT doc_id, lang, source,
                       md5('s' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), b AS (
                SELECT doc_id, lang, source,
                       CAST({val4} % 100 AS BIGINT) AS bucket,
                       CAST(CASE WHEN lang = 'en' THEN 50 ELSE 100 END
                            AS BIGINT) AS keep_pct
                FROM d
            )
            SELECT doc_id, lang, source, bucket, keep_pct
            FROM b WHERE bucket < keep_pct
            """,
            "per-language deterministic downsampling (mixture reweighting)",
        ),
        "mixture_plan": QueryDef(
            mixture_plan,
            f"""
            WITH per_lang AS (
                SELECT lang, COUNT(*) AS n_docs,
                       CAST(SUM(len(list_filter(regexp_split_to_array(
                           lower(text), '[^a-z0-9]+'), t -> t <> '')))
                           AS BIGINT) AS n_tokens
                FROM documents GROUP BY lang
            ), planned AS (
                SELECT lang, n_docs, n_tokens,
                       CAST(CASE lang {' '.join(
                           f"WHEN '{lang}' THEN {share}"
                           for lang, share in MIXTURE_TARGETS.items()
                       )} END AS DOUBLE) AS target_share
                FROM per_lang
                WHERE lang IN ({', '.join(
                    f"'{lang}'" for lang in MIXTURE_TARGETS
                )})
            ), b AS (
                SELECT MIN(n_tokens / target_share) AS budget FROM planned
            )
            SELECT lang, n_docs, n_tokens, target_share,
                   ROUND(LEAST(CAST(1.0 AS DOUBLE),
                               target_share * budget / n_tokens), 6)
                       AS keep_frac,
                   ROUND(target_share * budget, 2) AS expected_tokens
            FROM planned CROSS JOIN b
            """,
            "token-budget mixture rebalancing plan (no upsampling)",
        ),
        # --- registered in round 7 (previously staged) ---
        "priority_sample": QueryDef(
            priority_sample,
            PRIORITY_SAMPLE_ORACLE_SQL,
            "DLT weighted sampling without replacement, engine-exact",
        ),
        "temperature_mixture": QueryDef(
            temperature_mixture_plan,
            TEMPERATURE_MIXTURE_ORACLE_SQL,
            "temperature-reweighted source mixture plan",
        ),
        # --- registered mid-round-8 ---
        "dsir_select": QueryDef(
            dsir_select,
            DSIR_SELECT_ORACLE_SQL,
            "DSIR importance resampling: hashed-n-gram distribution "
            "matching against the trusted slice, Gumbel-top-k draw",
        ),
        "doremi_mixture": QueryDef(
            doremi_mixture_plan,
            DOREMI_MIXTURE_ORACLE_SQL,
            "DoReMi one-step excess-loss domain reweighting over "
            "source domains vs the trusted-slice reference LM",
        ),
    }
