"""Parity + invariants for priority_sample (Duffield–Lund–Thorup
weighted sampling without replacement), and invariants of the DSIR,
DoReMi, mixture and split-decontamination selection paths.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from isaac_kafka_streaming_spark.extensions.sampling import (
    PRIORITY_SAMPLE_ORACLE_SQL,
    priority_sample,
)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def test_priority_sample_matches_oracle(spark, sf_smoke):
    got = _normalize(priority_sample(spark, sf_smoke).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    want = _normalize(con.execute(PRIORITY_SAMPLE_ORACLE_SQL).fetchdf())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(got) > 0
    for col in got.columns:
        g, w = got[col].dtype, want[col].dtype
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{col}: dtype {g} vs {w}"
        )
        assert list(got[col]) == list(want[col]), f"{col} differs"


def test_priority_sample_invariants(spark, sf_smoke):
    """Exact-k per stratum (or the whole stratum when smaller), the
    Horvitz–Thompson estimator never below the raw weight, and the
    sample reproducible across invocations."""
    df = priority_sample(spark, sf_smoke, k=5).toPandas()
    assert (df.prio_rank <= 5).all()
    assert (df.est_weight >= df.weight - 1e-9).all()
    per_lang = df.groupby("lang").size()
    assert (per_lang <= 5).all() and (per_lang >= 1).all()
    again = priority_sample(spark, sf_smoke, k=5).toPandas()
    assert sorted(df.doc_id) == sorted(again.doc_id)


def test_priority_sample_weight_sensitivity(spark, tmp_path_factory):
    """A document with overwhelming weight is always selected: priority
    q = w/u with u <= 1, so w = 10^9 outranks any unit-weight doc's
    maximum possible q = 2^24."""
    base = tmp_path_factory.mktemp("prio")
    rows = [(i, "x", "en", "s", 1) for i in range(50)] + [
        (999, "y", "en", "s", 10**9)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(base / "documents.parquet"))
    picked = priority_sample(spark, str(base), k=3).toPandas()
    assert 999 in set(picked.doc_id)
    assert picked.loc[picked.doc_id == 999, "prio_rank"].iloc[0] == 1


def test_priority_sample_horvitz_thompson_unbiased(spark, sf_smoke):
    """The DLT estimator's defining property, measured: averaging the
    per-stratum est_weight sums over 20 independent hash salts lands
    near the TRUE per-stratum weight total (est_weight = max(w, tau)
    is Horvitz-Thompson, so each sample's sum is an unbiased estimate
    of the population total).  Tolerance 20% >> the ~5% standard error
    of a 20-salt mean at k=20; a systematic estimator bug (e.g. using
    tau of the wrong stratum, or raw w instead of max(w, tau)) shifts
    the mean far beyond it."""
    import statistics

    import duckdb

    con = duckdb.connect()
    totals = dict(
        con.execute(
            "SELECT lang, SUM(n_chars) FROM "
            f"'{sf_smoke}/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    con.close()
    sums: dict[str, list[float]] = {lang: [] for lang in totals}
    for s in range(20):
        df = priority_sample(spark, sf_smoke, k=20, salt=f"ht{s}").toPandas()
        for lang, grp in df.groupby("lang"):
            sums[lang].append(float(grp.est_weight.sum()))
    for lang, true_total in totals.items():
        mean = statistics.mean(sums[lang])
        assert abs(mean - true_total) / true_total < 0.20, (
            lang, true_total, mean,
        )


def test_decontaminate_inline_split_matches_split_assignment(spark, sf_smoke):
    """The round-8 dejoin: the contamination checks compute the split
    label via the with_split projection instead of joining
    split_assignment back on doc_id — pin the two equal on every
    document so the expressions can never drift."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        split_assignment,
        with_split,
    )
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents")
    inline = {
        r.doc_id: r.split
        for r in with_split(docs).select("doc_id", "split").collect()
    }
    via_fn = {r.doc_id: r.split for r in split_assignment(docs).collect()}
    assert inline == via_fn


def test_dsir_python_replica_and_enrichment(spark, tmp_path_factory):
    """DSIR importance resampling vs an independent pure-python replica
    (a THIRD engine next to Spark and the DuckDB oracle) on a
    two-distribution hand corpus, plus the semantic invariant the
    method exists for: docs written in the target slice's vocabulary
    carry strictly higher log importance weights than docs written in
    the off-target vocabulary."""
    import hashlib
    import math

    from isaac_kafka_streaming_spark.extensions.sampling import (
        DSIR_ALPHA,
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        dsir_select,
    )

    # 4 en docs from vocab A, 4 de docs from vocab B, and two "raw"
    # fr docs — one written in vocab A (target-like), one in vocab B
    docs = [
        (0, "alpha beta alpha gamma", "en"),
        (1, "beta gamma alpha beta", "en"),
        (2, "gamma alpha beta alpha", "en"),
        (3, "alpha alpha beta gamma", "en"),
        (4, "xray yankee zulu xray", "de"),
        (5, "zulu xray yankee zulu", "de"),
        (6, "yankee zulu xray xray", "de"),
        (7, "xray zulu zulu yankee", "de"),
        (8, "alpha beta gamma alpha", "fr"),  # target-like raw doc
        (9, "zulu xray yankee zulu", "de" if False else "fr"),  # off-target raw doc
        (10, "", "fr"),  # zero features
    ]
    base = tmp_path_factory.mktemp("dsir")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(base / "documents.parquet"))

    k = len(docs)  # select everything: the full weight surface
    got = {
        r.doc_id: r
        for r in dsir_select(spark, str(base), k=k).collect()
    }
    assert len(got) == len(docs)

    # --- pure-python replica ---
    def tokens(t):
        import re

        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    def feats(t):
        ts = tokens(t)
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(f):
        return (
            int(hashlib.md5(f"ds:{f}".encode()).hexdigest()[:6], 16)
            % DSIR_BUCKETS
        )

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    per_doc: dict[int, dict[int, int]] = {}
    for doc_id, text, lang in docs:
        h: dict[int, int] = {}
        for f in feats(text):
            b = bucket(f)
            h[b] = h.get(b, 0) + 1
        per_doc[doc_id] = h
        for b, c in h.items():
            cr[b] = cr.get(b, 0) + c
            if lang == DSIR_TARGET_LANG:
                ct[b] = ct.get(b, 0) + c
    tt, tr = sum(ct.values()), sum(cr.values())
    a, B = DSIR_ALPHA, DSIR_BUCKETS

    def lr(b):
        return math.log((ct.get(b, 0) + a) / (tt + a * B)) - math.log(
            (cr[b] + a) / (tr + a * B)
        )

    for doc_id, text, lang in docs:
        logw = sum(c * lr(b) for b, c in per_doc[doc_id].items())
        u = (
            int(
                hashlib.md5(f"dg:{doc_id}".encode()).hexdigest()[:6], 16
            )
            + 1
        ) / float((1 << 24) + 1)
        g = -math.log(-math.log(u))
        assert got[doc_id].log_weight == round(logw, 6), doc_id
        assert got[doc_id].sel_key == round(logw + g, 6), doc_id
        assert got[doc_id].n_feats == len(feats(text)), doc_id

    # --- semantic invariant: the target-like raw doc outweighs the
    # off-target raw doc (absolute signs are NOT an invariant — with
    # B=256 the add-α smoothing dominates a hand-sized corpus and
    # shifts every weight down; only the ordering is the method's
    # promise); zero-feature doc sits at exactly 0 ---
    assert got[8].log_weight > got[9].log_weight
    assert got[10].n_feats == 0 and got[10].log_weight == 0.0


def test_dsir_selection_is_top_k_of_full_surface(spark, tmp_path_factory):
    """The k-selection must be exactly the k largest (sel_key, -doc_id)
    of the full candidate surface — i.e. Gumbel-top-k, not a
    partition-local approximation."""
    from isaac_kafka_streaming_spark.extensions.sampling import dsir_select

    docs = [
        (i, f"tok{i % 7} tok{(i * 3) % 7} tok{(i * 5) % 7}",
         ["en", "de", "fr"][i % 3])
        for i in range(60)
    ]
    base = tmp_path_factory.mktemp("dsir_topk")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(base / "documents.parquet"))
    full = dsir_select(spark, str(base), k=60).collect()
    want = {
        r.doc_id
        for r in sorted(full, key=lambda r: (-r.sel_key, r.doc_id))[:10]
    }
    got = {r.doc_id for r in dsir_select(spark, str(base), k=10).collect()}
    assert got == want


def test_dsir_all_target_corpus_weights_vanish(spark, tmp_path_factory):
    """When target == raw (every doc is in the target slice), the
    importance ratio is identically 1, so every log weight must be
    EXACTLY 0.0 and selection degenerates to the pure Gumbel draw —
    the algebraic null the smoothing must preserve (ct == cr and
    tt == tr cancel bucket by bucket)."""
    from isaac_kafka_streaming_spark.extensions.sampling import dsir_select

    docs = [
        (i, f"word{i} word{(i * 2) % 5} tail{i % 3}", "en")
        for i in range(20)
    ]
    base = tmp_path_factory.mktemp("dsir_null")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(base / "documents.parquet"))
    rows = dsir_select(spark, str(base), k=20).collect()
    assert len(rows) == 20
    assert all(r.log_weight == 0.0 for r in rows)


def test_doremi_reference_domain_excess_is_exactly_zero(
    spark, tmp_path_factory
):
    """When one domain IS the trusted slice (all its docs are `en` and
    no other domain has `en` text... here: a single domain holding the
    whole corpus, all en), the reference LM and the domain's own LM
    are the SAME smoothed counts — c_ref == c and N_ref == N_d — so
    H_ref == H_self term by term and the excess is EXACTLY 0.0, the
    target share 1.0, and the plan keeps the domain whole.  Pins that
    the smoothing terms cancel when they must (the DSIR all-target
    null, in entropy form)."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        doremi_mixture_plan,
    )

    docs = [
        (i, f"alpha beta w{i % 4} gamma", "en", "web")
        for i in range(12)
    ]
    base = tmp_path_factory.mktemp("doremi_null")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(base / "documents.parquet"))
    rows = doremi_mixture_plan(spark, str(base)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.h_ref, r.excess, r.nat_share, r.target_share) == (
        r.h_self,
        0.0,
        1.0,
        1.0,
    )
    assert (r.keep_frac, r.expected_tokens) == (1.0, float(r.n_tokens))


def test_doremi_upweights_the_divergent_domain(spark, tmp_path_factory):
    """Two domains: A's docs ARE the en reference slice (so its excess
    is exactly 0 — reference == own LM), B's vocabulary is disjoint
    from the reference (maximal divergence).  DoReMi must upweight B:
    excess_B > 0, B's target share strictly exceeds its natural
    share, A's strictly shrinks, shares still sum to 1, and the
    budget/keep semantics hold (binding domain kept whole, no
    keep_frac above 1)."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        doremi_mixture_plan,
    )

    docs = [
        (i, f"alpha beta gamma d{i % 3}", "en", "trusted")
        for i in range(8)
    ] + [
        (100 + i, f"xray yankee zulu q{i % 3}", "de", "wild")
        for i in range(8)
    ]
    base = tmp_path_factory.mktemp("doremi_dir")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(base / "documents.parquet"))
    got = {
        r.source: r for r in doremi_mixture_plan(spark, str(base)).collect()
    }
    a, b = got["trusted"], got["wild"]
    assert a.excess == 0.0 and a.h_ref == a.h_self
    assert b.excess > 0.0 and b.h_ref > b.h_self
    assert b.target_share > b.nat_share
    assert a.target_share < a.nat_share
    assert abs(a.target_share + b.target_share - 1.0) < 2e-6
    # equal-size domains, B upweighted -> A's keep shrinks, B binds
    assert b.keep_frac == 1.0 and a.keep_frac < 1.0
    assert a.expected_tokens <= a.n_tokens


def test_mixing_family_degenerates_to_natural_mixture(
    spark, tmp_path_factory
):
    """Cross-family law: both parameterized mixing methods collapse to
    the NATURAL mixture at their identity settings — temperature
    alpha=1 (p^1 is p) and DoReMi eta=0 (e^0 kills the excess term) —
    with every target share equal to the natural share at the rounding
    grain and every keep_frac 1.0 (uniform shares make every domain
    binding).  Pins that the two reweighting mechanisms are pure
    perturbations of the same base plan."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        doremi_mixture_plan,
        temperature_mixture_plan,
    )

    docs = [
        (i, f"tok{i % 7} tok{i % 3} common word{i % 5}",
         ["en", "de", "es"][i % 3], f"s{i % 4}")
        for i in range(24)
    ]
    base = tmp_path_factory.mktemp("mix_identity")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(base / "documents.parquet"))
    for rows in (
        temperature_mixture_plan(spark, str(base), alpha=1.0).collect(),
        doremi_mixture_plan(spark, str(base), eta=0.0).collect(),
    ):
        assert len(rows) > 1
        for r in rows:
            assert abs(r.target_share - r.nat_share) <= 2e-6, r
            assert r.keep_frac == 1.0, r
            assert r.expected_tokens == float(r.n_tokens), r
