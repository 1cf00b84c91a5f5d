"""Round-2 text-pipeline additions: repetition filters + PII scrub.

The driver corpus is clean prose-soup (no PII, mild repetition), so the
graded oracle rows prove the null path; these tests plant the
pathologies the operators exist for and pin exact values.
"""

from __future__ import annotations

import pytest

from isaac_kafka_streaming_spark.extensions.text import pii_scrub, repetition_metrics


@pytest.fixture(scope="module")
def patho_dir(spark, tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("patho")
    rows = [
        (0, "a a a a a"),                      # one token repeated
        (1, "one two three four five"),        # all distinct
        (2, "x y x y x y"),                    # repeated bigram
        (3, "!!! ???"),                        # zero tokens
        (4, "solo"),                           # one token, no bigrams
        (5, "mail me at ada@example.com or call +1 (555) 123-4567 "
            "from 10.0.0.1 thanks"),           # every PII kind
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    return str(base)


def test_repetition_metrics_values(spark, patho_dir):
    rows = {r.doc_id: r for r in repetition_metrics(spark, patho_dir).collect()}
    assert len(rows) == 6  # zero-token docs keep a row (left join)

    r0 = rows[0]  # "a a a a a"
    assert (r0.n_tokens, r0.dup_token_frac, r0.top_token_frac) == (5, 0.8, 1.0)
    assert r0.top_bigram_frac == 1.0 and not r0.keep_repetition

    r1 = rows[1]  # all distinct
    assert (r1.dup_token_frac, r1.top_token_frac, r1.top_bigram_frac) == (
        0.0, 0.2, 0.25,
    )

    r2 = rows[2]  # "x y x y x y": top bigram "x y" 3 of 5
    assert (r2.n_tokens, r2.top_token_frac, r2.top_bigram_frac) == (6, 0.5, 0.6)
    assert r2.dup_token_frac == round(1 - 2 / 6, 6)
    assert not r2.keep_repetition

    r3 = rows[3]  # zero tokens: all-zero fractions, trivially keepable
    assert (r3.n_tokens, r3.dup_token_frac, r3.top_bigram_frac) == (0, 0.0, 0.0)
    assert r3.keep_repetition

    r4 = rows[4]  # single token: no bigram grain
    assert (r4.n_tokens, r4.top_bigram_frac) == (1, 0.0)


def test_pii_scrub_plants_and_nulls(spark, patho_dir):
    rows = {r.doc_id: r for r in pii_scrub(spark, patho_dir).collect()}

    hot = rows[5]
    assert (hot.n_email, hot.n_phone, hot.n_ipv4, hot.had_pii) == (1, 1, 1, True)
    assert "<EMAIL>" in hot.scrubbed_text
    assert "<PHONE>" in hot.scrubbed_text
    assert "<IPV4>" in hot.scrubbed_text
    assert "ada@example.com" not in hot.scrubbed_text
    assert "555" not in hot.scrubbed_text
    assert "10.0.0.1" not in hot.scrubbed_text

    clean = rows[1]
    assert (clean.n_email, clean.n_phone, clean.n_ipv4) == (0, 0, 0)
    assert clean.scrubbed_text == "one two three four five"
    assert not clean.had_pii


def test_duplicate_passages_planted(spark, tmp_path_factory):
    """Two docs sharing an exact 8-token run are caught; n_docs counts
    documents (not occurrences — doc 0 repeats the run twice)."""
    from isaac_kafka_streaming_spark.extensions.dedup import duplicate_passages

    run = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, f"{run} filler one two {run}"),
        (1, f"prefix words here {run} suffix"),
        (2, "totally unrelated text with no repeats at all whatsoever"),
    ]
    base = tmp_path_factory.mktemp("dup_passages")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.passage: r for r in duplicate_passages(spark, str(base)).collect()
    }
    assert run in got
    assert got[run].n_docs == 2 and got[run].first_doc_id == 0
    # no passage from the unrelated doc appears
    assert all("unrelated" not in p for p in got)


def test_ngram_contamination_planted(spark, tmp_path_factory):
    """A held-out doc that verbatim-copies a train doc must show
    leak_frac 1.0; a held-out doc with fresh text shows 0.0."""
    import hashlib

    from isaac_kafka_streaming_spark.extensions.sampling import (
        ngram_contamination,
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:4], 16) % 100

    train_ids = [i for i in range(1000) if bucket(i) >= 10]
    eval_ids = [i for i in range(1000) if bucket(i) < 10]
    leaked_text = "one two three four five six seven eight nine ten"
    fresh_text = "cold warm hot cool mild crisp damp dry wet humid"
    rows = [
        (train_ids[0], leaked_text),
        (eval_ids[0], leaked_text),   # verbatim leak
        (eval_ids[1], fresh_text),    # no overlap with train
    ]
    base = tmp_path_factory.mktemp("ngram_contam")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.eval_doc_id: r
        for r in ngram_contamination(spark, str(base)).collect()
    }
    assert set(got) == {eval_ids[0], eval_ids[1]}
    assert got[eval_ids[0]].leak_frac == 1.0
    assert got[eval_ids[1]].leak_frac == 0.0


def test_mixture_plan_invariants(spark, sf_smoke):
    """The mixing plan must be feasible (keep_frac <= 1, no
    upsampling), exact on the binding language (keep_frac == 1), and
    hit the target proportions for every language's expected tokens."""
    from isaac_kafka_streaming_spark.extensions.sampling import (
        MIXTURE_TARGETS,
        mixture_plan,
    )

    rows = {r.lang: r for r in mixture_plan(spark, sf_smoke).collect()}
    assert set(rows) == set(MIXTURE_TARGETS)
    assert all(0 < r.keep_frac <= 1 for r in rows.values())
    assert any(abs(r.keep_frac - 1.0) < 1e-6 for r in rows.values()), (
        "no binding language — budget not maximal"
    )
    budget = sum(r.expected_tokens for r in rows.values())
    for lang, r in rows.items():
        # expected tokens realize the target share of the total budget
        assert abs(r.expected_tokens / budget - MIXTURE_TARGETS[lang]) < 1e-4
        # never plans more tokens than the language has
        assert r.expected_tokens <= r.n_tokens + 0.51


def test_mixture_plan_validates_share_sum(spark, sf_smoke):
    """Shares that don't sum to 1.0 are a plan bug, not a silent
    under-promise: the call must fail fast."""
    import pytest

    from isaac_kafka_streaming_spark.extensions.sampling import mixture_plan

    with pytest.raises(ValueError, match="sum to 1.0"):
        mixture_plan(spark, sf_smoke, targets={"en": 0.5, "de": 0.2})


def test_mixture_plan_surfaces_missing_language(spark, sf_smoke):
    """A target language absent from the corpus still gets a plan row
    (zero tokens, zero expected) so the shortfall vs target_share is
    observable, and the feasible budget is computed over the present
    languages only (not collapsed to zero by the absent one)."""
    from isaac_kafka_streaming_spark.extensions.sampling import mixture_plan

    targets = {"en": 0.5, "de": 0.2, "xx": 0.3}  # xx not in the corpus
    rows = {r.lang: r for r in mixture_plan(spark, sf_smoke, targets).collect()}
    assert set(rows) == set(targets)
    xx = rows["xx"]
    assert (xx.n_docs, xx.n_tokens, xx.expected_tokens) == (0, 0, 0.0)
    # present languages still get a real, non-zero plan
    assert rows["en"].expected_tokens > 0
    assert any(abs(r.keep_frac - 1.0) < 1e-6 for r in rows.values())


def test_soft_dedup_sample_keeps_one_per_group(spark, tmp_path_factory):
    """Duplicate-aware sampling: singletons always survive; a
    duplicate group of n keeps exactly the members whose deterministic
    md5 bucket < 100/n (recomputed independently here), i.e. ~1 in
    expectation — and whitespace/case variants count as the same
    group (normalized hashing)."""
    import hashlib

    from isaac_kafka_streaming_spark.extensions.sampling import (
        soft_dedup_sample,
    )

    base = tmp_path_factory.mktemp("softdedup")
    dup_ids = list(range(100, 120))  # 20 copies of one text
    rows = [(i, f"unique document number {i} with its own words")
            for i in range(10)]
    rows += [(i, "THE  repeated   Boilerplate\ttext") for i in dup_ids]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {r.doc_id: r for r in soft_dedup_sample(spark, str(base)).collect()}
    # singletons: all present, weight 1
    for i in range(10):
        assert got[i].n_copies == 1 and got[i].weight == 1.0
    # the dup group: survivors are exactly the bucket < 100/20 members
    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"sd{doc_id}".encode()).hexdigest()
        return int(h[:4], 16) % 100
    expect = {i for i in dup_ids if bucket(i) < 100 / 20}
    assert {i for i in got if i >= 100} == expect
    for i in expect:
        assert got[i].n_copies == 20 and got[i].weight == 0.05


def test_bpe_pairs_short_doc_edges(spark, tmp_path_factory):
    """Docs with 0/1 tokens contribute no pairs (the slice guard), and
    pair counts are occurrence counts, not doc counts."""
    from isaac_kafka_streaming_spark.extensions.text import bpe_pair_counts

    base = tmp_path_factory.mktemp("bpe")
    rows = [
        (0, ""),  # no tokens
        (1, "solo"),  # one token -> no pairs
        (2, "a b a b a"),  # pairs: 'a b' x2, 'b a' x2
        (3, "a b c"),  # 'a b', 'b c'
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.pair: (r.n_occurrences, r.n_docs)
        for r in bpe_pair_counts(spark, str(base), min_count=1).collect()
    }
    assert got == {"a b": (3, 2), "b a": (2, 1), "b c": (1, 1)}


def test_epoch_shuffle_permutes_across_epochs(spark, sf_smoke):
    """Different epochs give different orders over the same docs; the
    same epoch is bit-stable across invocations; shard positions are
    dense 1..n per shard."""
    from collections import Counter

    from isaac_kafka_streaming_spark.extensions.sampling import epoch_shuffle

    e3a = {(r.doc_id, r.shard, r.pos) for r in epoch_shuffle(spark, sf_smoke, epoch=3).collect()}
    e3b = {(r.doc_id, r.shard, r.pos) for r in epoch_shuffle(spark, sf_smoke, epoch=3).collect()}
    e4 = {(r.doc_id, r.shard, r.pos) for r in epoch_shuffle(spark, sf_smoke, epoch=4).collect()}
    assert e3a == e3b  # reproducible
    assert {d for d, _, _ in e3a} == {d for d, _, _ in e4}  # same corpus
    assert e3a != e4  # genuinely re-keyed
    per_shard = Counter(s for _, s, _ in e3a)
    pos_by_shard = {}
    for _, s, p in e3a:
        pos_by_shard.setdefault(s, set()).add(p)
    for s, n in per_shard.items():
        assert pos_by_shard[s] == set(range(1, n + 1)), f"shard {s} not dense"


def test_char_entropy_orders_degenerate_docs(spark, tmp_path_factory):
    """Entropy must separate degenerate from diverse text: a
    single-character doc scores 0, repeated spam scores low, prose
    scores higher; uniform-alphabet text hits exactly log2(k)."""
    from isaac_kafka_streaming_spark.extensions.text import char_entropy

    base = tmp_path_factory.mktemp("ent")
    rows = [
        (0, "aaaaaaaaaaaaaaaa"),                      # H = 0
        (1, "abababababababab"),                      # H = 1 (two chars)
        (2, "abcdabcdabcdabcd"),                      # H = 2 (four chars)
        (3, "The quick brown fox jumps over the lazy dog."),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {r.doc_id: r.entropy_bits for r in char_entropy(spark, str(base)).collect()}
    assert got[0] == 0.0
    assert got[1] == 1.0
    assert got[2] == 2.0
    assert got[3] > 3.5  # natural prose
    assert got[0] < got[1] < got[2] < got[3]


def test_char_entropy_unicode_parity(spark, tmp_path_factory):
    """Pin Spark's Java-regex split('(?!^)') against DuckDB
    string_split(text, '') on supplementary-plane (surrogate-pair) and
    combining-mark text: both engines must count the same 'characters'
    (code points — a combining acute stays its own char), or regenerated
    testdata with such text would silently hash-mismatch."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        char_entropy,
        register,
    )

    docs = [
        (0, "\U0001F600\U0001F600\U0001F389 abc"),  # astral emoji
        (1, "café résumé"),  # combining acute accents
        (2, "\U0001D518\U0001D52B\U0001D526\U0001D520"),  # math fraktur
        (3, "plain ascii text"),
    ]
    base = tmp_path_factory.mktemp("ent_uni")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_chars, r.entropy_bits)
        for r in char_entropy(spark, str(base)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(register()["char_entropy"].sql).fetchall()
    }
    # doc 0 has 7 code points (3 astral), doc 2 is 4 astral chars — NOT
    # 10/8 UTF-16 code units; combining marks count separately (doc 1)
    assert got[0][0] == 7 and got[1][0] == 14 and got[2][0] == 4
    assert got == want


def test_bigram_perplexity_values_and_oracle_parity(spark, tmp_path_factory):
    """Pin the smoothed-LM arithmetic on a hand-checkable corpus, the
    repetitive-low / rare-high ordering, and Spark↔DuckDB agreement on
    the staged round-7 oracle."""
    import math

    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BIGRAM_PERPLEXITY_ORACLE_SQL,
        bigram_perplexity,
    )

    docs = [
        (0, "a a a a a a a a"),              # one bigram repeated
        (1, "q w e r t y u i"),              # every bigram unique
        (2, "a a a a q w e r"),              # mixed
        (3, "solo"),                          # no bigrams -> excluded
    ]
    base = tmp_path_factory.mktemp("bigram_ppl")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {r.doc_id: r for r in bigram_perplexity(spark, str(base)).collect()}
    assert set(got) == {0, 1, 2}
    # repetitive doc scores far lower perplexity than all-unique doc
    assert got[0].perplexity < got[1].perplexity
    assert got[0].perplexity < got[2].perplexity < got[1].perplexity
    # hand check doc 0: C(a,a)=10 corpus-wide (7 + 3), C(a)=12, V=10
    # (a q w e r t y u i solo — "solo" counts even without bigrams),
    # p = (10+0.5)/(12+0.5*10) = 10.5/17 for each of its 7 bigrams
    h0 = -math.log2(10.5 / 17.0)
    assert got[0].n_bigrams == 7
    assert abs(got[0].cross_entropy_bits - round(h0, 6)) < 1e-6
    assert abs(got[0].perplexity - round(2.0**h0, 6)) < 1e-6

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(BIGRAM_PERPLEXITY_ORACLE_SQL).fetchall()
    }
    assert {
        d: (r.n_bigrams, r.cross_entropy_bits, r.perplexity)
        for d, r in got.items()
    } == want


def test_bigram_perplexity_oracle_parity_sf(spark, sf_smoke):
    """Full-corpus Spark↔DuckDB parity at the smoke SF (value-exact
    after rounding), so round-7 registration is pre-verified."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BIGRAM_PERPLEXITY_ORACLE_SQL,
        bigram_perplexity,
    )

    got = {
        r.doc_id: (r.n_bigrams, r.cross_entropy_bits, r.perplexity)
        for r in bigram_perplexity(spark, sf_smoke).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(BIGRAM_PERPLEXITY_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100


def test_temperature_mixture_invariants_and_parity(spark, sf_smoke):
    """alpha-sampling: shares sum to 1, the rarest language binds
    (keep_frac 1), abundant languages downsample below their natural
    share, and the staged round-7 oracle agrees value-exactly."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.sampling import (
        TEMPERATURE_MIXTURE_ORACLE_SQL,
        temperature_mixture_plan,
    )

    rows = {r.lang: r for r in temperature_mixture_plan(spark, sf_smoke).collect()}
    assert abs(sum(r.target_share for r in rows.values()) - 1.0) < 1e-4
    assert all(0 < r.keep_frac <= 1 for r in rows.values())
    rarest = min(rows.values(), key=lambda r: r.n_tokens)
    biggest = max(rows.values(), key=lambda r: r.n_tokens)
    assert abs(rarest.keep_frac - 1.0) < 1e-6      # rarest binds
    assert biggest.keep_frac < 1.0                  # abundant downsampled
    # alpha < 1 compresses shares toward uniform
    assert biggest.target_share < biggest.nat_share
    assert rarest.target_share > rarest.nat_share

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(TEMPERATURE_MIXTURE_ORACLE_SQL).fetchall()
    }
    got = {
        lang: (r.n_docs, r.n_tokens, r.nat_share, r.target_share,
               r.keep_frac, r.expected_tokens)
        for lang, r in rows.items()
    }
    assert got == want


def test_cms_heavy_hitters_oracle_and_bound(spark, sf_smoke):
    """Round-7-staged Count-Min witness: hash-exact vs the DuckDB
    replay, and the CMS guarantee holds — estimates never undercount
    (estimate == exact for tokens whose d counters are all
    collision-free)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        CMS_HEAVY_HITTERS_ORACLE_SQL,
        cms_heavy_hitters,
    )

    got = cms_heavy_hitters(spark, sf_smoke).toPandas()
    got = got[sorted(got.columns)].sort_values(
        by=list(sorted(got.columns)), ignore_index=True
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    want = con.execute(CMS_HEAVY_HITTERS_ORACLE_SQL).fetchdf()
    con.close()
    want = want[sorted(want.columns)].sort_values(
        by=list(sorted(want.columns)), ignore_index=True
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) == 20
    for col in got.columns:
        g, w = got[col].dtype, want[col].dtype
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{col}: dtype {g} vs {w}"
        )
        assert list(got[col]) == list(want[col]), f"{col} differs"
    assert (got.overestimate >= 0).all()
    assert (got.cms_est >= got.exact_cnt).all()


def test_corpus_report_oracle_and_consistency(spark, sf_smoke):
    """Round-7-staged dataset card: hash-exact vs the DuckDB replay,
    internally consistent (split counts sum to n_docs, uniques <=
    docs, kept <= uniques), and its totals agree with the operators it
    summarizes (corpus_split buckets, corpus_keep_list keeps)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.sampling import corpus_split
    from isaac_kafka_streaming_spark.extensions.text import (
        CORPUS_REPORT_ORACLE_SQL,
        corpus_keep_list,
        corpus_report,
    )

    got = corpus_report(spark, sf_smoke).toPandas()
    srt = got[sorted(got.columns)].sort_values(
        by=list(sorted(got.columns)), ignore_index=True
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_smoke}/documents.parquet'"
    )
    want = con.execute(CORPUS_REPORT_ORACLE_SQL).fetchdf()
    con.close()
    want = want[sorted(want.columns)].sort_values(
        by=list(sorted(want.columns)), ignore_index=True
    )
    assert list(srt.columns) == list(want.columns)
    assert len(srt) == len(want) and len(srt) > 0
    for col in srt.columns:
        g, w = srt[col].dtype, want[col].dtype
        assert (g.kind, g.itemsize) == (w.kind, w.itemsize), (
            f"{col}: dtype {g} vs {w}"
        )
        assert list(srt[col]) == list(want[col]), f"{col} differs"

    assert (got.n_train + got.n_val + got.n_test == got.n_docs).all()
    assert (got.n_unique_texts <= got.n_docs).all()
    assert (got.n_kept <= got.n_unique_texts).all()
    # cross-operator agreement: split totals and keep totals
    split = corpus_split(spark, sf_smoke).toPandas()
    assert got.n_train.sum() == (split.split == "train").sum()
    assert got.n_test.sum() == (split.split == "test").sum()
    keeps = corpus_keep_list(spark, sf_smoke).toPandas()
    assert got.n_kept.sum() == int(keeps.keep.sum())


def test_vocab_coverage_oracle_parity_and_minimality(spark, sf_smoke):
    """Spark↔DuckDB parity at the smoke SF, plus the vocabulary
    minimality invariant: the frequency-ranked prefix reaches the
    coverage target, and the prefix one token shorter does not."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        VOCAB_COVERAGE_ORACLE_SQL,
        VOCAB_COVERAGE_SHARE,
        vocab_coverage,
    )

    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(spark, sf_smoke).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(VOCAB_COVERAGE_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100
    assert any(v[1] > 0 for v in got.values()), "no OOV anywhere"

    # minimality: vocab prefix covers >= share; one-shorter does not
    ranked = con.execute(
        """
        WITH tok AS (
            SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS w
            FROM documents
        ), c AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w)
        SELECT cw FROM c ORDER BY cw DESC, w
        """
    ).fetchall()
    counts = [r[0] for r in ranked]
    total = sum(counts)
    # reproduce the rule: token in vocab iff cum_before < share * total
    vocab_len = 0
    cum = 0
    for cw in counts:
        if cum < VOCAB_COVERAGE_SHARE * total:
            vocab_len += 1
        cum += cw
    assert sum(counts[:vocab_len]) >= VOCAB_COVERAGE_SHARE * total
    assert sum(counts[: vocab_len - 1]) < VOCAB_COVERAGE_SHARE * total

    # the 100 TB join mode (plain shuffled equi-join — no broadcast of
    # a potentially O(millions)-string vocab) is row-identical to the
    # graded broadcast mode
    shuffled = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(
            spark, sf_smoke, vocab_join="shuffle"
        ).collect()
    }
    assert shuffled == got


def test_bpe_learn_greedy_semantics(spark, tmp_path_factory):
    """Pin the trainer on a hand-computed corpus: merge selection by
    (count, a, b) and the classic greedy left-to-right rewrite (after
    a merge the scanner moves past the merged symbol — 'aaa' under
    (a,a) becomes 'aa a', and the new 'aa' merges only in the NEXT
    round), in both engines."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BPE_LEARN_ORACLE_SQL,
        bpe_learn,
    )

    docs = [(0, "aaa aaa bab")]
    base = tmp_path_factory.mktemp("bpe_learn")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.word: (r.freq, r.symbols, r.n_symbols, r.merge1, r.merge2, r.merge3)
        for r in bpe_learn(spark, str(base)).collect()
    }
    # round 1: (a,a) cnt 4 wins; 'a a a' -> 'aa a' (greedy, no rescan)
    # round 2: (aa,a) cnt 2 wins; 'aa a' -> 'aaa'
    # round 3: only 'b a b' has pairs; (b,a) ties (a,b) at 1 and wins
    #          on the (cnt, a, b) rule; 'b a b' -> 'ba b'
    assert got == {
        "aaa": (2, "aaa", 1, "a+a", "aa+a", "b+a"),
        "bab": (1, "ba b", 2, "a+a", "aa+a", "b+a"),
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(BPE_LEARN_ORACLE_SQL).fetchall()
    }
    assert got == want


def test_bpe_learn_degenerate_corpus_parity(spark, tmp_path_factory):
    """A corpus of ONLY single-char words gives the trainer nothing to
    learn: no round has any pair, Spark's max(struct) top-pair
    aggregate yields a 1-row all-NULL frame, and every word must come
    through unchanged with empty merge columns — in BOTH engines.
    Pins the round-7 advice fix: the oracle's old ORDER BY..LIMIT 1
    top-pair CTE returned ZERO rows here, and its CROSS JOIN silently
    dropped the entire corpus while Spark returned it all."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BPE_LEARN_ORACLE_SQL,
        bpe_learn,
    )

    docs = [(0, "a b c a"), (1, "b. c; a")]
    base = tmp_path_factory.mktemp("bpe_degen")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    got = {
        r.word: (r.freq, r.symbols, r.n_symbols, r.merge1, r.merge2, r.merge3)
        for r in bpe_learn(spark, str(base)).collect()
    }
    assert got == {
        "a": (3, "a", 1, "", "", ""),
        "b": (2, "b", 1, "", "", ""),
        "c": (2, "c", 1, "", "", ""),
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(BPE_LEARN_ORACLE_SQL).fetchall()
    }
    assert got == want


def test_bpe_learn_oracle_parity_sf(spark, sf_smoke):
    """Full-corpus Spark↔DuckDB parity at the smoke SF for the staged
    round-7 BPE trainer."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BPE_LEARN_ORACLE_SQL,
        bpe_learn,
    )

    got = {
        r.word: (r.freq, r.symbols, r.n_symbols, r.merge1, r.merge2, r.merge3)
        for r in bpe_learn(spark, sf_smoke).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(BPE_LEARN_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 20
    # every word's symbolization is a partition of the word
    assert all(v[1].replace(" ", "") == w for w, v in got.items())


def test_bpe_tokenize_stats_oracle_parity_and_bounds(spark, sf_smoke):
    """Spark↔DuckDB parity for the BPE apply side, plus the tokenizer
    sanity bounds: per doc, n_bpe_tokens is at most n_chars (merges
    only shrink) and at least n_words (a word is >= 1 symbol)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BPE_TOKENIZE_STATS_ORACLE_SQL,
        bpe_tokenize_stats,
    )

    rows = bpe_tokenize_stats(spark, sf_smoke).collect()
    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens, r.compression)
        for r in rows
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(BPE_TOKENIZE_STATS_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100
    for n_words, n_chars, n_bpe, _ in got.values():
        assert n_words <= n_bpe <= n_chars
    # the learned merges actually compress somewhere
    assert any(v[2] < v[1] for v in got.values())


def test_winnow_fingerprints_parity_and_guarantee(spark, sf_smoke):
    """Spark↔DuckDB parity for robust winnowing, plus the paper's two
    properties on real data: selected-position gaps never exceed the
    window width w (coverage guarantee), and density sits in a band
    around the expected 2/(w+1)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        WINNOW_FINGERPRINTS_ORACLE_SQL,
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    got = {
        r.doc_id: (
            r.n_kgrams,
            r.n_fingerprints,
            r.fp_density,
            r.fp_min_hash,
            r.fp_max_hash,
        )
        for r in winnow_fingerprints(spark, sf_smoke).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(WINNOW_FINGERPRINTS_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100

    # coverage guarantee: consecutive selected positions gap <= w
    gaps = con.execute(
        f"""
        WITH tok AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '') AS tokens
            FROM documents
        ), kg AS (
            -- WINNOW_K interpolated like WINNOW_W so this gap check
            -- always audits the SAME k-gram stream the implementation
            -- fingerprints (a hardcoded k would silently verify the
            -- wrong stream if WINNOW_K ever changed)
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   CAST('0x' || substr(md5(array_to_string(
                       list_slice(tokens, i, i + {WINNOW_K} - 1), ' ')), 1, 7)
                       AS BIGINT) AS h
            FROM tok, UNNEST(range(1, len(tokens) - {WINNOW_K} + 2)) t(i)
            WHERE len(tokens) >= {WINNOW_K} + {WINNOW_W} - 1
        ), sel AS (
            SELECT DISTINCT doc_id,
                   MIN(h * 4294967296 + (2147483648 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                           AND CURRENT ROW) AS fp
            FROM kg QUALIFY pos >= {WINNOW_W}
        ), positions AS (
            SELECT doc_id, 2147483648 - (fp % 4294967296) AS spos
            FROM sel
        )
        SELECT MAX(gap) FROM (
            SELECT spos - LAG(spos) OVER (
                PARTITION BY doc_id ORDER BY spos) AS gap
            FROM positions
        ) WHERE gap IS NOT NULL
        """
    ).fetchone()[0]
    assert gaps <= WINNOW_W, f"coverage guarantee violated: gap {gaps}"

    # density band around 2/(w+1)
    densities = [v[2] for v in got.values()]
    mean_density = sum(densities) / len(densities)
    assert 0.5 * 2 / (WINNOW_W + 1) < mean_density < 2.0 * 2 / (WINNOW_W + 1)


def test_pmi_top_pairs_parity_and_floor(spark, sf_smoke):
    """Spark↔DuckDB parity for PMI collocation mining, plus the
    min-count floor contract (every surviving pair clears it) and PMI
    sanity (a genuinely collocated pair scores positive)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        PMI_MIN_COUNT,
        PMI_TOP_PAIRS_ORACLE_SQL,
        pmi_top_pairs,
    )

    rows = pmi_top_pairs(spark, sf_smoke).collect()
    got = sorted((r.w1, r.w2, r.pair_count, r.pmi) for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(PMI_TOP_PAIRS_ORACLE_SQL).fetchall()
    )
    assert got == want and len(got) > 10
    assert all(r[2] >= PMI_MIN_COUNT for r in got)
    assert max(r[3] for r in got) > 0


def test_bpe_learn_matches_classic_reference(spark, tmp_path_factory):
    """Third-implementation check: the classic imperative BPE trainer
    (the textbook merge loop) on a seeded random corpus must agree
    with the relational trainer exactly — guarding against BOTH
    engines sharing a semantics bug that oracle parity alone would
    miss."""
    import random
    from collections import Counter

    from isaac_kafka_streaming_spark.extensions.text import bpe_learn

    rng = random.Random(1234)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
        for _ in range(200)
    ]
    base = tmp_path_factory.mktemp("bpe_ref")
    spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    ).write.parquet(str(base / "documents.parquet"))

    freqs = Counter(words)
    seqs = {w: list(w) for w in freqs}
    merges = []
    for _ in range(3):
        pc: Counter = Counter()
        for w, f in freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        best = max(pc.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))[0]
        merges.append(best)
        a, b = best
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out

    got = {
        r.word: (r.symbols, r.merge1, r.merge2, r.merge3)
        for r in bpe_learn(spark, str(base)).collect()
    }
    assert set(got) == set(freqs)
    want_merges = tuple(f"{a}+{b}" for a, b in merges)
    for w, (symbols, m1, m2, m3) in got.items():
        assert symbols == " ".join(seqs[w]), f"word {w}"
        assert (m1, m2, m3) == want_merges


def test_winnow_fingerprints_matches_classic_reference(
    spark, tmp_path_factory
):
    """Third-implementation check for robust winnowing: the textbook
    sliding-window min-selection (explicit loop, rightmost-min rule)
    on a seeded random corpus must agree with the relational form in
    fingerprint COUNTS and hash extremes per doc."""
    import hashlib
    import random

    from isaac_kafka_streaming_spark.extensions.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    rng = random.Random(99)
    docs = [
        (
            d,
            " ".join(
                rng.choice("ab cd ef gh ij kl".split())
                for _ in range(rng.randint(WINNOW_K + WINNOW_W - 1, 60))
            ),
        )
        for d in range(50)
    ]
    base = tmp_path_factory.mktemp("winnow_ref")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )

    def ref(text):
        toks = [t for t in text.lower().split() if t]
        kgrams = [
            " ".join(toks[i : i + WINNOW_K])
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        hashes = [
            int(hashlib.md5(kg.encode()).hexdigest()[:7], 16)
            for kg in kgrams
        ]
        sel = set()
        for end in range(WINNOW_W - 1, len(hashes)):
            window = hashes[end - WINNOW_W + 1 : end + 1]
            m = min(window)
            # rightmost position holding the min
            off = max(i for i, h in enumerate(window) if h == m)
            sel.add((m, end - WINNOW_W + 1 + off + 1))  # 1-based pos
        return sel

    got = {
        r.doc_id: (r.n_fingerprints, r.fp_min_hash, r.fp_max_hash)
        for r in winnow_fingerprints(spark, str(base)).collect()
    }
    for d, text in docs:
        fps = ref(text)
        assert got[d][0] == len(fps), f"doc {d} fingerprint count"
        assert got[d][1] == min(h for h, _ in fps), f"doc {d} min hash"
        assert got[d][2] == max(h for h, _ in fps), f"doc {d} max hash"


def test_winnow_probe_incoming_parity_and_partial_overlap(
    spark, sf_smoke
):
    """Spark↔DuckDB parity for the incremental overlap probe, plus the
    structural claims: every pair clears the min-shared floor, and the
    probe sees pairs the whole-document hash tier cannot (partial
    overlaps are a superset of exact dups on this fixture)."""
    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        WINNOW_PROBE_MIN_SHARED,
        WINNOW_PROBE_ORACLE_SQL,
        winnow_probe_incoming,
    )

    got = {
        (r.incoming_doc_id, r.corpus_doc_id): r.n_shared_fp
        for r in winnow_probe_incoming(spark, sf_smoke).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(WINNOW_PROBE_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 0
    assert all(v >= WINNOW_PROBE_MIN_SHARED for v in got.values())
    # the incoming slice is the same 'inc' bucket split dedup_incoming
    # uses; any exact cross-slice duplicate must also be a probe hit
    from isaac_kafka_streaming_spark.extensions.dedup import dedup_incoming

    exact_pairs = {
        (r.doc_id, r.dup_of)
        for r in dedup_incoming(spark, sf_smoke).collect()
        if not r.is_new
    }
    assert exact_pairs <= set(got), (
        "an exact cross-slice duplicate escaped the fingerprint probe"
    )


def test_winnow_hof_form_equals_windowed_form(spark, sf_smoke):
    """The shuffle-free higher-order-function winnowing (legal on
    streams, no exchange) selects EXACTLY the fingerprint hashes of
    the partitioned-window form — the equality that licenses
    winnow_probe_incoming and the streaming probe to use it."""
    from pyspark.sql import functions as FF

    from isaac_kafka_streaming_spark.extensions.text import (
        _winnow_selected,
        winnow_fp_hashes,
    )
    from isaac_kafka_streaming_spark.io import read_table as rt

    docs = rt(spark, sf_smoke, "documents")
    windowed = {
        (r.doc_id, r.fph)
        for r in _winnow_selected(docs)
        .select("doc_id", FF.expr("fp DIV 4294967296").alias("fph"))
        .distinct()
        .collect()
    }
    hof = {(r.doc_id, r.fph) for r in winnow_fp_hashes(docs).collect()}
    assert windowed == hof and len(hof) > 1000


def test_feature_hash_embed_parity_and_composition(spark, sf_smoke):
    """Spark↔DuckDB parity for the hashing-trick featurizer, plus the
    properties downstream X3 operators rely on: unit L2 norm (within
    component rounding) and vectors living in the declared dim."""
    import math

    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        FEATURE_HASH_DIM,
        FEATURE_HASH_EMBED_ORACLE_SQL,
        feature_hash_embed,
    )

    rows = feature_hash_embed(spark, sf_smoke).collect()
    got = {r.doc_id: (tuple(r.vec), r.n_active_dims) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    want = {
        r[0]: (tuple(r[1]), r[2])
        for r in con.execute(FEATURE_HASH_EMBED_ORACLE_SQL).fetchall()
    }
    assert got == want and len(got) > 100
    for vec, n_active in got.values():
        assert len(vec) == FEATURE_HASH_DIM
        assert 1 <= n_active <= FEATURE_HASH_DIM
        norm = math.sqrt(sum(x * x for x in vec))
        assert abs(norm - 1.0) < 1e-4, norm

    # the GRADED long form (scalar columns only — what the driver
    # value-hashes) is exactly the array form unrolled
    from isaac_kafka_streaming_spark.extensions.text import (
        FEATURE_HASH_EMBED_LONG_ORACLE_SQL,
        feature_hash_embed_long,
    )

    long_rows = feature_hash_embed_long(spark, sf_smoke).collect()
    rebuilt = {}
    for r in long_rows:
        vec, n_active = rebuilt.setdefault(
            r.doc_id, ([None] * FEATURE_HASH_DIM, r.n_active_dims)
        )
        assert n_active == r.n_active_dims
        vec[r.dim_i] = r.component
    assert {d: (tuple(v), n) for d, (v, n) in rebuilt.items()} == got
    want_long = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(FEATURE_HASH_EMBED_LONG_ORACLE_SQL).fetchall()
    }
    got_long = {
        (r.doc_id, r.dim_i): (r.component, r.n_active_dims)
        for r in long_rows
    }
    assert got_long == want_long


def test_bm25_hand_computed_and_length_normalization(
    spark, tmp_path_factory, sf_smoke
):
    """BM25 semantics on a hand-computable corpus: (a) exact score for
    a known (term, doc); (b) length normalization — same tf, longer
    doc scores LOWER (what raw tf-idf misses); plus oracle parity and
    rank shape on the driver fixture."""
    import math

    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        BM25_B,
        BM25_K1,
        BM25_TOP_DOCS_ORACLE_SQL,
        bm25_top_docs,
    )

    # 'le' and 'la' are stopword-listed (fr markers); use plain tokens.
    # target term: 'zebra' (tf=1 everywhere), filler keeps docs apart.
    docs = [
        (0, "zebra apple"),                       # short doc, tf=1
        (1, "zebra " + " ".join(f"pad{i}" for i in range(19))),  # long, tf=1
        (2, "apple banana"),
        (3, "apple cherry"),
        (4, "apple date"),
    ]
    base = tmp_path_factory.mktemp("bm25")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(base / "documents.parquet")
    )
    rows = bm25_top_docs(spark, str(base), n_queries=2).collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r.query_term, {})[r.doc_id] = r.bm25
    # query terms by cf: apple (4) then zebra/others (alphabetical at
    # cf=2... 'zebra' cf=2) — assert the zebra term made the cut
    assert "zebra" in by_term and "apple" in by_term
    z = by_term["zebra"]
    # (b) same tf=1: the 20-token doc scores strictly lower than the
    # 2-token doc
    assert z[1] < z[0]
    # (a) exact value for (zebra, doc 0): N=5, df=2, dl=2,
    # avgdl=(2+20+2+2+2)/5
    n_docs, df, tf, dl, avgdl = 5, 2, 1, 2, 28 / 5
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    want = round(
        idf * (tf * (BM25_K1 + 1.0))
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)),
        6,
    )
    assert z[0] == want
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    got = sorted(tuple(r) for r in bm25_top_docs(spark, sf_smoke).collect())
    oracle = sorted(
        tuple(r) for r in con.execute(BM25_TOP_DOCS_ORACLE_SQL).fetchall()
    )
    assert got == oracle and len(got) == 50
    ranks = {}
    for r in got:
        ranks.setdefault(r[0], []).append(r[4])
    for term, rs in ranks.items():
        assert sorted(rs) == list(range(1, 11)), term


def test_quality_keep_expr_matches_text_quality(spark, sf_smoke):
    """quality_keep_expr (the shared per-row gate corpus_report and the
    streaming card twin inline) must agree with text_quality's keep
    column on every document — the single-source-of-truth pin for the
    round-8 dejoin of corpus_report."""
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.extensions.text import (
        quality_keep_expr,
        text_quality,
    )
    from isaac_kafka_streaming_spark.io import read_table

    inline = {
        r.doc_id: r.keep
        for r in read_table(spark, sf_smoke, "documents")
        .select("doc_id", quality_keep_expr(F.col("text")).alias("keep"))
        .collect()
    }
    via_tq = {r.doc_id: r.keep for r in text_quality(spark, sf_smoke).collect()}
    assert inline == via_tq


def test_nb_quality_hand_computed_and_separation(spark, tmp_path_factory):
    """Naive Bayes classifier semantics on a hand-computable two-
    distribution corpus (the separation the driver's shared-vocab
    synthetic corpus cannot show): (a) exact closed-form logits;
    (b) perfect train-set separation when the classes are lexically
    disjoint; (c) the zero-token doc scores the bare prior; plus
    oracle parity on the same corpus."""
    import math

    import duckdb

    from isaac_kafka_streaming_spark.extensions.text import (
        NB_QUALITY_ORACLE_SQL,
        nb_quality_score,
    )

    docs = [
        (0, "good clean", "en"),
        (1, "good prose", "en"),
        (2, "spam junk", "de"),
        (3, "spam spam", "de"),
        (4, "", "de"),  # zero tokens -> prior-only logit
    ]
    base = tmp_path_factory.mktemp("nbq")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(base / "documents.parquet"))
    got = {
        r.doc_id: r for r in nb_quality_score(spark, str(base)).collect()
    }
    # closed form (alpha=1): V=5, tpos=4 (good x2, clean, prose),
    # tneg=4 (spam x3, junk), n_pos=2, n_neg=3 -> prior = ln(3/4)
    prior = math.log(3 / 4)
    w = {
        # w: ln((cpos+1)/(4+5)) - ln((cneg+1)/(4+5))
        "good": math.log(3 / 9) - math.log(1 / 9),
        "clean": math.log(2 / 9) - math.log(1 / 9),
        "prose": math.log(2 / 9) - math.log(1 / 9),
        "spam": math.log(1 / 9) - math.log(4 / 9),
        "junk": math.log(1 / 9) - math.log(2 / 9),
    }
    assert got[0].nb_logit == round(prior + w["good"] + w["clean"], 6)
    assert got[3].nb_logit == round(prior + 2 * w["spam"], 6)
    # (c) zero-token doc: bare prior, counted in n_neg, not dropped
    assert got[4].n_tokens == 0
    assert got[4].nb_logit == round(prior, 6)
    # (b) separation: every target doc keeps, every non-target drops
    assert [got[i].nb_keep for i in range(5)] == [
        True,
        True,
        False,
        False,
        False,
    ]
    assert [got[i].target_label for i in range(5)] == [
        True,
        True,
        False,
        False,
        False,
    ]
    # oracle parity on the hand corpus (the graded sweep only covers
    # the driver fixture)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    want = {
        int(r[0]): r
        for r in con.execute(NB_QUALITY_ORACLE_SQL).fetchall()
    }
    con.close()
    for i in range(5):
        assert (
            got[i].n_tokens,
            got[i].target_label,
            got[i].nb_logit,
            got[i].nb_keep,
        ) == (want[i][1], want[i][2], want[i][3], want[i][4]), i


def test_nb_label_flip_antisymmetry(spark, tmp_path_factory):
    """Closed-form NB is exactly antisymmetric in the class labels:
    swapping target and rest swaps (cpos, tpos, n_pos) with
    (cneg, tneg, n_neg), so every weight, the prior, and therefore
    every logit flips sign — a whole-pipeline algebraic pin no
    single hand case can give."""
    from isaac_kafka_streaming_spark.extensions.text import nb_quality_score

    docs = [
        (0, "alpha beta alpha", "en"),
        (1, "beta gamma", "en"),
        (2, "gamma delta delta", "de"),
        (3, "alpha delta", "de"),
        (4, "", "de"),
    ]
    base = tmp_path_factory.mktemp("nbflip")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(base / "documents.parquet"))
    en = {
        r.doc_id: r
        for r in nb_quality_score(spark, str(base), target_lang="en").collect()
    }
    de = {
        r.doc_id: r
        for r in nb_quality_score(spark, str(base), target_lang="de").collect()
    }
    for i in range(5):
        assert de[i].nb_logit == -en[i].nb_logit, i
        assert de[i].target_label != en[i].target_label, i
