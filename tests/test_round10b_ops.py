from __future__ import annotations

import datetime
import math

import pytest

from enterprise_data_quality_platform_spark.queries import events as ev, text as tx


def _events(spark, user_ids):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), int(u), "click", 1.0, "{}")
        for i, u in enumerate(user_ids)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_gini_uniform_counts_zero(spark, crafted_tables):
    """Every user has the same count -> Gini exactly 0 (the rank-sum
    identity collapses: 2*c*n(n+1)/2 / (n*nc) == (n+1)/n)."""
    crafted_tables(ev, _events(spark, [1, 1, 2, 2, 3, 3]))
    out = ev.events_user_gini(spark, "unused").collect()[0]
    assert (out.n_users, out.total_events) == (3, 6)
    assert out.gini_6dp == 0.0


def test_gini_concentrated_counts(spark, crafted_tables):
    """Counts [1, 999] over 2 users: G = 2*(1*1+2*999)/(2*1000) - 3/2
    = 0.499 exactly."""
    crafted_tables(ev, _events(spark, [7] + [8] * 999))
    out = ev.events_user_gini(spark, "unused").collect()[0]
    assert (out.n_users, out.total_events) == (2, 1000)
    assert out.gini_6dp == pytest.approx(0.499, abs=1e-9)


def test_gini_tie_order_invariant(spark, crafted_tables):
    """Equal counts may rank in any order without changing the sum, and
    the (cnt, user_id) tiebreak makes the plan deterministic anyway:
    relabeling users must not move the coefficient."""
    counts = [5, 5, 5, 1, 1, 9]
    a = [u for u, c in enumerate(counts) for _ in range(c)]
    b = [len(counts) - 1 - u for u, c in enumerate(counts) for _ in range(c)]
    outs = []
    for ids in (a, b):
        crafted_tables(ev, _events(spark, ids))
        outs.append(ev.events_user_gini(spark, "unused").collect()[0].gini_6dp)
    assert outs[0] == outs[1]


def test_gini_single_user_zero(spark, crafted_tables):
    crafted_tables(ev, _events(spark, [4, 4, 4]))
    out = ev.events_user_gini(spark, "unused").collect()[0]
    assert (out.n_users, out.gini_6dp) == (1, 0.0)


def test_entropy_uniform_unigrams(spark, crafted_tables):
    """'a b c d': 4 distinct unigrams once each -> H = ln(4); 3 distinct
    bigrams once each -> H = ln(3). 4dp fx rounding."""
    crafted_tables(tx, _docs(spark, [(1, "a b c d", "s")]))
    out = tx.text_ngram_entropy(spark, "unused").collect()[0]
    assert (out.n_tokens, out.n_unigrams) == (4, 4)
    assert (out.n_bigrams, out.n_bigrams_distinct) == (3, 3)
    assert out.unigram_entropy == pytest.approx(math.log(4), abs=2e-4)
    assert out.bigram_entropy == pytest.approx(math.log(3), abs=2e-4)


def test_entropy_degenerate_corpus_zero(spark, crafted_tables):
    """One token repeated: both distributions are a point mass -> H = 0."""
    crafted_tables(tx, _docs(spark, [(1, "a a a a", "s")]))
    out = tx.text_ngram_entropy(spark, "unused").collect()[0]
    assert (out.n_tokens, out.n_unigrams) == (4, 1)
    assert (out.n_bigrams, out.n_bigrams_distinct) == (3, 1)
    assert out.unigram_entropy == 0.0
    assert out.bigram_entropy == 0.0


def test_entropy_templated_corpus_low_bigram_lift(spark, crafted_tables):
    """The diversity signal the operator exists for: two corpora with the
    SAME unigram distribution, one free-order and one templated — the
    templated one's bigram entropy collapses toward its unigram entropy."""
    templated = [(i, "x y z w", "s") for i in range(8)]
    mixed = [
        (0, "x y z w", "s"),
        (1, "y x w z", "s"),
        (2, "z w x y", "s"),
        (3, "w z y x", "s"),
        (4, "x z y w", "s"),
        (5, "y w x z", "s"),
        (6, "z x w y", "s"),
        (7, "w y z x", "s"),
    ]
    ents = {}
    for key, rows in (("templated", templated), ("mixed", mixed)):
        crafted_tables(tx, _docs(spark, rows))
        out = tx.text_ngram_entropy(spark, "unused").collect()[0]
        assert out.unigram_entropy == pytest.approx(math.log(4), abs=2e-4)
        ents[key] = out.bigram_entropy
    assert ents["templated"] == pytest.approx(math.log(3), abs=2e-4)
    assert ents["mixed"] > ents["templated"] + 0.5


def test_entropy_single_token_docs_no_bigrams(spark, crafted_tables):
    """Docs below 2 tokens contribute no bigrams; a corpus of them has
    n_bigrams = 0 and a NULL bigram entropy (not ln(0))."""
    # the all-whitespace doc tokenizes to an EMPTY array (sz=0) — it must
    # stay behind the when() guard, not reach slice(-1)
    docs = [(1, "solo", "s"), (2, "  hi  ", "s"), (3, "   ", "s")]
    crafted_tables(tx, _docs(spark, docs))
    out = tx.text_ngram_entropy(spark, "unused").collect()[0]
    assert (out.n_tokens, out.n_unigrams) == (2, 2)
    assert (out.n_bigrams, out.n_bigrams_distinct) == (0, 0)
    assert out.bigram_entropy is None
    assert out.unigram_entropy == pytest.approx(math.log(2), abs=2e-4)


def test_entropy_empty_tokens_filtered_before_pairing(spark, crafted_tables):
    """Multi-space runs collapse: 'a   b' pairs a with b (no empty token
    enters the bigram stream)."""
    crafted_tables(tx, _docs(spark, [(1, "  a   b  ", "s")]))
    out = tx.text_ngram_entropy(spark, "unused").collect()[0]
    assert (out.n_tokens, out.n_bigrams, out.n_bigrams_distinct) == (2, 1, 1)


def test_dedup_rate_by_source_mixed(spark, crafted_tables):
    """Source A holds a normalized duplicate pair ('dup text' vs
    'Dup   TEXT') plus a unique doc; source B holds one copy of the same
    text plus its own unique doc. Within-source rate and the cross-source
    doc counts must both see it."""
    rows = [
        (1, "dup text", "A"),
        (2, "Dup   TEXT", "A"),
        (3, "unique one", "A"),
        (4, "dup text", "B"),
        (5, "unique two", "B"),
    ]
    crafted_tables(tx, _docs(spark, rows))
    got = {
        r.source: r for r in tx.dedup_rate_by_source(spark, "unused").collect()
    }
    a, b = got["A"], got["B"]
    assert (a.n_docs, a.distinct_docs, a.duplicate_docs) == (3, 2, 1)
    assert a.dup_rate == pytest.approx(0.333333, abs=1e-9)
    assert a.cross_source_docs == 2  # BOTH copies of the shared text
    assert (b.n_docs, b.distinct_docs, b.duplicate_docs) == (2, 2, 0)
    assert (b.dup_rate, b.cross_source_docs) == (0.0, 1)


def test_dedup_rate_by_source_no_dups(spark, crafted_tables):
    rows = [(i, f"doc number {i}", f"s{i % 2}") for i in range(6)]
    crafted_tables(tx, _docs(spark, rows))
    for r in tx.dedup_rate_by_source(spark, "unused").collect():
        assert (r.duplicate_docs, r.dup_rate, r.cross_source_docs) == (0, 0.0, 0)
        assert r.n_docs == r.distinct_docs == 3


def test_dedup_rate_decomposes_corpus_totals(spark, sf_dir):
    """Summing the per-source scorecard reproduces dedup_exact_docs'
    corpus totals (same fingerprint, same data)."""
    per_src = tx.dedup_rate_by_source(spark, sf_dir).collect()
    total = tx.dedup_exact_docs(spark, sf_dir).collect()[0]
    assert sum(r.n_docs for r in per_src) == total.total_docs
    # distinct within source can only over-count the corpus-distinct set
    assert sum(r.distinct_docs for r in per_src) >= total.distinct_docs
    assert sum(r.duplicate_docs for r in per_src) <= total.duplicate_docs
