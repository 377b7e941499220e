"""Text queries and functions (``queries/text.py``,
``functions/text.py``): PII flags and redaction, pre-tokens, n-gram
entropy, Zipf fit, perplexity proxy and the dedup scorecards."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL, plan_of

from enterprise_data_quality_platform_spark.functions.text import (
    pii_flag,
    pretokens,
    redact_pii,
)
from enterprise_data_quality_platform_spark.queries import text as tx


def test_perplexity_proxy_known_corpus(spark, crafted_tables):
    """Crafted corpus with known unigram probs: p(a)=3/6, p(b)=2/6,
    p(c)=1/6. Doc scores are exact means of 6-dp-rounded surprisals."""
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    crafted_tables(tx, docs)
    rows = {r.doc_id: r for r in tx.text_perplexity_proxy(spark, "x").collect()}

    def micro(p):
        return math.floor(-math.log(p) * 1e6 + 0.5)

    d1 = (2 * micro(3 / 6) + micro(2 / 6)) / 3 / 1e6
    d2 = (micro(3 / 6) + micro(2 / 6) + micro(1 / 6)) / 3 / 1e6
    assert rows[1].n_toks == 3 and rows[2].n_toks == 3
    assert rows[1].avg_nll == math.floor(d1 * 1e4 + 0.5) / 1e4
    assert rows[2].avg_nll == math.floor(d2 * 1e4 + 0.5) / 1e4
    # the rare-token doc must score strictly higher
    assert rows[2].avg_nll > rows[1].avg_nll


def test_perplexity_proxy_reuses_token_pass(spark):
    """The tf frame feeds three consumers (join, vocab, total); AQE must
    reuse its shuffle so the explode pass runs once at runtime."""
    df = tx.text_perplexity_proxy(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"\(\d+\) ReusedExchange", plan)) >= 2


def test_zipf_fit_perfect_power_law(spark, crafted_tables):
    """A corpus built so freq(rank) = C * rank^-1 exactly fits slope -1."""
    # token 'w{r}' appears floor(120/r) times -> ln freq ~ ln 120 - ln r
    words = []
    for r in range(1, 9):
        words += [f"w{r:02d}"] * (120 // r)
    rows = [(1, " ".join(words))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    crafted_tables(tx, df)
    out = tx.text_zipf_fit(spark, "unused").collect()[0]
    assert out.n_ranks == 8
    # floor(120/r) deviates from 120/r by <1 count; slope lands near -1
    assert out.zipf_slope == pytest.approx(-1.0, abs=0.05)


def test_zipf_fit_uniform_corpus_slope_zero(spark, crafted_tables):
    """Equal frequencies -> slope exactly 0 (templated/degenerate text)."""
    rows = [(1, "aa bb cc dd " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    crafted_tables(tx, df)
    out = tx.text_zipf_fit(spark, "unused").collect()[0]
    assert out.n_ranks == 4
    assert out.zipf_slope == 0.0


def test_zipf_fit_single_token_null_slope(spark, crafted_tables):
    """One distinct token -> OLS denominator 0 -> NULL, not a throw
    (ANSI div-by-zero guard)."""
    df = spark.createDataFrame([(1, "only only only")], "doc_id long, text string")
    crafted_tables(tx, df)
    out = tx.text_zipf_fit(spark, "unused").collect()[0]
    assert out.n_ranks == 1
    assert out.zipf_slope is None
