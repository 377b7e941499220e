from __future__ import annotations

import datetime

import pytest

from conftest import SF_SMALL, plan_of

from enterprise_data_quality_platform_spark.queries import (
    dedup_ops,
    embeddings as em,
    events as ev,
    relational as rel,
    text as tx,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_span_memorization_cross_doc_only(spark, crafted_tables):
    """A 32-char span repeated across two docs is reported; the same span
    repeated twice inside ONE doc is not (self-repetition is
    text_repetition_stats' business)."""
    shared = "A" * 32  # aligned at pos 1 in both docs
    rows = [
        (1, shared + " tail one ........."),
        (2, shared + " other tail ......."),
        # doc 3 repeats its own 32-prefix at stride-aligned pos 33 but no
        # other doc shares it -> excluded by n_docs > 1
        (3, "B" * 32 + "B" * 32),
    ]
    crafted_tables(dedup_ops, _docs(spark, rows))
    got = {
        r.span: (r.n_docs, r.n_occurrences)
        for r in dedup_ops.dedup_span_memorization(spark, "unused").collect()
    }
    assert got[shared] == (2, 2)
    assert all(not s.startswith("B") for s in got)


def test_span_memorization_counts_multi_occurrence(spark, crafted_tables):
    """n_occurrences sums ALL stride-aligned occurrences across the
    matching docs, including repeats within a doc once the span is
    cross-doc."""
    # 32 DISTINCT chars: stride windows that straddle the copy boundary
    # (positions 9/17/25) are rotations, not equal to s — only the two
    # aligned copies in doc 1 and the one in doc 2 count.
    s = "abcdefghijklmnopqrstuvwxyz012345"
    rows = [
        (1, s + s),  # positions 1 and 33 (both ≡ 1 mod 8) -> 2 occurrences
        (2, s + " x"),
    ]
    crafted_tables(dedup_ops, _docs(spark, rows))
    got = {
        r.span: (r.n_docs, r.n_occurrences)
        for r in dedup_ops.dedup_span_memorization(spark, "unused").collect()
    }
    assert got[s] == (2, 3)


def test_span_memorization_short_docs_skipped(spark, crafted_tables):
    rows = [(1, "short"), (2, "short")]
    crafted_tables(dedup_ops, _docs(spark, rows))
    assert dedup_ops.dedup_span_memorization(spark, "unused").count() == 0


def test_span_memorization_plan(spark):
    """Two-level aggregate (no Expand) + TakeOrderedAndProject top-k."""
    plan = plan_of(spark, "dedup_span_memorization")
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan


def test_centroid_outliers_ranks_farthest_first(spark, crafted_tables):
    """Three tight members + one flipped vector: the flipped one is the
    rank-1 outlier with centroid_cos far below the tight members'."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [1.0, 0.1], 0),
        (4, [-1.0, 0.0], 0),  # opposes the centroid
    ]
    crafted_tables(em, _emb(spark, rows))
    out = em.embed_centroid_outliers(spark, "unused").collect()
    assert [r.vec_id for r in out if r.outlier_rank == 1] == [4]
    by_rank = sorted(out, key=lambda r: r.outlier_rank)
    assert by_rank[0].centroid_cos < 0 < by_rank[-1].centroid_cos


def test_centroid_outliers_per_label_and_capped(spark, crafted_tables):
    """Ranking restarts per label and emits at most 5 rows per label."""
    rows = [(i, [1.0, float(i) / 100.0], 0) for i in range(1, 8)] + [
        (100 + i, [0.0, 1.0 + i / 100.0], 1) for i in range(1, 4)
    ]
    crafted_tables(em, _emb(spark, rows))
    out = em.embed_centroid_outliers(spark, "unused").collect()
    n_by_label = {}
    for r in out:
        n_by_label[r.label] = n_by_label.get(r.label, 0) + 1
    assert n_by_label == {0: 5, 1: 3}
    assert {r.outlier_rank for r in out if r.label == 0} == {1, 2, 3, 4, 5}


def test_centroid_outliers_agrees_with_label_centroid_min(spark, crafted_tables):
    """The rank-1 outlier's cosine per label equals embed_label_centroid's
    min_cohesion (shared partials, two consumers)."""
    rows = [
        (1, [1.0, 0.2, 0.1], 0),
        (2, [0.8, 0.3, 0.0], 0),
        (3, [-0.5, 1.0, 0.4], 0),
        (4, [0.1, 0.9, 0.9], 1),
        (5, [0.2, 1.0, 0.8], 1),
    ]
    crafted_tables(em, _emb(spark, rows))
    mins = {
        r.label: r.min_cohesion
        for r in em.embed_label_centroid(spark, "unused").collect()
    }
    worst = {
        r.label: r.centroid_cos
        for r in em.embed_centroid_outliers(spark, "unused").collect()
        if r.outlier_rank == 1
    }
    assert worst == mins


def test_label_confusion_identical_and_orthogonal(spark, crafted_tables):
    """Two labels pointing the same way read ~1.0; orthogonal labels read
    ~0.0; the matrix is upper-triangular (label_a < label_b)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.0], 0),
        (3, [0.5, 0.0], 1),  # same direction as label 0
        (4, [0.0, 1.0], 2),  # orthogonal
    ]
    crafted_tables(em, _emb(spark, rows))
    out = {
        (r.label_a, r.label_b): r.centroid_cos
        for r in em.embed_label_confusion(spark, "unused").collect()
    }
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)] == pytest.approx(1.0, abs=1e-4)
    assert out[(0, 2)] == pytest.approx(0.0, abs=1e-4)
    assert out[(1, 2)] == pytest.approx(0.0, abs=1e-4)


def test_label_confusion_count_invariant(spark, crafted_tables):
    """Cosine between centroids ignores member counts: duplicating every
    member of one label leaves the matrix unchanged (the 1/n factors
    cancel — the property that lets the op run on component SUMS)."""
    base = [
        (1, [1.0, 0.3], 0),
        (2, [0.7, 0.5], 0),
        (3, [0.2, 1.0], 1),
    ]
    dup = base + [(10 + i, v, lb) for i, (_, v, lb) in enumerate(base) if lb == 0]
    crafted_tables(em, _emb(spark, base))
    one = {
        (r.label_a, r.label_b): r.centroid_cos
        for r in em.embed_label_confusion(spark, "unused").collect()
    }
    crafted_tables(em, _emb(spark, dup))
    two = {
        (r.label_a, r.label_b): r.centroid_cos
        for r in em.embed_label_confusion(spark, "unused").collect()
    }
    for k in one:
        assert one[k] == pytest.approx(two[k], abs=2e-6)


def test_label_confusion_reuses_centroid_exchange(spark):
    """The self-join's broadcast side must reuse the probe side's centroid
    shuffle (identical pruning on both aliases) — a separate norms
    aggregate used to re-run the corpus posexplode (3 scans); the
    diagonal-window form runs it once (AQE runtime decision, so read the
    executed plan)."""
    df = em.embed_label_confusion(spark, SF_SMALL)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_yearly_growth_delta_and_first_year_null(spark, crafted_tables):
    def ts(y):
        return datetime.datetime(y, 6, 1)

    orders = spark.createDataFrame(
        [
            (1, 1, ts(1995), 100.0),
            (2, 1, ts(1995), 50.0),
            (3, 1, ts(1996), 120.0),
            (4, 2, ts(1996), 10.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, 0), (2, 1)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey int, n_name string"
    )
    frames = {"orders": orders, "customer": customer, "nation": nation}
    crafted_tables(rel, frames)
    rows = {
        (r.nation_name, r.order_year): (r.revenue, r.yoy_growth)
        for r in rel.mart_nation_yearly_growth(spark, "unused").collect()
    }
    assert rows[("ALPHA", 1995)] == (150.0, None)
    assert rows[("ALPHA", 1996)] == (120.0, -30.0)
    assert rows[("BETA", 1996)] == (10.0, None)


def test_yearly_growth_window_over_aggregate_plan(spark):
    """The LAG window must run over the aggregated (nation, year) frame,
    never over raw orders: the Window node's child chain contains the
    HashAggregate, and no explicit broadcast of the scale-growing
    customer side appears (AQE-decided per policy)."""
    plan = plan_of(spark, "mart_nation_yearly_growth")
    assert "Window" in plan
    # formatted explain prints root-first: the Window printing BEFORE the
    # HashAggregate means the aggregate is the window's descendant (the
    # window runs over aggregated rows, not raw orders)
    assert plan.index("Window") < plan.index("HashAggregate")


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


def test_rapid_fire_orders_by_min_gap_and_counts_rapid(spark, crafted_tables):
    base = datetime.datetime(2024, 1, 1)

    def at(sec):
        return base + datetime.timedelta(seconds=sec)

    rows = [
        # user 1: gaps 1s and 3600s -> min 1s, one rapid gap
        (1, 1, at(0)), (2, 1, at(1)), (3, 1, at(3601)),
        # user 2: gap 30s then 59s -> min 30s, TWO rapid gaps
        (4, 2, at(0)), (5, 2, at(30)), (6, 2, at(89)),
        # user 3: single event -> excluded (no gap)
        (7, 3, at(0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    out = ev.events_rapid_fire_users(spark, "unused").collect()
    assert [r.user_id for r in out] == [1, 2]
    by_user = {r.user_id: r for r in out}
    assert by_user[1].min_gap_us == 1_000_000
    assert by_user[1].n_rapid_gaps == 1
    assert by_user[2].min_gap_us == 30_000_000
    assert by_user[2].n_rapid_gaps == 2
    assert by_user[2].n_events == 3


def test_rapid_fire_duplicate_ts_ordered_by_event_id(spark, crafted_tables):
    """Two events at the SAME timestamp -> gap 0 via the event_id
    tiebreak (the scripted-burst signature)."""
    t = datetime.datetime(2024, 1, 1)
    rows = [(10, 1, t), (11, 1, t)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    out = ev.events_rapid_fire_users(spark, "unused").collect()
    assert out[0].min_gap_us == 0


def test_exact_dup_vectors_detects_quantized_duplicates(spark, crafted_tables):
    rows = [
        (1, [0.5, -0.25], 0),
        (2, [0.5, -0.25], 0),          # exact dup of 1
        (3, [0.5000000001, -0.25], 0),  # inside 1e-6 quantum -> dup of 1
        (4, [0.5, -0.26], 0),           # differs at 1e-2 -> distinct
        (5, [0.1, 0.1], 1),
        (6, [0.1, 0.1], 1),             # second dup group
    ]
    crafted_tables(em, _emb(spark, rows))
    out = em.embed_exact_dup_vectors(spark, "unused").collect()[0]
    assert (out.n_dup_groups, out.n_dup_vectors, out.largest_group) == (2, 5, 3)


def test_exact_dup_vectors_clean_corpus_zeroes(spark, crafted_tables):
    rows = [(1, [0.1, 0.2], 0), (2, [0.3, 0.4], 0)]
    crafted_tables(em, _emb(spark, rows))
    out = em.embed_exact_dup_vectors(spark, "unused").collect()[0]
    assert (out.n_dup_groups, out.n_dup_vectors, out.largest_group) == (0, 0, 0)


def test_exact_dup_vectors_nonfinite_components_fingerprint(spark, crafted_tables):
    """NaN/Inf/NULL components must map to sentinel
    tokens, not ANSI-throw in the BIGINT quantizer or be silently dropped
    by concat_ws — two vectors sharing the same non-finite pattern are
    the SAME fingerprint; NULL vs 0.0 are DIFFERENT."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [nan, 0.5], 0),
        (2, [nan, 0.5], 0),      # dup of 1 (same NaN pattern)
        (3, [inf, 0.5], 0),      # distinct: inf != nan token
        (4, [-inf, 0.5], 0),     # distinct: sign preserved
        (5, [None, 0.0], 0),     # null token, NOT dropped:
        (6, [0.0, 0.0], 0),      # ...so this is NOT a dup of 5
    ]
    crafted_tables(em, _emb(spark, rows))
    out = em.embed_exact_dup_vectors(spark, "unused").collect()[0]
    assert (out.n_dup_groups, out.n_dup_vectors, out.largest_group) == (1, 2, 2)
