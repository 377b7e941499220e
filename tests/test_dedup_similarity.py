"""Dedup + similarity correctness (SURVEY.md §5.2.5): LSH methods are
validated against their exact counterparts (recall), dedup operators
against hand-built duplicates and property checks (idempotence), and the
span and embedding audits (``queries/dedup_ops.py``,
``queries/embeddings.py``) against crafted corpora."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.dedup import (
    fingerprint_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from enterprise_data_quality_platform_spark.dedup.jaccard import containment_pairs
from enterprise_data_quality_platform_spark.queries import dedup_ops
from enterprise_data_quality_platform_spark.queries import embeddings as em
from enterprise_data_quality_platform_spark.queries import text as tx
from enterprise_data_quality_platform_spark.similarity import (
    brute_force_topk,
    lsh_ann_topk,
)

from conftest import SF_SMALL, plan_of

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm window sill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Synthetic corpus with known near-dups: 0/1 near-identical, 2 exact
    copy of 0, 3-9 unrelated."""
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE.replace("lazy", "sleepy")),
        Row(doc_id=2, text=BASE),
        Row(doc_id=3, text="completely different content about spark engines"),
        Row(
            doc_id=4,
            text="columnar storage with vectorized execution beats row stores",
        ),
        Row(doc_id=5, text="streaming watermarks bound state for late data"),
        Row(doc_id=6, text="partition pruning skips files using min max stats"),
        Row(doc_id=7, text="broadcast joins avoid shuffling the large fact table"),
        Row(doc_id=8, text="adaptive query execution replans at runtime"),
        Row(doc_id=9, text="catalyst rewrites logical plans before execution"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_deterministic_and_idempotent(near_dup_docs):
    d1 = fingerprint_dedup(near_dup_docs)
    assert d1.count() == 9  # doc 2 collapses into doc 0
    kept = {r.doc_id for r in d1.collect()}
    assert 0 in kept and 2 not in kept  # lowest-id winner
    d2 = fingerprint_dedup(d1)
    assert sorted(r.doc_id for r in d2.collect()) == sorted(
        r.doc_id for r in d1.collect()
    )  # idempotent


def test_ngram_jaccard_finds_planted_pairs(near_dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    assert pairs[(0, 2)] == 1.0  # exact copy
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5  # near dup
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in pairs)


def test_minhash_recall_vs_exact(near_dup_docs):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(near_dup_docs, threshold=0.5).collect()
    }
    # at J>=0.5 with 8x4 banding, collision prob >= 0.96 — all planted
    # pairs must surface, and verification keeps precision exact
    assert lsh == exact


def test_minhash_jaccard_values_match_exact(near_dup_docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    for r in minhash_near_dup_pairs(near_dup_docs, threshold=0.5).collect():
        assert exact[(r.id_a, r.id_b)] == r.jaccard  # same verify metric


def test_simhash_near_dups(near_dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(near_dup_docs, max_hamming=3).collect()
    }
    assert pairs.get((0, 2)) == 0  # identical text → identical simhash
    assert all(h <= 3 for h in pairs.values())


def test_ann_recall_vs_brute_force(spark):
    emb = table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    exact = brute_force_topk(emb, probes, k=10)
    # synthetic vectors are near-orthogonal (top-10 at cosine ~0.3-0.5), the
    # hardest regime for angular LSH — radius-2 multiprobe searches ~1/3 of
    # the 64 buckets to buy recall back
    approx = lsh_ann_topk(emb, probes, k=10, num_planes=6, multiprobe=6, radius=2)
    exact_sets = {
        r.probe_id: set()
        for r in exact.select("probe_id").distinct().collect()
    }
    for r in exact.collect():
        exact_sets[r.probe_id].add(r.vec_id)
    approx_sets = {p: set() for p in exact_sets}
    for r in approx.collect():
        approx_sets[r.probe_id].add(r.vec_id)
    recalls = [
        len(exact_sets[p] & approx_sets[p]) / len(exact_sets[p]) for p in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # multiprobe-LSH recall floor
    # every ANN hit must carry the true cosine (no score corruption)
    exact_scores = {
        (r.probe_id, r.vec_id): round(r.cosine_sim, 6) for r in exact.collect()
    }
    for r in approx.collect():
        if (r.probe_id, r.vec_id) in exact_scores:
            assert round(r.cosine_sim, 6) == exact_scores[(r.probe_id, r.vec_id)]


def test_brute_force_self_is_top1(spark):
    emb = table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    top = brute_force_topk(emb, probes, k=1).collect()
    assert top[0].vec_id == 7 and abs(top[0].cosine_sim - 1.0) < 1e-9


def test_cluster_resolution_chains(spark):
    """Pair-level dropping keeps extra members of chained clusters; the
    component resolution must not. Pairs (1,3),(3,5) chain {1,3,5};
    (10,11) is separate; 99 untouched."""
    from enterprise_data_quality_platform_spark.dedup import (
        keep_one_per_cluster,
        resolve_clusters,
    )

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=3), Row(id_a=3, id_b=5), Row(id_a=10, id_b=11)]
    )
    clusters = {r.id: r.cluster_id for r in resolve_clusters(pairs).collect()}
    assert clusters == {1: 1, 3: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in (1, 3, 5, 10, 11, 99)]
    )
    kept = sorted(r.doc_id for r in keep_one_per_cluster(docs, pairs).collect())
    assert kept == [1, 10, 99]


def test_cluster_resolution_long_chain(spark):
    """A 12-hop chain needs multiple propagation rounds to converge."""
    from enterprise_data_quality_platform_spark.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(12)]
    )
    clusters = {r.id: r.cluster_id for r in resolve_clusters(pairs).collect()}
    assert set(clusters.values()) == {0}
    assert len(clusters) == 13


def test_keep_one_per_cluster_idempotent(near_dup_docs):
    from enterprise_data_quality_platform_spark.dedup import keep_one_per_cluster

    pairs1 = minhash_near_dup_pairs(near_dup_docs, threshold=0.5)
    once = keep_one_per_cluster(near_dup_docs, pairs1)
    pairs2 = minhash_near_dup_pairs(once, threshold=0.5)
    twice = keep_one_per_cluster(once, pairs2)
    assert sorted(r.doc_id for r in once.collect()) == sorted(
        r.doc_id for r in twice.collect()
    )
    kept = {r.doc_id for r in once.collect()}
    assert 0 in kept and 1 not in kept and 2 not in kept  # {0,1,2} → keep 0


def test_knn_no_single_partition_window(spark):
    """Plan assertion: the brute-force top-k must rank via the two-level
    (probe, partition-id) window, never a bare per-probe window over the
    whole scored corpus."""
    emb = table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    df = brute_force_topk(emb, probes, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    window_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert window_specs, "expected Window nodes in plan"
    # the level-1 window partitions by (probe_id, __pid); level-2 sees only
    # k survivors per (probe, input-partition)
    assert any("__pid" in spec for spec in window_specs)
    # results still exact
    top = {r.vec_id for r in df.filter(F.col("probe_id") == 0).collect()}
    assert 0 in top and len(top) == 5


def test_minhash_signature_forms_agree(spark):
    """The column-expression form and the corpus-scale aggregate form must
    produce identical signature values (same token-hash family)."""
    from enterprise_data_quality_platform_spark.dedup.minhash import (
        minhash_signature,
        signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "spark shuffles partitions across the cluster at scale"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    col_form = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", minhash_signature(F.col("text")).alias("sig")
        ).collect()
    }
    agg_form = {r["doc_id"]: r["sig"] for r in signatures(df).collect()}
    # doc 3 has < n tokens: absent from the aggregate form, all-null in the
    # column form — both mean "no shingles"
    assert set(agg_form) == {1, 2}
    assert col_form[3] == [None] * 32
    for k in agg_form:
        assert col_form[k] == agg_form[k], k


def test_ivf_recall_vs_brute_force(spark):
    """IVF-ANN finds most of the exact top-10 while probing only
    nprobe/num_centroids of the inverted lists; scores it does return are
    the true cosines."""
    from enterprise_data_quality_platform_spark.similarity import ivf_ann_topk

    emb = table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    exact = brute_force_topk(emb, probes, k=10)
    approx = ivf_ann_topk(emb, probes, k=10, num_centroids=16, nprobe=6)
    exact_sets: dict[int, set] = {}
    exact_scores = {}
    for r in exact.collect():
        exact_sets.setdefault(r.probe_id, set()).add(r.vec_id)
        exact_scores[(r.probe_id, r.vec_id)] = round(r.cosine_sim, 6)
    approx_sets: dict[int, set] = {p: set() for p in exact_sets}
    for r in approx.collect():
        approx_sets[r.probe_id].add(r.vec_id)
        if (r.probe_id, r.vec_id) in exact_scores:
            assert round(r.cosine_sim, 6) == exact_scores[(r.probe_id, r.vec_id)]
    recalls = [
        len(exact_sets[p] & approx_sets[p]) / len(exact_sets[p]) for p in exact_sets
    ]
    # near-orthogonal synthetic vectors are the hard regime (see the LSH
    # test); 6/16 lists probed should still recover half the true top-10
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_centroids_deterministic_and_balanced(spark):
    """Same seed → identical centroids; k-means lists are reasonably
    balanced on this corpus (no degenerate single-list collapse)."""
    import numpy as np

    from enterprise_data_quality_platform_spark.similarity import train_centroids
    from enterprise_data_quality_platform_spark.similarity.ivf import (
        assign_centroids,
    )
    from enterprise_data_quality_platform_spark.functions.vectors import to_double

    emb = table(spark, SF_SMALL, "embeddings")
    c1 = train_centroids(emb, num_centroids=16, sample_size=500, seed=7)
    c2 = train_centroids(emb, num_centroids=16, sample_size=500, seed=7)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    sizes = (
        emb.select(
            F.element_at(
                assign_centroids(to_double(F.col("embedding")), c1), 1
            ).alias("cid")
        )
        .groupBy("cid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    total = sum(counts)
    assert len(counts) >= 8  # most lists populated
    assert max(counts) < total * 0.5  # no single-list collapse


def test_ivf_persisted_index_matches_in_memory(spark, tmp_path):
    """Build-once-probe-many: the parquet-persisted IVF index (centroids +
    assignments partitioned by list id) returns EXACTLY the in-memory
    ivf_ann_topk results for the same training parameters, and the probe
    scan is partition-pruned to the probed lists."""
    from enterprise_data_quality_platform_spark.similarity.ivf import (
        ivf_ann_topk,
        ivf_index_topk,
        read_ivf_centroids,
        train_centroids,
        write_ivf_index,
    )
    import numpy as np

    emb = table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    path = str(tmp_path / "ivf")
    kw = dict(num_centroids=16, sample_size=500, iters=10, seed=7)
    written = write_ivf_index(emb, path, **kw)
    assert np.allclose(read_ivf_centroids(spark, path), written)
    assert np.allclose(written, train_centroids(emb, 16, 500, 10, 7))

    mem = ivf_ann_topk(emb, probes, k=10, nprobe=6, **kw)
    idx = ivf_index_topk(spark, path, probes, k=10, nprobe=6)
    mem_rows = sorted(
        (r.probe_id, r.vec_id, round(r.cosine_sim, 9), r.sim_rank)
        for r in mem.collect()
    )
    idx_rows = sorted(
        (r.probe_id, r.vec_id, round(r.cosine_sim, 9), r.sim_rank)
        for r in idx.collect()
    )
    assert mem_rows == idx_rows and len(idx_rows) > 0

    # partition pruning: the assignments scan carries PartitionFilters on
    # centroid_id (static IN over the probed list ids)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


# ------------------------------------------------- semantic dedup (SemDeDup)


def test_semantic_dedup_crafted_groups(spark):
    """Three planted near-identical groups along different axes + two
    singletons: pairs form only within groups, keep-one keeps the min id
    of each group plus every singleton, and the pass is idempotent."""
    import numpy as np

    from enterprise_data_quality_platform_spark.dedup.semantic import (
        semantic_dedup,
        semantic_dup_pairs,
    )

    rng = np.random.default_rng(3)
    rows = []
    base = np.eye(8)
    # groups on axes 0,1,2: 3 members each, tiny noise -> cosine ~1
    for g in range(3):
        for m in range(3):
            v = base[g] + rng.normal(0, 0.01, 8)
            rows.append((g * 10 + m, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base[5]]))  # singleton
    rows.append((101, [float(x) for x in base[6]]))  # singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = semantic_dup_pairs(
        df, threshold=0.95, num_centroids=6, nprobe=2, sample_size=100
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {
        (a, b)
        for g in range(3)
        for a in (g * 10, g * 10 + 1, g * 10 + 2)
        for b in (g * 10, g * 10 + 1, g * 10 + 2)
        if a < b
    }
    assert got == expected  # all within-group pairs, nothing cross-group

    kept = semantic_dedup(
        df, threshold=0.95, num_centroids=6, nprobe=2, sample_size=100
    )
    ids = sorted(r.vec_id for r in kept.collect())
    assert ids == [0, 10, 20, 100, 101]  # min of each group + singletons

    again = semantic_dedup(
        kept, threshold=0.95, num_centroids=6, nprobe=2, sample_size=100
    )
    assert sorted(r.vec_id for r in again.collect()) == ids  # idempotent


def test_semantic_dedup_hot_cluster_guard(spark):
    """A cluster larger than max_cluster_size is excluded from pair
    generation (the MinHash max_bucket_size policy) instead of going
    quadratic."""
    import numpy as np

    from enterprise_data_quality_platform_spark.dedup.semantic import (
        semantic_dup_pairs,
    )

    rng = np.random.default_rng(4)
    rows = [
        (i, [float(x) for x in (np.eye(8)[0] + rng.normal(0, 0.01, 8))])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # every vector lands in one cluster of 20 > cap 10 -> no pairs emitted
    pairs = semantic_dup_pairs(
        df, threshold=0.95, num_centroids=1, nprobe=1,
        sample_size=100, max_cluster_size=10,
    )
    assert pairs.count() == 0
    # with the cap lifted the same cluster yields all C(20,2) pairs
    uncapped = semantic_dup_pairs(
        df, threshold=0.95, num_centroids=1, nprobe=1,
        sample_size=100, max_cluster_size=None,
    )
    assert uncapped.count() == 190


def test_semantic_dedup_greedy_policy(spark):
    """Greedy (SemDeDup's single-pass rule) drops every greater pair side;
    on clean groups it equals component resolution; it is idempotent."""
    import numpy as np

    from enterprise_data_quality_platform_spark.dedup.semantic import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    base = np.eye(8)
    rows = []
    for g in range(2):
        for m in range(3):
            v = base[g] + rng.normal(0, 0.01, 8)
            rows.append((g * 10 + m, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base[4]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semantic_dedup(
        df, threshold=0.95, num_centroids=4, nprobe=2,
        sample_size=100, policy="greedy",
    )
    ids = sorted(r.vec_id for r in kept.collect())
    assert ids == [0, 10, 100]
    again = semantic_dedup(
        kept, threshold=0.95, num_centroids=4, nprobe=2,
        sample_size=100, policy="greedy",
    )
    assert sorted(r.vec_id for r in again.collect()) == ids


def test_semantic_dedup_recall_vs_brute_force(spark):
    """VERDICT r6 item 7: recall pin on the real synthetic corpus. Ground
    truth = numpy all-pairs cosine at the benched threshold (0.40); the
    clustered pass must (a) return ONLY true pairs (precision 1.0 — every
    candidate is verified with the exact cosine), (b) reach recall >= 0.9
    at the benched settings (k = max(16, n/100), nprobe=3), and (c) be
    monotone in nprobe (each extra probe list only ADDS candidate
    co-clusterings)."""
    import numpy as np

    from enterprise_data_quality_platform_spark.dedup.semantic import (
        semantic_dup_pairs,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    iu = np.triu_indices(len(ids), k=1)
    hit = sims[iu] >= 0.40
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(iu[0][hit], iu[1][hit])
    }
    assert len(truth) >= 20  # the corpus has real pairs to find

    n = len(ids)
    k = max(16, min(4096, n // 100))
    recalls = {}
    for nprobe in (1, 2, 3):
        got = {
            (r.id_a, r.id_b)
            for r in semantic_dup_pairs(
                emb, threshold=0.40, num_centroids=k, nprobe=nprobe
            ).collect()
        }
        assert got <= truth  # precision 1.0: exact-cosine verification
        recalls[nprobe] = len(got & truth) / len(truth)
    assert recalls[1] <= recalls[2] <= recalls[3]
    assert recalls[3] >= 0.9  # the benched setting (dedup_semantic_docs)
    assert recalls[3] > recalls[1]  # multiprobe genuinely buys recall


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_packed_score_division_is_exact(spark, crafted_tables):
    """dedup_keep_best_quality packs ``score_e4 * 10^12 + (10^12 - doc_id)``
    into one BIGINT. For score 9999 and a small doc_id the packed value
    exceeds 2^53, where a float quotient rounds the kept score up to
    10000; the integer division must return it exactly."""
    # 200 tokens, one '.', 10,000 chars, no stopwords: score 0.9999
    text = " ".join(["a" * 49] * 200) + "."
    crafted_tables(tx, _docs(spark, [(1, text), (2, text)]))
    got = [
        (r.n_docs, r.kept_doc_id, r.kept_score_e4)
        for r in tx.dedup_keep_best_quality(spark, "unused").collect()
    ]
    assert got == [(2, 1, 9999)]


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


def test_label_centroid_cohesion_values(spark, crafted_tables):
    rows = [
        # label 0: identical vectors -> cohesion exactly 1
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0], 0),
        # label 1: orthogonal pair -> centroid [.5,.5,0], cos = 1/sqrt(2)
        (3, [1.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    crafted_tables(em, df)
    got = {r.label: r for r in em.embed_label_centroid(spark, "unused").collect()}
    assert got[0].n_vectors == 2
    assert got[0].avg_cohesion == pytest.approx(1.0, abs=1e-4)
    assert got[1].avg_cohesion == pytest.approx(1 / math.sqrt(2), abs=1e-4)
    assert got[1].min_cohesion == pytest.approx(1 / math.sqrt(2), abs=1e-4)


def test_label_centroid_broadcasts_centroids(spark):
    plan = plan_of(spark, "embed_label_centroid")
    assert "BroadcastHashJoin" in plan  # centroid frame is size-constant
    assert "NestedLoop" not in plan
