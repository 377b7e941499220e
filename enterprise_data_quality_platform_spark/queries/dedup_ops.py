"""Dedup + similarity extension queries (SURVEY.md §2.6 X4-X6).

``dedup_ngram_jaccard`` is exact and SQL-expressible → full oracle.
MinHash/SimHash/LSH involve engine-specific hash functions (xxhash64), so
they get rows-only driver checks — their correctness is covered by
tests/test_dedup_similarity.py (recall vs the exact operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import footer, table
from ..dedup import (
    keep_one_per_cluster,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..similarity import lsh_ann_topk, near_dup_embeddings
from .registry import register

JACCARD_THRESHOLD = 0.08  # synthetic docs share vocabulary, not phrases —
# a low bar keeps the result non-trivially sized at test scale


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
      FROM docs
      WHERE len(toks) >= 3
    ),
    ex AS (SELECT doc_id, len(grams) AS sz, UNNEST(grams) AS gram FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS common,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(common * 1.0 / (sz_a + sz_b - common), 4) AS jaccard
    FROM pairs
    WHERE ROUND(common * 1.0 / (sz_a + sz_b - common), 4) >= {JACCARD_THRESHOLD}
    """,
    tables=("documents",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 exact form: 3-gram shingle Jaccard pairs ≥ threshold via
    explode + shingle self-join + pair aggregation (dedup/jaccard.py)."""
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, n=3
    )


@register(
    "dedup_minhash_docs",
    oracle=None,  # xxhash64 signatures are engine-specific → rows-only
    tables=("documents",),
)
def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: MinHash-LSH near-dup pairs (shingle → 32-perm minhash → 8×4
    banding → bucket join → exact-Jaccard verify). Rows-only driver check;
    recall vs the exact operator is asserted in tests."""
    docs = table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, threshold=JACCARD_THRESHOLD).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_minhash_keep",
    oracle=None,  # engine-specific hashing feeds the pair graph → rows-only
    tables=("documents",),
)
def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 end-to-end: MinHash-LSH pairs → connected components (iterative
    min-label propagation, dedup/clusters.py) → keep one doc per near-dup
    cluster. Survivor count + token mass — the number a curation pipeline
    actually acts on. Idempotence (dedup∘dedup == dedup) is test-asserted."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=JACCARD_THRESHOLD)
    kept = keep_one_per_cluster(docs, pairs)
    return kept.agg(
        F.count(F.lit(1)).alias("surviving_docs"),
        F.sum(F.length("text")).alias("surviving_chars"),
    )


@register(
    "dedup_winnow_keep",
    oracle=None,  # CC resolution is iterative → rows-only; the PAIR graph
    # feeding it is oracle-backed (dedup_winnow_pairs)
    tables=("documents",),
)
def dedup_winnow_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 end-to-end: winnowing fingerprint pairs → connected components
    (min-label propagation, dedup/clusters.py) → keep one doc per cluster.
    The guaranteed-detection companion to dedup_minhash_keep: winnowing
    catches every shared run >= w+k-1 tokens, MinHash catches high overall
    Jaccard — a curation pipeline runs both families."""
    from ..plans.training_data import winnow_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = winnow_pairs(docs, k=5, w=4, min_shared=2)
    kept = keep_one_per_cluster(docs, pairs)
    return kept.agg(
        F.count(F.lit(1)).alias("surviving_docs"),
        F.sum(F.length("text")).alias("surviving_chars"),
    )


@register(
    "dedup_simhash_docs",
    oracle=None,  # engine-specific hashing → rows-only
    tables=("documents",),
)
def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: 64-bit SimHash pairs within Hamming distance 3 (pigeonhole
    16-bit band join)."""
    docs = table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


@register(
    "embed_dedup_near",
    oracle=None,  # seeded-LSH bucketing → rows-only
    tables=("embeddings",),
)
def embed_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5: embedding-cosine near-dup pairs within LSH buckets."""
    # synthetic embeddings are near-orthogonal (max pairwise cosine ~0.51),
    # so the "near-dup" bar is set low enough to exercise the operator
    emb = table(spark, sf_dir, "embeddings")
    return near_dup_embeddings(emb, threshold=0.35).orderBy("id_a", "id_b")


@register(
    "dedup_semantic_docs",
    oracle=None,  # seeded k-means clustering → rows-only; semantics pinned
    # on crafted vectors in tests/test_dedup_similarity.py
    tables=("embeddings",),
)
def dedup_semantic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 semantic tier (SemDeDup, arXiv:2303.09540): k-means-cluster the
    embedding space, find cosine near-dup pairs WITHIN clusters only,
    keep the min-id member of each dup group (``dedup/semantic.py``).
    Output: one summary row (corpus size, dup pairs, dropped, kept) —
    deterministic under the seeded quantizer. Same low threshold as
    ``embed_dedup_near`` (synthetic vectors are near-orthogonal) so the
    operator has real pairs to resolve at every SF."""
    from ..dedup.semantic import greedy_drop

    emb = table(spark, sf_dir, "embeddings")
    # checkpointed: reused by the count AND the keep pass
    pairs = semantic_pairs(emb, sf_dir).localCheckpoint(eager=True)
    kept = greedy_drop(emb, pairs, id_col="vec_id")
    n_all = emb.agg(F.count(F.lit(1)).alias("n")).withColumn("k", F.lit(1))
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("p")).withColumn("k", F.lit(1))
    n_kept = kept.agg(F.count(F.lit(1)).alias("s")).withColumn("k", F.lit(1))
    return (
        n_all.join(n_pairs, "k")
        .join(n_kept, "k")
        .select(
            F.col("n").alias("n_vectors"),
            F.col("p").alias("n_dup_pairs"),
            (F.col("n") - F.col("s")).alias("n_dropped"),
            F.col("s").alias("n_kept"),
        )
    )


def semantic_pairs(emb: DataFrame, sf_dir: str) -> DataFrame:
    """dedup_semantic_docs' candidate dup pairs over ``emb`` (the table of
    ``sf_dir``), before the query checkpoints them."""
    from ..dedup.semantic import semantic_dup_pairs

    # SemDeDup sizing: cluster count scales with the corpus (k ≈ n/100,
    # the paper's many-small-clusters regime) so within-cluster pair
    # blow-up stays ~O(n·cluster_size). A fixed small k made clusters
    # thousands wide — 21 s at sf0.1 on the first bench run (ledger).
    # The keep policy here is the paper's GREEDY single-pass rule; the
    # exact component resolver (policy="components") pays a multi-job
    # label-propagation iteration per graph-diameter hop — right for the
    # curation funnel, wrong for a per-round benched query.
    # k-sizing count from parquet footers (metadata only — identical to
    # count() on these tables; the packed_map_worthwhile precedent), with
    # the full count as fallback for non-parquet inputs: saves one whole
    # Spark job per run (r11, guide §1.2 "don't compute things twice").
    n = footer(sf_dir, "embeddings").rows or emb.count()
    k = max(16, min(4096, n // 100))
    # nprobe=3: measured against numpy brute force on the sf0.001 corpus
    # (tests/test_dedup_similarity.py::test_semantic_dedup_recall_vs_brute_force)
    # — recall 0.35 / 0.77 / 0.94 at nprobe 1/2/3, precision 1.0 at all
    # settings (candidates are verified with the exact cosine).
    # The +1 nprobe costs ~30% on the pair stage (3.4→4.4 s sf0.1) for
    # +17 points of recall on this near-orthogonal synthetic regime.
    return semantic_dup_pairs(emb, threshold=0.40, num_centroids=k, nprobe=3)


@register(
    "embed_ann_lsh",
    oracle=None,  # approximate by construction → rows-only
    tables=("embeddings",),
)
def embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X6 scale path: hyperplane-LSH ANN top-5 for 3 probes (multiprobe
    Hamming-1). Recall vs brute force asserted in tests."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    out = lsh_ann_topk(emb, probes, k=5)
    return out.select(
        "probe_id",
        "vec_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        F.col("sim_rank").cast("bigint").alias("sim_rank"),
    ).orderBy("probe_id", "sim_rank")


@register(
    "embed_ann_ivf",
    oracle=None,  # approximate by construction → rows-only
    tables=("embeddings",),
)
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 alternate scale path: IVF (k-means coarse quantizer) ANN top-5
    for 3 probes — data-adaptive inverted lists where LSH uses random
    hyperplanes. Recall vs brute force asserted in tests."""
    from ..similarity.ivf import ivf_ann_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    out = ivf_ann_topk(emb, probes, k=5, num_centroids=32, nprobe=8)
    return out.select(
        "probe_id",
        "vec_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        F.col("sim_rank").cast("bigint").alias("sim_rank"),
    ).orderBy("probe_id", "sim_rank")


@register(
    "dedup_containment",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
      FROM docs
      WHERE len(toks) >= 3
    ),
    ex AS (SELECT doc_id, len(grams) AS sz, UNNEST(grams) AS gram FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS common,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(common * 1.0 / LEAST(sz_a, sz_b), 4) AS containment
    FROM pairs
    WHERE ROUND(common * 1.0 / LEAST(sz_a, sz_b), 4) >= 0.2
    """,
    tables=("documents",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 asymmetric form: shingle CONTAINMENT pairs — |A∩B| over the
    smaller shingle set, the subset/superset detector that catches a
    fragment quoted whole inside a longer doc where Jaccard stays low
    (union dominated by the superset). Training-data dedup drops the
    contained side, keeps the superset (dedup/jaccard.py
    containment_pairs)."""
    from ..dedup.jaccard import containment_pairs

    docs = table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.2, n=3)


@register(
    "dedup_incremental_exact",
    # Incremental ingestion, exact tier: shard = every doc with
    # doc_id % 7 == 3, corpus = the rest. A shard doc is an exact dup iff
    # its normalized fingerprint is already in the corpus state.
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             doc_id % 7 = 3 AS in_shard
      FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE NOT in_shard)
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_shard_docs,
           CAST(SUM(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dups,
           CAST(SUM(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM fp s LEFT JOIN corpus c ON s.fp = c.fp
    WHERE s.in_shard
    GROUP BY s.lang ORDER BY s.lang
    """,
    tables=("documents",),
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, exact tier (dedup/incremental.py): an incoming
    shard is checked against the PERSISTED corpus fingerprint state — the
    corpus text is never re-read at ingest time. Here the state is built
    in-plan from the corpus slice (the driver's tables are the only
    storage); ``write_dedup_state``/``read_dedup_state`` persist it in a
    real pipeline (round-trip pinned in tests/test_incremental_dedup.py).

    Plan: state = one fingerprint groupBy over the corpus; the shard
    LEFT-joins it on the 16-byte fingerprint (AQE picks broadcast while
    the state is small; the join stays an equi shuffle join when the
    corpus outgrows it) and collapses to a per-lang ingest report."""
    from ..dedup.incremental import build_dedup_state
    from ..functions.text import fingerprint

    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    state_fp = build_dedup_state(corpus, parts=("fingerprints",))[
        "fingerprints"
    ].select(
        "fp", F.lit(1).alias("__hit")
    )
    flagged = shard.select(
        "lang", fingerprint(F.col("text")).alias("fp")
    ).join(state_fp, on="fp", how="left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_shard_docs"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0)).alias(
                "n_exact_dups"
            ),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .orderBy("lang")
    )


@register(
    "dedup_incremental_shard",
    oracle=None,  # the near tier decides on MinHash signature agreement
    # (engine-specific xxhash64 stream) → rows-only; semantics pinned in
    # tests/test_incremental_dedup.py (exact/near/kept on crafted shards,
    # state round-trip, idempotent re-ingest)
    tables=("documents",),
)
def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, both tiers (dedup/incremental.py): the shard
    (doc_id % 7 == 3) is deduped against the corpus state — exact
    fingerprint anti-join, then MinHash band-bucket join + signature-
    agreement verify (threshold 0.5). Output: ingest summary by outcome
    (kept / exact_dup / near_dup). The corpus text is never re-read; the
    state is fingerprints + signatures only."""
    from ..dedup.incremental import build_dedup_state, incremental_dedup

    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    state = build_dedup_state(corpus)
    # Materialize the state ONCE — the in-process stand-in for the real
    # flow's persisted state (write_dedup_state → read_dedup_state).
    # Without it, every downstream consumer of the in-plan state frames
    # re-derived fingerprints AND signatures from the raw corpus text
    # (the executed plan scanned documents ~11× — r5 scan-count audit);
    # the whole point of the state is that ingest never re-reads the
    # corpus. localCheckpoint keeps the query self-contained (no managed
    # path); a production pipeline uses the parquet round-trip instead.
    state = {k: df.localCheckpoint(eager=True) for k, df in state.items()}
    kept, report = incremental_dedup(shard, state, threshold=0.5)
    summary = report.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    kept_row = kept.agg(
        F.lit("kept").alias("reason"), F.count(F.lit(1)).alias("n_docs")
    )
    return summary.unionByName(kept_row).orderBy("reason")


@register(
    "dedup_span_memorization",
    oracle="""
    WITH spans AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 32) AS span
      FROM (SELECT doc_id, text,
                   UNNEST(range(1, GREATEST(length(text) - 31, 0) + 1, 8)) AS i
            FROM documents WHERE length(text) >= 32)
    ),
    per_doc AS (
      SELECT span, doc_id, COUNT(*) AS occ FROM spans GROUP BY span, doc_id
    ),
    agg AS (
      SELECT span, COUNT(*) AS n_docs, SUM(occ) AS n_occurrences
      FROM per_doc GROUP BY span
    )
    SELECT span, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM agg WHERE n_docs > 1
    ORDER BY n_occurrences DESC, n_docs DESC, span
    LIMIT 20
    """,
    tables=("documents",),
)
def dedup_span_memorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span audit — the exact-substring dedup
    shape from the training-data dedup literature (find verbatim spans
    repeated across documents; the memorization risk a suffix-array dedup
    removes). Spans are fixed-width 32-char windows sampled at stride 8,
    so the exploded row count is n_chars/8 (bounded, not quadratic).
    Detection is NOT exhaustive (ADVICE r10): a duplicated region is
    detected only when its two copies start at equal offsets mod 8 —
    probability ~1/8 per copy pair at the minimum detectable length
    L = 39, rising with L (each extra 8 shared chars adds another
    aligned-window opportunity). For the drop-in audit that recall trade
    (8x cheaper than stride 1, deterministic) is the point; a production
    sweep tightens the stride, not the mechanism — do not read the
    result as an exhaustive memorization inventory.

    Cross-doc only: a span repeated within ONE document is self-repetition
    (text_repetition_stats' business); the n_docs > 1 filter keeps spans
    seen in at least two documents.

    Scale shape: the span string is a constant 32 bytes, so the shuffle
    key is bounded; doc-level counts pre-aggregate map-side before the
    per-span rollup (two-level aggregate — count(distinct doc_id) via
    Expand never appears, plan-asserted in tests); the top-20 is
    TakeOrderedAndProject (partition-local heads + a 20-row merge), never
    a global sort. The repartition before the explode is the
    minhash/winnowing scan-stage lesson (text.py:755): the documents
    scan gets ~15 splits at sf10, throttling the expensive
    explode+substring stage to half the cores — A/B ledger (PERF.md
    r10): 7.82 s (rr64) / 7.18 s (no repartition) vs 5.35 s by-key,
    wins 4/4 rounds; a hash-prefilter
    variant (xxhash64 spans, survivor semi-join back) measured a TIE and
    was rejected (the second explode pass costs what the narrower
    shuffle saves; PERF.md r10)."""
    spark_par = spark.sparkContext.defaultParallelism
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 32)
        .repartition(spark_par, "doc_id")
    )
    spans = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(31), F.lit(8))
        ).alias("pos"),
    ).select("doc_id", F.expr("substring(text, pos, 32)").alias("span"))
    per_doc = spans.groupBy("span", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    agg = per_doc.groupBy("span").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("occ").alias("n_occurrences"),
    )
    return (
        agg.filter(F.col("n_docs") > 1)
        .orderBy(F.col("n_occurrences").desc(), F.col("n_docs").desc(), "span")
        .limit(20)
    )
