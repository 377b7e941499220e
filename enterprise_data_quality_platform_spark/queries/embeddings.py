"""Similarity-search queries over ``embeddings`` (SURVEY.md §2.6 X5-X6).

Brute-force cosine top-k is the verifiable baseline (DuckDB
``list_cosine_similarity`` oracle); the LSH-bucketed ANN variant is the scale
path (rows-only + recall-tested against brute force in tests/)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import vectors as V
from ..session import local_frame
from .registry import register

PROBE_IDS = (0, 1, 2)


def _centroid_cos_parts(emb: DataFrame) -> DataFrame:
    """Per-vector exact partials for cosine(member, own-label centroid):
    (vec_id, label, du, v2u, c2u), every sum that crosses a shuffle an
    exact BIGINT (components 1e-6 units, per-element products 1e-9 units)
    so distributed order can't drift the compare. Shared by
    embed_label_centroid (the per-label rollup) and
    embed_centroid_outliers (the per-member ranking).

    Executed shape (scan-audited): TWO column-pruned corpus scans — the
    centroid branch reads (embedding, label), the partials branch
    (vec_id, embedding, label); the differing pruning defeats exchange
    reuse, and that is the accepted trade (the centroid side ships only
    |labels| x dims rows into a broadcast; forcing one scan would need a
    checkpoint). The per-vector partials themselves are one pass."""
    ex = emb.select(
        "vec_id", "label", F.posexplode(V.to_double(F.col("embedding"))).alias("pos", "val")
    )
    q = ex.withColumn(
        "vu", F.floor(F.col("val") * F.lit(1000000) + F.lit(0.5)).cast("long")
    )
    cent = q.groupBy("label", "pos").agg(
        F.sum("vu").alias("cu"), F.count(F.lit(1)).alias("cn")
    )
    cval = F.col("cu").cast("double") / (F.col("cn").cast("double") * F.lit(1000000.0))
    return (
        q.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.floor(F.col("val") * cval * F.lit(1000000000) + F.lit(0.5)).cast("long")
            ).alias("du"),
            F.sum(
                F.floor(F.col("val") * F.col("val") * F.lit(1000000000) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("v2u"),
            F.sum(
                F.floor(cval * cval * F.lit(1000000000) + F.lit(0.5)).cast("long")
            ).alias("c2u"),
        )
    )


def _centroid_cos_col():
    """The one float step: a single division + sqrt in an identical IEEE
    tree on both engines, rounded to 6dp before any further aggregation."""
    return F.round(
        F.col("du").cast("double")
        / F.sqrt(F.col("v2u").cast("double") * F.col("c2u").cast("double")),
        6,
    )


@register(
    "embed_knn_bruteforce",
    oracle="""
    WITH probe AS (
      SELECT CAST(embedding AS DOUBLE[]) AS pvec FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pvec), 4) AS cosine_sim
    FROM embeddings e, probe p
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pvec) DESC, e.vec_id
    LIMIT 10
    """,
    tables=("embeddings",),
)
def embed_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: brute-force cosine top-10 against a fixed probe (vec_id=0). The
    probe is broadcast-cross-joined (1 row), similarity is Arrow-vectorized
    (numpy matrix op per batch), and the top-k is TakeOrderedAndProject —
    at scale this is partition-local top-k then a k-row merge, no global
    sort."""
    emb = table(spark, sf_dir, "embeddings")
    vec = V.to_double(F.col("embedding"))
    probe = emb.filter(F.col("vec_id") == 0).select(vec.alias("pvec"))
    sim = V.cosine_batch(vec, F.col("pvec"))
    return (
        emb.crossJoin(F.broadcast(probe))
        .select("vec_id", sim.alias("raw_sim"))
        .orderBy(F.col("raw_sim").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("raw_sim", 4).alias("cosine_sim"))
    )


@register(
    "embed_knn_batch",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
      FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in PROBE_IDS)})
    ),
    sims AS (
      SELECT p.probe_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pvec) AS raw_sim
      FROM embeddings e, probes p
      WHERE e.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, raw_sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY raw_sim DESC, vec_id) AS rk
      FROM sims
    )
    SELECT probe_id, vec_id, ROUND(raw_sim, 4) AS cosine_sim, CAST(rk AS BIGINT) AS sim_rank
    FROM ranked WHERE rk <= 5
    """,
    tables=("embeddings",),
)
def embed_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: kNN for a probe set (top-5 per probe, self excluded) — broadcast
    the probes, window row_number per probe. The general shape of
    batch-scoring a query set against a corpus."""
    emb = table(spark, sf_dir, "embeddings")
    vec = V.to_double(F.col("embedding"))
    probes = emb.filter(F.col("vec_id").isin(list(PROBE_IDS))).select(
        F.col("vec_id").alias("probe_id"), vec.alias("pvec")
    )
    sims = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id", V.cosine_batch(vec, F.col("pvec")).alias("raw_sim")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("raw_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "probe_id",
            "vec_id",
            F.round("raw_sim", 4).alias("cosine_sim"),
            F.col("rk").cast("bigint").alias("sim_rank"),
        )
    )


@register(
    "embed_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                             CAST(embedding AS DOUBLE[]))), 6)
                               AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    tables=("embeddings",),
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-profile DQ for embedding columns: per-label count + mean L2
    norm (per-row norms rounded before the order-independent decimal mean)."""
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings")
    vec = V.to_double(F.col("embedding"))
    per_row = F.round(V.norm(vec), 6)
    return (
        emb.select("label", per_row.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("norm").cast(T.DecimalType(18, 6))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_norm"),
        )
    )


@register(
    "embed_quantize_int8",
    oracle="""
    WITH ex AS (
      SELECT vec_id, u[2] AS dim, CAST(u[1] AS DOUBLE) AS v
      FROM (SELECT vec_id,
                   UNNEST(list_zip(embedding, range(1, len(embedding) + 1))) AS u
            FROM embeddings)
    ),
    stats AS (
      SELECT dim, MIN(v) AS mn, MAX(v) AS mx
      FROM ex GROUP BY dim HAVING MAX(v) > MIN(v)
    ),
    codes AS (
      SELECT e.dim, s.mn, s.mx,
             LEAST(255, GREATEST(0, CAST(FLOOR((e.v - s.mn) * (255.0 / (s.mx - s.mn))) AS BIGINT))) AS code
      FROM ex e JOIN stats s USING (dim)
    )
    SELECT dim,
           MIN(mn) AS dim_min,
           MIN(mx) AS dim_max,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           CAST(SUM(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN code = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(code) AS BIGINT) / COUNT(*) AS avg_code
    FROM codes
    GROUP BY dim
    ORDER BY dim
    """,
    tables=("embeddings",),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization calibration report: per-dimension range,
    code mass, and saturation counts (``similarity/quantize.py``). Every
    step is IEEE-exact (widen, subtract, one multiply, one divide, floor),
    so the DuckDB oracle reproduces the codes bit-for-bit — quantization
    here is an *auditable* transform, not a lossy black box.

    Plan: posexplode → one map-combined groupBy(dim) for stats → broadcast
    stats (n_dims rows, constant) back onto the exploded values → second
    groupBy(dim) for the report. Two narrow shuffles keyed by dim; no
    window, no Python."""
    from ..similarity.quantize import quantize_codes

    emb = table(spark, sf_dir, "embeddings")
    codes = quantize_codes(emb)
    return (
        codes.groupBy("dim")
        .agg(
            F.min("mn").alias("dim_min"),
            F.min("mx").alias("dim_max"),
            F.sum("code").alias("code_sum"),
            F.sum(F.when(F.col("code") == 0, 1).otherwise(0)).alias("n_low"),
            F.sum(F.when(F.col("code") == 255, 1).otherwise(0)).alias("n_high"),
            (F.sum("code") / F.count(F.lit(1))).alias("avg_code"),
        )
        .orderBy("dim")
    )


@register(
    "embed_knn_quantized",
    oracle=None,  # quantized ranking has no exact SQL twin; recall-tested
    tables=("embeddings",),
)
def embed_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 search path: ADC top-5 per probe over the int8-coded corpus
    (``similarity/quantize.py::quantized_knn_topk``) — the memory-bandwidth
    story of quantization made executable: probes stay float, the corpus
    moves as codes. Recall vs exact cosine is pinned in
    tests/test_corpus_ops.py."""
    from ..similarity.quantize import quantized_knn_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        V.to_double(F.col("embedding")).alias("pvec"),
    )
    out = quantized_knn_topk(emb, probes, k=5)
    return out.filter(F.col("probe_id") != F.col("vec_id")).select(
        "probe_id",
        "vec_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "sim_rank",
    )


@register(
    "embed_knn_rerank",
    oracle=None,  # stage-1 ADC ranking has no exact SQL twin; the exact
    # stage-2 scores and recall vs brute force are pytest-pinned
    tables=("embeddings",),
)
def embed_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 exact-rerank tier: two-stage search — int8-ADC shortlist (cheap,
    full-coverage) → full-precision cosine re-rank of the shortlist only
    (``similarity/quantize.py::quantized_rerank_topk`` +
    ``similarity/knn.py::exact_rerank``). The exact-compute budget per
    probe is the shortlist size, independent of corpus scale; recall
    ≥0.95 vs brute force and stage-2 score exactness are pinned in
    tests/test_corpus_ops.py."""
    from ..similarity.quantize import quantized_rerank_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        V.to_double(F.col("embedding")).alias("pvec"),
    )
    out = quantized_rerank_topk(emb, probes, k=5, shortlist=50)
    return out.filter(F.col("probe_id") != F.col("vec_id")).select(
        "probe_id",
        "vec_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "sim_rank",
    )


@register(
    "embed_label_centroid",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, u[2] AS dim, CAST(u[1] AS DOUBLE) AS v
      FROM (SELECT vec_id, label,
                   UNNEST(list_zip(embedding, range(1, len(embedding) + 1))) AS u
            FROM embeddings)
    ),
    q AS (
      SELECT vec_id, label, dim, v,
             CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) AS vu
      FROM ex
    ),
    cent AS (
      SELECT label, dim, SUM(vu) AS cu, COUNT(*) AS cn
      FROM q GROUP BY label, dim
    ),
    parts AS (
      SELECT q.vec_id, q.label,
             SUM(CAST(FLOOR(q.v * (CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * 1000000000 + 0.5) AS BIGINT)) AS du,
             SUM(CAST(FLOOR(q.v * q.v * 1000000000 + 0.5) AS BIGINT)) AS v2u,
             SUM(CAST(FLOOR((CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * (CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * 1000000000 + 0.5) AS BIGINT)) AS c2u
      FROM q JOIN cent c USING (label, dim)
      GROUP BY q.vec_id, q.label
    ),
    coh AS (
      SELECT label,
             ROUND(CAST(du AS DOUBLE) / sqrt(CAST(v2u AS DOUBLE) * CAST(c2u AS DOUBLE)), 6) AS cos
      FROM parts
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_cohesion,
           MIN(cos) AS min_cohesion
    FROM coh
    GROUP BY label
    ORDER BY label
    """,
    tables=("embeddings",),
)
def embed_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion: mean and worst cosine of members to
    their label centroid — the cluster-quality audit for an embedding
    column (how tight is each labeled group?), and the distributed
    vector-mean primitive IVF training needs at full-corpus scale
    (``similarity/ivf.py`` trains on a bounded sample; this is the
    all-data path).

    Float discipline: a naive ``avg(component)`` is partition-order
    dependent (double addition isn't associative), so every sum that
    crosses a shuffle is an exact BIGINT — components quantize to 1e-6
    units for the centroid, per-element products to 1e-9 units for the
    dot/norm partials — and the only float ops are per-element quantized
    multiplies plus one division + sqrt in an identical IEEE tree on both
    engines. Per-vector cosines round to 6dp before the decimal mean
    (embed_norm_stats precedent).

    Plan: ONE posexplode feeds both the centroid aggregate and the
    per-vector partials; centroids (|labels| x 64 rows, size-constant)
    broadcast back onto the exploded view; everything else is mergeable
    map-side-combined groupBys — no window, no driver state, no Python."""
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings")
    parts = _centroid_cos_parts(emb)
    cos = _centroid_cos_col()
    return (
        parts.select("label", cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("cos").cast(T.DecimalType(18, 6))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_cohesion"),
            F.min("cos").alias("min_cohesion"),
        )
        .orderBy("label")
    )


@register(
    "embed_knn_pq",
    oracle=None,  # PQ ranking is approximate by design; recall-tested
    tables=("embeddings",),
)
def embed_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 (product quantization): ADC top-5 per probe over m=8-byte PQ
    codes (``similarity/pq.py``) — 32× smaller corpus representation than
    float32, scored via per-probe (m × k) lookup tables instead of float
    reconstruction. Recall vs exact cosine pinned in tests/test_pq.py."""
    from ..similarity.pq import pq_adc_topk, train_pq_codebooks

    emb = table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=8, k=64, sample_size=2000)
    probes = emb.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        V.to_double(F.col("embedding")).alias("pvec"),
    )
    out = pq_adc_topk(emb, probes, books, k=5)
    return out.filter(F.col("probe_id") != F.col("vec_id")).select(
        "probe_id",
        "vec_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "sim_rank",
    )


@register(
    "embed_decontaminate",
    oracle="""
    WITH bench AS (
      SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bvec
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id % 101 <> 0
    )
    SELECT c.vec_id AS corpus_id, b.bench_id,
           ROUND(list_cosine_similarity(c.cvec, b.bvec), 4) AS cosine_sim
    FROM corpus c, bench b
    WHERE list_cosine_similarity(c.cvec, b.bvec) >= 0.30
    ORDER BY corpus_id, bench_id
    """,
    tables=("embeddings",),
)
def embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: corpus vectors semantically close
    to a held-out benchmark slice (vec_id % 101 == 0, the same eval-split
    convention as ``training_decontaminate``) — the SEMANTIC leakage
    sweep that catches paraphrased eval items the n-gram sweep misses.

    Scale posture mirrors n-gram decontamination: the bench side is an
    eval suite — small by nature at ANY corpus scale — so its vectors
    ship to every task as ONE numpy matrix inside a mapInPandas closure,
    and the corpus flows through ONCE: each Arrow batch computes a
    (batch × bench) matrix product and emits only the ≥τ pairs. The
    all-pairs cross join is deliberately avoided — materializing
    |corpus|·|bench| pair ROWS (each carrying both vectors) before the
    filter is a 400 GB explosion at sf10; the matrix form moves each
    side exactly once. No LSH needed: exactness matters for a release
    gate. τ=0.30 sits in the corpus's contamination tail (max cross-pair
    cosine 0.44 on the synthetic near-orthogonal vectors)."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    bench_rows = (
        emb.filter(F.col("vec_id") % 101 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    bench_ids = np.array([r.vec_id for r in bench_rows], dtype=np.int64)
    bench_mat = np.array([r.embedding for r in bench_rows], dtype=np.float64)
    bench_norm = np.linalg.norm(bench_mat, axis=1)

    def flag_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = (mat @ bench_mat.T) / (
                np.linalg.norm(mat, axis=1)[:, None] * bench_norm[None, :]
            )
            ci, bi = np.nonzero(sims >= 0.30)
            yield pd.DataFrame(
                {
                    "corpus_id": ids[ci],
                    "bench_id": bench_ids[bi],
                    "raw_sim": sims[ci, bi],
                }
            )

    corpus = emb.filter(F.col("vec_id") % 101 != 0).select("vec_id", "embedding")
    return (
        corpus.mapInPandas(
            flag_batches, schema="corpus_id long, bench_id long, raw_sim double"
        )
        .select(
            "corpus_id", "bench_id", F.round("raw_sim", 4).alias("cosine_sim")
        )
        .orderBy("corpus_id", "bench_id")
    )


@register(
    "embed_pca_variance",
    oracle=None,  # eigendecomposition has no SQL twin — rows-only; the
    # model's layout-independence, orthonormality, variance ordering and
    # reconstruction behavior are pinned in tests/test_pca.py
    tables=("embeddings",),
)
def embed_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA fit over the embedding corpus (similarity/pca.py):
    exact-integer moment sums → driver-side d×d eigh → per-component
    explained-variance report, plus a projection sanity column (mean |c1|
    of the projected corpus — nonzero iff the projection really ran).
    The fit is bit-deterministic under any partitioning, so the rows-only
    driver check is stable across rounds."""
    from ..similarity.pca import fit_pca, project_pca

    emb = table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=8)
    proj = project_pca(emb, model)
    mean_abs_c1 = proj.agg(
        F.round(F.avg(F.abs(F.element_at("pca", 1))), 6)
    ).collect()[0][0]
    rows = [
        (
            i + 1,
            round(float(model["explained_variance"][i]), 9),
            round(float(model["explained_ratio"][i]), 9),
            int(model["n"]),
            float(mean_abs_c1),
        )
        for i in range(len(model["explained_variance"]))
    ]
    return local_frame(
        spark,
        rows,
        "component int, explained_variance double, explained_ratio double,"
        " n_vectors int, mean_abs_c1 double",
    ).orderBy("component")


@register(
    "embed_centroid_outliers",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, u[2] AS dim, CAST(u[1] AS DOUBLE) AS v
      FROM (SELECT vec_id, label,
                   UNNEST(list_zip(embedding, range(1, len(embedding) + 1))) AS u
            FROM embeddings)
    ),
    q AS (
      SELECT vec_id, label, dim, v,
             CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) AS vu
      FROM ex
    ),
    cent AS (
      SELECT label, dim, SUM(vu) AS cu, COUNT(*) AS cn
      FROM q GROUP BY label, dim
    ),
    parts AS (
      SELECT q.vec_id, q.label,
             SUM(CAST(FLOOR(q.v * (CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * 1000000000 + 0.5) AS BIGINT)) AS du,
             SUM(CAST(FLOOR(q.v * q.v * 1000000000 + 0.5) AS BIGINT)) AS v2u,
             SUM(CAST(FLOOR((CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * (CAST(c.cu AS DOUBLE) / (CAST(c.cn AS DOUBLE) * 1000000.0))
                            * 1000000000 + 0.5) AS BIGINT)) AS c2u
      FROM q JOIN cent c USING (label, dim)
      GROUP BY q.vec_id, q.label
    ),
    coh AS (
      SELECT vec_id, label,
             ROUND(CAST(du AS DOUBLE) / sqrt(CAST(v2u AS DOUBLE) * CAST(c2u AS DOUBLE)), 6) AS cos
      FROM parts
    ),
    ranked AS (
      SELECT label, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos ASC, vec_id) AS rk
      FROM coh
    )
    SELECT label, vec_id, cos AS centroid_cos, CAST(rk AS BIGINT) AS outlier_rank
    FROM ranked WHERE rk <= 5
    """,
    tables=("embeddings",),
)
def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filtering: the 5 members FARTHEST from
    their own label centroid (lowest cosine), per label — the mislabel /
    contamination shortlist a curation pass reviews or drops before
    training. Same exact-integer partials as embed_label_centroid
    (shared helper), then a per-label bottom-5.

    Scale shape: the ranking input is ONE ROW PER VECTOR (the per-vector
    partial aggregate), not per component; the rk <= 5 filter over
    row_number lets Spark plan a WindowGroupLimit (partition-local top-k
    before the window shuffle), so no label's full membership is ever
    sorted in one task's memory."""
    emb = table(spark, sf_dir, "embeddings")
    parts = _centroid_cos_parts(emb)
    coh = parts.select("vec_id", "label", _centroid_cos_col().alias("cos"))
    w = Window.partitionBy("label").orderBy(F.col("cos").asc(), F.col("vec_id"))
    return (
        coh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "label",
            "vec_id",
            F.col("cos").alias("centroid_cos"),
            F.col("rk").cast("bigint").alias("outlier_rank"),
        )
    )


@register(
    "embed_label_confusion",
    oracle="""
    WITH ex AS (
      SELECT label, u[2] AS dim, CAST(u[1] AS DOUBLE) AS v
      FROM (SELECT label,
                   UNNEST(list_zip(embedding, range(1, len(embedding) + 1))) AS u
            FROM embeddings)
    ),
    q AS (
      SELECT label, dim, CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) AS vu
      FROM ex
    ),
    cent AS (
      SELECT label, dim, CAST(SUM(vu) AS DECIMAL(19,0)) AS cu
      FROM q GROUP BY label, dim
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, SUM(a.cu * b.cu) AS dot_uu
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    ),
    norms AS (
      SELECT label, SUM(cu * cu) AS n2 FROM cent GROUP BY label
    )
    SELECT d.label_a, d.label_b,
           ROUND(CAST(d.dot_uu AS DOUBLE)
                 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS centroid_cos
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """,
    tables=("embeddings",),
)
def embed_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-taxonomy confusion audit: pairwise cosine between LABEL
    CENTROIDS — two labels whose centroids nearly coincide are candidates
    for merging (or a labeling bug); near-orthogonal pairs are safely
    separable. The pair a data curator reads before stratified sampling
    by label.

    Exactness: cosine(centroid_a, centroid_b) is independent of member
    counts (the 1/n factors cancel), so the whole computation runs on the
    per-label component SUMS in 1e-6 integer units: dot and squared norms
    are exact DECIMAL(19,0)x(19,0) -> DECIMAL(38,0) sums (the
    dq_correlation hugeint precedent), and the single float step is one
    division + sqrt on correctly-rounded decimal->double casts, rounded to
    6dp.

    Scale shape: one posexplode scan collapses to the |labels| x dims
    centroid frame (size-constant regardless of corpus rows). The
    centroid frame feeds the pair join ONCE, including the DIAGONAL
    (label_a <= label_b): the (x, x) rows ARE the squared norms, so the
    norms come from two windows over the tiny pair frame instead of a
    third consumer of the centroid subtree — a separate norms aggregate
    prunes different columns, which defeats exchange reuse and re-runs
    the corpus posexplode (the mart_nation_pareto lesson); the self-join
    sides prune identically and share one ReusedExchange
    (plan-asserted)."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(V.to_double(F.col("embedding"))).alias("pos", "val")
    )
    q = ex.select(
        "label",
        "pos",
        F.floor(F.col("val") * F.lit(1000000) + F.lit(0.5)).cast("long").alias("vu"),
    )
    cent = q.groupBy("label", "pos").agg(
        F.sum("vu").cast("decimal(19,0)").alias("cu")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("cu").alias("cu_a")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("cu").alias("cu_b")
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("cu_a") * F.col("cu_b")).alias("dot_uu"))
    )
    diag = F.max(
        F.when(F.col("label_a") == F.col("label_b"), F.col("dot_uu"))
    )
    pairs = pairs.withColumn(
        "n2_a", diag.over(Window.partitionBy("label_a"))
    ).withColumn("n2_b", diag.over(Window.partitionBy("label_b")))
    cos = F.round(
        F.col("dot_uu").cast("double")
        / F.sqrt(F.col("n2_a").cast("double") * F.col("n2_b").cast("double")),
        6,
    )
    return (
        pairs.filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.alias("centroid_cos"))
        .orderBy("label_a", "label_b")
    )


@register(
    "embed_exact_dup_vectors",
    oracle="""
    WITH fp AS (
      SELECT vec_id,
             array_to_string(list_transform(embedding,
                 x -> CASE
                        WHEN x IS NULL THEN 'null'
                        WHEN isnan(CAST(x AS DOUBLE)) THEN 'nan'
                        WHEN isinf(CAST(x AS DOUBLE)) THEN
                          CASE WHEN x > 0 THEN 'inf' ELSE '-inf' END
                        ELSE CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT) AS VARCHAR)
                      END), ',') AS vec_fp
      FROM embeddings
    ),
    grp AS (
      SELECT vec_fp, COUNT(*) AS n
      FROM fp GROUP BY vec_fp HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_dup_vectors,
           CAST(COALESCE(MAX(n), 0) AS BIGINT) AS largest_group
    FROM grp
    """,
    tables=("embeddings",),
)
def embed_exact_dup_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: exact duplicate vectors (component-identical at
    1e-6 quantization) — repeated rows from encoder retries or join
    fan-out poison ANN recall measurement and waste index space; this is
    the dedup-before-index audit (the vector-store analogue of
    dedup_exact_docs). The synthetic corpus has zero exact dups, so the
    oracle checks exact zeros (text_pii_scan precedent); crafted tests in
    tests/test_round10_ops.py carry the detection semantics.

    Exactness: per-component 1e-6 quantization to BIGINT then a joined
    string fingerprint — integer-to-string is engine-identical, float
    array equality is not (NaN/-0.0); grouping on the bounded-width
    fingerprint string. Non-finite and NULL components map to sentinel
    tokens ('nan'/'inf'/'-inf'/'null') in BOTH engines (r11, ADVICE r10):
    floor(NaN*1e6+0.5) CAST AS BIGINT would THROW under ANSI (and error
    in DuckDB), and concat_ws/array_to_string silently drop NULL
    elements — a corpus with such components now fingerprints them
    instead of failing or aliasing. Finite magnitudes beyond
    BIGINT/1e6 (~9.2e12) remain out of contract (loud ANSI failure).

    Scale shape: one scan, one groupBy on the fingerprint (map-side
    partial), 1-row summary output. At index scale the same fingerprint
    feeds a keep-first anti-join (dedup_exact_docs mechanism)."""
    emb = table(spark, sf_dir, "embeddings")

    def _tok(x):
        # CASE branches evaluate lazily per row, so the quantizing cast
        # never sees a non-finite value (ANSI-safe by construction).
        return (
            F.when(x.isNull(), F.lit("null"))
            .when(F.isnan(x), F.lit("nan"))
            .when(x == F.lit(float("inf")), F.lit("inf"))
            .when(x == F.lit(float("-inf")), F.lit("-inf"))
            .otherwise(
                F.floor(x * F.lit(1000000) + F.lit(0.5))
                .cast("long")
                .cast("string")
            )
        )

    fp = F.concat_ws(",", F.transform(V.to_double(F.col("embedding")), _tok))
    grp = (
        emb.select(fp.alias("vec_fp"))
        .groupBy("vec_fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_dup_vectors"),
        F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("largest_group"),
    )
