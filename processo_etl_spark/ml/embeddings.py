"""Embedding-column utilities: L2-normalize, symmetric int8 quantization,
and cosine over quantized vectors.

At 100 TB an embedding store's cost is dominated by vector bytes:
float32→int8 symmetric quantization cuts storage and shuffle volume 4×
(8× vs double) while keeping cosine rankings nearly intact (recall@5
asserted ≥0.8 in tests/test_ml.py; in practice ~1.0 on unit-scale
vectors).  Everything here is native array expressions — map-side, JVM
whole-stage-codegen, no UDF — so quantization adds no Python cost to
ingest and the quantized table remains joinable/scannable like any other.

Layout contract: a quantized embedding is the column pair
``(q: array<tinyint>, q_scale: double)`` with ``x ≈ q * q_scale``,
``q ∈ [-127, 127]`` (symmetric: no zero-point term, so dot products
need no correction factor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.similarity import _topk_per_query, cosine


def l2_normalize(vec: Column) -> Column:
    """vec / ||vec||₂ (zero vectors pass through unchanged)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return F.when(norm == 0.0, F.transform(vec, lambda x: x.cast("double"))).otherwise(
        F.transform(vec, lambda x: x.cast("double") / norm)
    )


def quantize_scale(vec: Column) -> Column:
    """Per-vector symmetric scale: max|x| / 127 (0 for the zero vector)."""
    return (
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with the quantized pair (q, q_scale).

    round-half-away-from-zero on |x/scale| ≤ 127 guarantees the tinyint
    cast never overflows.
    """
    scale = quantize_scale(F.col(vec_col))
    q = F.when(scale == 0.0, F.transform(F.col(vec_col), lambda x: x.cast("tinyint")
    )).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / scale).cast("tinyint"),
        )
    )
    return df.withColumn("q_scale", scale).withColumn("q", q).drop(vec_col)


def dequantize(q: Column, scale: Column) -> Column:
    """array<double> reconstruction: q * scale (error ≤ scale/2 per dim)."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def cosine_quantized(q1: Column, q2: Column) -> Column:
    """Cosine directly on the int8 codes.  Cosine is scale-invariant, so
    the per-vector scales cancel — no dequantize pass, and the dot
    product runs over ints."""
    return cosine(q1, q2)


def brute_force_topk_quantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k over the QUANTIZED store — same shape as
    similarity.brute_force_topk but scanning array<tinyint> codes (4-8×
    less I/O and shuffle than the float store it replaces)."""
    q = queries_q.select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    scored = (
        corpus_q.select(F.col(id_col).alias("neighbor_id"), F.col("q").alias("cq"))
        .join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_quantized(F.col("cq"), F.col("qq")))
    )
    return _topk_per_query(scored, "cos", k).select(
        "query_id", "neighbor_id", "cos", "rank"
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
):
    """(projected_df, explained_variance): MLlib PCA of the embedding
    column to ``k`` dims — the dimensionality-reduction front-end for
    the ANN/dedup stack (project once at ingest, then every downstream
    cosine/top-k pays k instead of D).

    Returns the df as (id, pca: array<double>) plus the per-component
    explained-variance ratios.  Scale shape: the covariance Gramian is
    ONE treeAggregate pass over the corpus (D×D accumulator, D=64 →
    4 KB per task); the eigendecomposition is driver-side on the D×D
    matrix — corpus-size-independent, the same train-on-summary pattern
    as the codebook/merge trainers.  Component SIGNS are basis-dependent
    (eigenvector ±v): consumers must not depend on them, which is why
    the registered query gates on variance ratios, not coordinates.
    """
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = df.select(
        F.col(id_col).alias("vec_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        ),
    )
    model = MLPCA(k=k, inputCol="features", outputCol="_pca").fit(feats)
    projected = model.transform(feats).select(
        "vec_id", vector_to_array("_pca").alias("pca")
    )
    return projected, list(model.explainedVariance.toArray())


def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Element-wise mean vector per label — class prototypes / cluster
    centers as ONE distributed aggregation (vs the driver-side sampled
    k-means trainer, which is for when labels don't exist yet).

    Returns (label, dim, n_vecs, centroid) exploded per dimension: at
    100 TB the shuffle key is (label, dim) — |labels|·|dims| groups, so
    parallelism never collapses to |labels| and no task materializes a
    whole vector set.  Sums run in exact DECIMAL (order-insensitive —
    a double groupBy-sum varies in its last ULP with partition order),
    then the mean is floor-pinned at 9 decimals (the engine-portable
    truncation: see the inline comment).
    """
    comp = F.posexplode(F.col(vec_col)).alias("dim", "v")
    return (
        df.select(F.col(label_col).alias("label"), comp)
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # float → DOUBLE first: Spark's float→decimal cast goes
            # through the float's SHORTEST string repr (~1e-8 off the
            # binary value), while DuckDB converts the binary value —
            # widening to double first puts both engines within 1e-16
            # of each other before the scale-12 decimal rounding.  The
            # exact sum stays under 2^53 so its double image and the
            # quotient are bit-identical on both engines; pin the mean
            # with the floor trick (round() half-up/half-even disagrees
            # between engines at the last place, floor of an identical
            # double never does).
            (
                F.floor(
                    F.sum(
                        F.col("v").cast("double").cast("decimal(27,12)")
                    ).cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e9)
                )
                / F.lit(1e9)
            ).alias("centroid"),
        )
    )
