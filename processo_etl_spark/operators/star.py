"""Star-schema derivation: dimensions with surrogate keys + fact assembly.

Spark-first re-expression of the reference's ``criar_dimensoes`` task
(reference dag.py:215-287): 5 dimensions via projected distinct +
sequential surrogate key (dag.py:220-237, D2+W1), fact via left joins
back on the natural keys (dag.py:241-259, J2-J6), fact-grain dedup
(dag.py:263, D3).

Surrogate keys: the reference uses ``reset_index + 1`` (arbitrary pandas
row order).  Here the key is row_number-by-natural-key-order — contiguous
1..N AND deterministic — computed by the two-phase distributed rank
(operators/ranking.py: range-repartition → local rank → broadcast
prefix-sum offsets), so there is NO single-partition window at any
dimension size (it replaces a global window + 1M-row zipWithIndex
fallback; the fallback remains for order-insensitive bulk ids).

All dimensions of a star can come from one aggregation
(:func:`build_dimensions`).  Fact joins broadcast the dimensions
explicitly — 5 broadcast hash joins, zero shuffles of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal


def build_dimensions(
    df: DataFrame, keys_by_id: dict[str, list[str]], persist: bool = False
) -> dict[str, DataFrame]:
    """Several dimensions from ONE aggregation: id_col → dimension
    (natural key columns + contiguous deterministic surrogate, D2+W1).

    Ids are ``row_number() OVER (ORDER BY natural_key)`` semantics.  One
    ``agg`` holds a map-side partial ``collect_set`` per dimension (each
    partition dedups its own keys); each merged set is ``array_sort``-ed
    (struct order = natural-key order; keys are non-null post-imputation)
    and ``posexplode`` numbers it 1..N.  No unpartitioned window, no extra
    sampling/counts jobs — one shuffle for all the dimensions, whose
    payload is the distinct domains themselves, which is what a dimension
    IS.  ``persist`` keeps that one-row aggregate (caller-owned), so every
    consumer of every dimension shares one computation.  The single
    combiner holds every |domain|, correct for classic dimensions by
    definition; a degenerate near-fact-cardinality "dimension" must use
    ``build_dimension_rank``/``build_dimension_auto`` instead."""
    keys = [internal(f"ks{i}") for i in range(len(keys_by_id))]
    pos, key = internal("pos"), internal("k")
    packed = df.agg(
        *[
            F.array_sort(F.collect_set(F.struct(*natural))).alias(ks)
            for ks, natural in zip(keys, keys_by_id.values())
        ]
    )
    if persist:
        packed = packed.persist()
    return {
        id_col: packed.select(F.posexplode(ks).alias(pos, key)).select(
            F.col(f"{key}.*"), (F.col(pos) + 1).cast("int").alias(id_col)
        )
        for ks, id_col in zip(keys, keys_by_id)
    }


def build_dimension(
    df: DataFrame, natural_key: list[str], id_col: str
) -> DataFrame:
    """One dimension: the single-dimension case of :func:`build_dimensions`."""
    return build_dimensions(df, {id_col: natural_key})[id_col]


def build_dimension_rank(
    df: DataFrame, natural_key: list[str], id_col: str
) -> DataFrame:
    """Same contract as :func:`build_dimension` via the two-phase
    distributed rank (operators/ranking.py) — no single point holds the
    whole domain, for dimensions too big to sit in one combiner."""
    from processo_etl_spark.operators.ranking import distributed_rank

    distinct = df.select(*natural_key).distinct()
    ranked = distributed_rank(distinct, list(natural_key), out_col=id_col)
    return ranked.withColumn(id_col, F.col(id_col).cast("int"))


def surrogate_keys_scalable(df: DataFrame, id_col: str) -> DataFrame:
    """Contiguous 1..N ids without a single-partition window.

    zipWithIndex over the current partitioning: ids are contiguous but
    their assignment depends on partition layout — use when the dimension
    itself is big enough that a global sort-window would bottleneck.
    """
    schema = df.schema
    rdd = df.rdd.zipWithIndex().map(lambda pair: (*pair[0], pair[1] + 1))
    return df.sparkSession.createDataFrame(rdd, schema.add(id_col, "long", False))


def build_dimension_auto(
    df: DataFrame,
    natural_key: list[str],
    id_col: str,
    max_agg_rows: int = 1_000_000,
) -> DataFrame:
    """Pick the surrogate-key strategy by measured key cardinality.

    A cheap ``approx_count_distinct`` probe decides: small distinct
    domain → one-job sorted-aggregate build (SERIAL parity); near-fact
    cardinality (the degenerate-dimension hazard measured in SCALE.md)
    → the two-phase distributed rank — same deterministic ordered ids,
    no single task ever holds the whole domain.
    """
    probe = df.select(
        F.approx_count_distinct(F.concat_ws("\x1f", *natural_key)).alias("n")
    ).first()["n"]
    if probe <= max_agg_rows:
        return build_dimension(df, natural_key, id_col)
    return build_dimension_rank(df, natural_key, id_col)


def attach_fks(
    fact: DataFrame, dims: dict[str, tuple[DataFrame, list[str]]]
) -> DataFrame:
    """Left-join each dimension on its natural key to pull the surrogate FK.

    ``dims`` maps id_col → (dim_df, natural_key_cols).  Dimensions are
    broadcast (small by construction) — the fact never shuffles (J2-J6,
    dag.py:241-259).  Null-key caveat per SURVEY §2.3: imputation must
    run *before* this (nulls already replaced), so Spark's null≠null
    join semantics can't drop rows the reference kept.
    """
    out = fact
    for _id_col, (dim, keys) in dims.items():
        out = out.join(F.broadcast(dim), on=keys, how="left")
    return out


def fact_grain_dedup(fact: DataFrame, key_cols: list[str], order_by: list[str]) -> DataFrame:
    """D3 (dag.py:263): one row per fact grain, deterministic keep-first."""
    from processo_etl_spark.operators.relational import dedup_keep_first

    return dedup_keep_first(fact, key_cols, order_by)
