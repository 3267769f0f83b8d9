"""Mergeable frequency sketches: Count-Min over arbitrary key columns.

Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications", J. Algorithms 55): a d×w grid
of counters; each key increments one counter per row via d independent
hashes; the estimate is the MIN over its d counters.  Guarantees, for
any key: estimate ≥ true count (one-sided), and estimate ≤ true count
+ (e/w)·N with probability ≥ 1 − e^(−d) over the hash draw (N = total
increments).

Why this matters at 100 TB: the sketch is a FIXED d·w-row relation no
matter the key cardinality, built by one map-side-combinable groupBy —
the shuffle moves at most d·w·partitions counter rows, not the keys.
Sketches MERGE by adding counters cell-wise, so per-day / per-source
sketches union and re-aggregate without touching raw data — the
streaming/backfill composition exact top-k can't offer.

Hash family: the same deterministic md5-affine family as the
MinHash/Bloom ops (``dedup.md5_long`` → ``dedup.affine_hashes``
mod P mod w) — no randomness to ship, and a DuckDB oracle replays the
ENTIRE sketch bit-for-bit, so the registered query is exact-hash
graded, not tolerance-graded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import MERSENNE_P, affine_hashes, md5_long


def _bucket_structs(key: Column, depth: int, width: int) -> Column:
    """array<struct<row, bucket>> of the key's d sketch cells."""
    h = md5_long(key) % F.lit(MERSENNE_P)
    return F.array(
        *[
            F.struct(F.lit(i).cast("int").alias("row"), bucket.alias("bucket"))
            for i, bucket in enumerate(affine_hashes(h, depth, width))
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str | Column,
    depth: int = 4,
    width: int = 256,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """Build the sketch: (row, bucket, cnt), ≤ d·w rows total.

    One explode (bounded d× fan-out) + one map-side-combinable groupBy
    — the only shuffle, and its key space is the fixed d·w grid, so
    skewed keys CANNOT skew the shuffle (a hot key lands in the same d
    cells and partial aggregation collapses it map-side).

    ``weight_col``: increment by a weight instead of 1 — in particular,
    building from a PRE-AGGREGATED (key, count) relation with
    ``weight_col="count"`` yields cell-for-cell the same sketch as
    building from the raw stream (sums commute), while hashing each
    distinct key ONCE instead of once per occurrence.

    Rows whose key is NULL are skipped: they increment no cell, so the
    grid stays within d·w cells and a NULL key estimates as 0.  The
    build is a plain aggregate, so it runs unchanged over a streaming
    source (state is at most d·w counters).
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col)
    )
    return (
        df.filter(key.isNotNull())
        .select(
            F.explode(_bucket_structs(key, depth, width)).alias("c"),
            w.alias("_w"),
        )
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (depth, width, hash family):
    cell-wise counter sum — the property that makes per-partition /
    per-day sketches composable without raw data."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, sketches)
    return u.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    items: DataFrame,
    sketch: DataFrame,
    key_col: str | Column,
    depth: int = 4,
    width: int = 256,
    est_col: str = "est_cnt",
) -> DataFrame:
    """Append ``est_col`` = min over the item's d counters (the CMS
    point estimate).  The sketch side is ≤ d·w rows — always broadcast;
    items keep all their columns.  Keys the sketch never saw estimate
    as NULL-safe 0 (an empty cell means count 0); so does a NULL key.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    others = [c for c in items.columns]
    probed = items.select(
        *others, F.explode(_bucket_structs(key, depth, width)).alias("c")
    ).select(*others, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probed.join(F.broadcast(sketch), on=["row", "bucket"], how="left")
        .groupBy(*others)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(est_col))
    )
