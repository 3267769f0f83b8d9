"""Lake maintenance: small-file compaction planning and rewrite.

The perennial 100 TB operational chore: streaming ingest and
fine-grained partitioning leave millions of small files whose
per-file open/footer cost dominates scans.  ``compaction_bins``
assigns files to target-size compaction bins; the rewrite itself is
then one partitioned job per bin.  ``compact_parquet`` is the simple
whole-directory rewrite: the file count comes from the directory's
actual byte size (driver-side listing, metadata only) and the rewrite
``coalesce``s, so it runs without a shuffle.  Write to a new directory
and swap by rename to keep readers consistent; a lakehouse does this
under a table format's transaction log instead.

The assignment is NEXT-FIT over the size-descending file order:
``bin = floor(running_total_before / target)`` — a deterministic
integer function of the exact cumulative sum, so both engines agree
bit-for-bit (no greedy driver loop, no float).  First-fit-decreasing
packs ≤ 11/9·OPT + 1 bins; next-fit-decreasing is within 1.7·OPT and,
unlike FFD, is expressible as ONE pass over the inventory — the right
trade when the inventory is itself millions of rows.

Scale shape: the inventory is METADATA-scale (|files|, not bytes),
but at 100 TB that is still millions of rows, so the running sum uses
:func:`operators.ranking.distributed_cumsum` (range-partition +
per-partition offsets) — never a single-partition global window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.operators.ranking import distributed_cumsum


def dir_parquet_bytes(path: str) -> int:
    """Total bytes of parquet data files under ``path`` (driver-side)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_file_count(total_bytes: int, target_file_bytes: int = 128 * 1024 * 1024) -> int:
    return max(1, -(-total_bytes // target_file_bytes))  # ceil div


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite ``path`` into ``out_path`` with ~target-sized files;
    returns the output file count.  Shuffle-free (coalesce)."""
    n = plan_file_count(dir_parquet_bytes(path), target_file_bytes)
    df: DataFrame = spark.read.parquet(path)
    df.coalesce(n).write.mode("overwrite").parquet(out_path)
    return n


def compaction_bins(
    inventory: DataFrame,
    size_col: str,
    id_col: str,
    target_bytes: int,
) -> DataFrame:
    """Assign each file to a compaction bin of ~``target_bytes``:
    (id, size, bin) with ``bin = floor(cum_before / target)`` over the
    (size DESC, id ASC) order.  Files larger than the target get a bin
    of their own by construction (their own size already crosses the
    boundary).  Sizes must be non-negative integers."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    cum = internal("cum")
    with_cum = distributed_cumsum(
        inventory.select(
            F.col(id_col).alias("file_id"),
            F.col(size_col).cast("long").alias("n_bytes"),
        ),
        order_by=[F.col("n_bytes").desc(), F.col("file_id").asc()],
        value_col="n_bytes",
        out_col=cum,
    )
    # `div` is INTEGER division (operands are non-negative longs), so
    # the bin id never touches a float — exact on any engine.
    return with_cum.select(
        "file_id",
        "n_bytes",
        F.expr(f"({cum} - n_bytes) div {int(target_bytes)}")
        .cast("long")
        .alias("bin"),
    )
