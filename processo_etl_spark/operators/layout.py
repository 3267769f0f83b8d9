"""Physical data layout for scan skipping: sort-clustered and Z-ordered
parquet writes, Z-order (Morton) clustering keys, and file-level
zone-map statistics.

Parquet readers prune ROW GROUPS by min/max statistics before reading
data pages.  Stats only help if values are clustered: a randomly-ordered
table has every row group spanning the full value range (no skip);
sorting by the filter column first makes row-group ranges disjoint, so a
selective predicate reads a small fraction of groups — pay one sort at
write, skip forever.  ``write_sorted`` uses ``repartitionByRange`` +
``sortWithinPartitions``: the range exchange clusters globally
(file-level skipping across files), the local sort clusters within
files (row-group-level skipping), and no single task ever holds the
full dataset — Spark's distributed ORDER BY shape.

The 100 TB problem this solves: a table physically ordered by ONE key
prunes scans only on that key's predicates.  Writers that instead sort
by an interleaved-bit (Morton/Z-order) key give EVERY participating
dimension locality within each output file, so file-level min/max zone
maps (parquet row-group stats, Delta/Iceberg file stats) prune
multi-dimensional predicates — the standard lakehouse `OPTIMIZE ZORDER
BY` maneuver.  The reference has no layout tooling (its pipeline is
in-memory pandas, dag.py); this module is part of the engine's
scale extension, alongside the size-based compaction planner
(operators/maintenance.compaction_bins).

Design for Spark:

- ``zorder_key`` is pure integer bit arithmetic on columns —
  whole-stage-codegen expressions, computed at scan speed, no shuffle,
  no UDF.  Keys are masked to ``bits`` low-order bits first, so
  arbitrary (e.g. offset-encoded) id domains stay well-defined; the
  interleaved key fits a BIGINT for n_cols·bits ≤ 63.
- ``file_spans`` assigns rows to fixed-capacity files under a given
  total order WITHOUT a single-partition global sort: it reuses
  ``operators/ranking.distributed_rank`` (range partition + local
  row_number + broadcast prefix offsets), then one combinable groupBy
  per file computes the zone-map stats (min/max/count per column) — the
  exact metadata a lakehouse writer records per data file.

Every emitted statistic is an exact integer, so layout-quality
comparisons (Σ per-file key spans under layout A vs B) are
deterministic on any engine — the DuckDB oracle replays the identical
bit expression via ``zorder_key_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal


def _write(df: DataFrame, path: str, parquet_block_bytes: int | None) -> None:
    w = df.write.mode("overwrite")
    if parquet_block_bytes:
        # Row-group granularity bounds how finely stats pruning can skip:
        # a file is pruned row-group-at-a-time, so clustering pays off in
        # proportion to groups-per-file.  Default (128 MB) is right for
        # production files; tests shrink it to model a many-group file.
        w = w.option("parquet.block.size", parquet_block_bytes)
    w.parquet(path)


def write_sorted(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    parquet_block_bytes: int | None = None,
) -> None:
    """Write clustered on ``cluster_cols`` (range exchange + local
    sort); the first column dominates the skipping."""
    out = (
        df.repartitionByRange(num_files, *cluster_cols)
        if num_files
        else df.repartitionByRange(*cluster_cols)
    )
    _write(out.sortWithinPartitions(*cluster_cols), path, parquet_block_bytes)


def row_group_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) per row group across all files — what the reader's
    stats-based pruning sees.  pyarrow footer read, no data scan."""
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    return ranges


def skipping_fraction(ranges: list[tuple], lo, hi) -> float:
    """Fraction of row groups a [lo, hi] predicate can SKIP."""
    if not ranges:
        return 0.0
    skipped = sum(1 for mn, mx in ranges if mx < lo or mn > hi)
    return skipped / len(ranges)


def zorder_key(cols: list[Column | str], bits: int = 20) -> Column:
    """Morton/Z-order key: interleave the ``bits`` low-order bits of
    each column round-robin (column j contributes bit i to output bit
    ``i*len(cols) + j``).  Total output width n·bits must fit a signed
    64-bit long.  Columns are masked to ``bits`` bits first — values
    beyond 2^bits alias (locality degrades gracefully; correctness of
    any consumer comparing equal expressions is unaffected)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if not 1 <= n * bits <= 63:
        raise ValueError(f"n_cols*bits = {n * bits} must be in [1, 63]")
    mask = (1 << bits) - 1
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit(mask)
        )
        for c in cols
    ]
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = 16,
    num_files: int | None = None,
    parquet_block_bytes: int | None = None,
) -> None:
    """Write clustered on ``zorder_key([col1, col2], bits)``: range
    exchange + local sort on the interleaved key, key column dropped
    from the stored data.  Same distributed-sort shape as
    ``write_sorted``.  Inputs should be non-negative ints below
    2^bits (ordinal-code or rank them first): the key masks each
    column to its low ``bits`` bits, so out-of-range values alias onto
    in-range cells instead of saturating at the edge.  The stored rows
    are the same either way; only the clustering degrades."""
    z = internal("z")
    keyed = df.withColumn(z, zorder_key([col1, col2], bits))
    out = (
        keyed.repartitionByRange(num_files, z)
        if num_files
        else keyed.repartitionByRange(z)
    )
    _write(out.sortWithinPartitions(z).drop(z), path, parquet_block_bytes)


def zorder_key_sql(cols: list[str], bits: int = 20) -> str:
    """The SAME interleave as ``zorder_key``, as engine-portable SQL
    text (DuckDB oracle side).  Both are mechanical translations of one
    bit loop, so the integers match exactly."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if not 1 <= n * bits <= 63:
        raise ValueError(f"n_cols*bits = {n * bits} must be in [1, 63]")
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(
                f"((((CAST({c} AS BIGINT) & {mask}) >> {i}) & 1) "
                f"<< {i * n + j})"
            )
    return "(" + " | ".join(terms) + ")"


def file_spans(
    df: DataFrame,
    order_by: list[Column | str],
    capacity: int,
    stat_cols: list[str],
) -> DataFrame:
    """Assign rows to fixed-capacity files under the ``order_by`` total
    order and emit each file's zone-map stats: one row per file with
    the file id (column ``internal("file")``), ``n`` and min/max per
    stat column (``min_<c>`` / ``max_<c>``).

    ``order_by`` must be a total order (append unique tiebreakers) for
    deterministic file membership.  The global rank is distributed
    (range partition + broadcast offsets — operators/ranking); file id
    is exact integral ``(rank-1) div capacity``."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity!r}")
    from processo_etl_spark.operators.ranking import distributed_rank

    rk, file_id = internal("rk"), internal("file")
    ranked = distributed_rank(df, list(order_by), out_col=rk)
    agg = [F.count(F.lit(1)).alias("n")]
    for c in stat_cols:
        agg += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        ranked.withColumn(file_id, F.expr(f"({rk} - 1) div {capacity}"))
        .groupBy(file_id)
        .agg(*agg)
    )
