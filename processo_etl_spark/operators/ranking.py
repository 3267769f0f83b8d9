"""Distributed global ranking — exact rank/ntile without the
single-partition ``Window.orderBy(...)`` anti-pattern.

``ntile(k) OVER (ORDER BY …)`` (and any unpartitioned ranking window)
moves the ENTIRE input through one task — the classic scale-killer
(``WindowExec: No Partition Defined``).  The exact semantics survive at
100 TB with the classic two-phase plan, owned by :func:`_range_prefix`:

1. range-repartition on the order key (Spark samples boundaries, so
   partitions are balanced) and compute LOCALLY per partition — the
   window partitions by the persisted partition id.  That id is not a
   clustering Spark can prove, so one ``Exchange hashpartitioning(pid,
   N)`` moves the data again before the window (never to one task);
2. collect one aggregate per partition, fold them into prefixes on the
   driver, and add each partition's prefix back via a literal map.

``global_rank = partition_offset + local_row_number`` reproduces
``row_number() OVER (ORDER BY …)`` bit-for-bit; ``ntile_from_rank``
applies SQL NTILE's first-buckets-get-the-remainder fill to that rank;
the running sum and the skyline's running min use the same scan with
``+`` and ``min``.  The only driver-side data is one value per shuffle
partition — the same legitimate two-pass shape as the histogram
min/max probe (quality/audit).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.operators.relational import dedup_keep_first
from processo_etl_spark.session import persist_once


_PID = internal("pid")


def _range_prefix(
    df: DataFrame,
    order_by: list[str | Column],
    part_agg: Column,
    fold: Callable[[Any, Any], Any],
    num_partitions: int | None = None,
) -> tuple[DataFrame, Column, Any]:
    """Range-repartition ``df`` on ``order_by`` with the partition id
    persisted as ``_PID``, collect ``part_agg`` per partition (one tiny
    driver job) and fold its non-NULL values in partition order.

    Returns ``(ranged, prior, total)``: ``prior`` is, per row, the fold
    over all EARLIER partitions — a NULL of ``part_agg``'s type where
    none has a value — and ``total`` the fold over all (None if none).
    """
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Persist the ranged frame: the probe and the downstream consumer
    # then share one range shuffle.  (Measured: persisting the INPUT
    # instead is ~45% slower — it blocks Spark's shuffle reuse between
    # the boundary-sampling job and the main pass.)
    ranged = (
        df.repartitionByRange(int(parts), *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .transform(persist_once)
    )
    agg = internal("agg")
    per_part = ranged.groupBy(_PID).agg(part_agg.alias(agg))
    prior, total = {}, None
    for pid, value in sorted(map(tuple, per_part.collect())):
        if total is not None:
            prior[pid] = total
        if value is not None:
            total = value if total is None else fold(total, value)
    # An empty literal map is VOID-keyed and map()[int] fails analysis.
    pairs = [F.lit(x) for kv in prior.items() for x in kv]
    lookup = F.create_map(*pairs)[F.col(_PID)] if pairs else F.lit(None)
    return ranged, lookup.cast(per_part.schema[agg].dataType), total


def distributed_rank(
    df: DataFrame,
    order_by: list[str | Column],
    out_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_by)`` — distributed.

    Range-partition + local rank + prior-partition row counts as
    offsets (:func:`_range_prefix`): no single-partition exchange, but
    one hash exchange on the partition id before the local window.
    ``order_by`` must be a total order (append a unique tiebreaker
    column) for deterministic output.
    """
    ranged, prior, _ = _range_prefix(
        df, order_by, F.count(F.lit(1)), operator.add, num_partitions
    )
    rank = F.coalesce(prior, F.lit(0)) + F.row_number().over(
        Window.partitionBy(_PID).orderBy(*order_by)
    )
    return ranged.withColumn(out_col, rank.cast("long")).drop(_PID)


def ntile_from_rank(rank: Column, n_rows: int, k: int) -> Column:
    """SQL NTILE(k) bucket for a 1-based global rank over ``n_rows``.

    NTILE fills the remainder into the FIRST buckets: with q = n div k
    and rem = n mod k, buckets 1..rem hold q+1 rows, the rest q.
    """
    q, rem = divmod(n_rows, k)
    if q == 0:  # fewer rows than buckets: bucket = rank
        return rank.cast("int")
    big = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    in_big = F.ceil(rank / F.lit(q + 1))
    in_small = F.lit(rem) + F.ceil((rank - F.lit(big)) / F.lit(q))
    return F.when(rank <= F.lit(big), in_big).otherwise(in_small).cast("int")


def distributed_ntile(
    df: DataFrame,
    order_by: list[str | Column],
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY order_by)`` without a global window.

    Same two-phase rank as :func:`distributed_rank`; the total row count
    the bucket formula needs falls out of the same per-partition counts
    job, so no extra pass over the data."""
    grank = internal("grank")
    ranged, prior, n_rows = _range_prefix(
        df, order_by, F.count(F.lit(1)), operator.add, num_partitions
    )
    rank = F.coalesce(prior, F.lit(0)) + F.row_number().over(
        Window.partitionBy(_PID).orderBy(*order_by)
    )
    return (
        ranged.withColumn(grank, rank.cast("long"))
        .withColumn(out_col, ntile_from_rank(F.col(grank), n_rows or 0, k))
        .drop(grank, _PID)
    )


def exact_quantiles_twopass(
    df: DataFrame,
    col: str,
    qs: list[float],
    accuracy: int = 10_000,
) -> list[tuple[float, int, float]]:
    """EXACT type-1 quantiles (k-th smallest, k = ceil(q·n)) at scale:
    approx-bracket then refine — never a global sort, never a per-group
    ``percentile`` buffer (Spark's exact ``percentile`` collects every
    value into one aggregation buffer; ``functions/cleaning.exact_median``
    documents that as its 100 TB deviation — this is the path that
    removes the deviation).

    Three tiny jobs, each map-side combinable:

    1. ``n`` + ``percentile_approx(col, q ± 2ε, accuracy)`` — the
       sketch's rank error is ≤ ε·n (ε = 1/accuracy), so the bracket
       [lo, hi] provably contains the exact order statistic;
    2. per-q anchor ``count(col < lo)`` — absolute rank of the bracket
       floor;
    3. value-histogram of the bracket union (groupBy value): ≤ ~4εn
       rows per q BEFORE duplicate collapse, so the driver holds at
       most 4·|qs|·n/accuracy value-count pairs (~24 per q at n=60k,
       accuracy=1e4).  Size the budget by choosing accuracy ≈ 4n/B for
       a driver budget of B rows.

    The returned value is an actual datum (no interpolation), so any
    engine replaying "k-th smallest" agrees bit-for-bit; ties collapse
    into one histogram row and the cumulative walk lands on the same
    value regardless of tie order.  Returns [(q, k, value), …].
    """
    c = F.col(col)
    eps = 1.0 / accuracy
    src = df.filter(c.isNotNull())
    lo_qs = [max(0.0, q - 2 * eps) for q in qs]
    hi_qs = [min(1.0, q + 2 * eps) for q in qs]
    probe = src.agg(
        F.count(c).alias("n"),
        F.percentile_approx(c, lo_qs, accuracy).alias("lo"),
        F.percentile_approx(c, hi_qs, accuracy).alias("hi"),
    ).first()
    n, los, his = probe["n"], probe["lo"], probe["hi"]
    if n == 0:
        return [(q, 0, float("nan")) for q in qs]
    anchors = src.agg(
        *[
            F.sum((c < F.lit(lo)).cast("long")).alias(f"a{i}")
            for i, lo in enumerate(los)
        ]
    ).first()
    in_any = None
    for lo, hi in zip(los, his):
        cond = (c >= F.lit(lo)) & (c <= F.lit(hi))
        in_any = cond if in_any is None else (in_any | cond)
    hist = sorted(
        (r["v"], r["cnt"])
        for r in src.filter(in_any)
        .groupBy(c.alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    out = []
    for q, lo, anchor in zip(qs, los, [anchors[f"a{i}"] for i in range(len(qs))]):
        k = max(1, math.ceil(q * n))
        need = k - anchor  # rank within [lo, hi] (positive by the ε bound)
        cum = 0
        value = None
        for v, cnt in hist:
            if v < lo:
                continue
            cum += cnt
            if cum >= need:
                value = v
                break
        if value is None:  # ε bound violated (cannot happen per sketch contract)
            raise RuntimeError(f"quantile bracket missed q={q}; raise accuracy")
        out.append((q, k, float(value)))
    return out


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    qs: list[float],
    accuracy: int = 10_000,
) -> DataFrame:
    """EXACT type-1 quantiles PER GROUP, fully distributed — the grouped
    form of ``exact_quantiles_twopass`` with the driver removed from the
    refinement: Spark's exact ``percentile`` buffers every value of a
    group in one aggregation buffer, while this plan's per-task state is
    bounded by the sketch's bracket width regardless of group size.

    1. bracket agg: per group, ``n`` + ``percentile_approx(col, q ± 2ε,
       accuracy)`` (combinable sketch; rank error ≤ ε·n_g pins the
       bracket);
    2. ONE tagged pass over the data joined to the broadcast bracket
       table (|groups|·|qs| rows): rows below the bracket count into
       the rank anchor, rows inside it into a per-(group, q, value)
       histogram, rows above are dropped BEFORE the shuffle — a
       combinable groupBy whose key space is bracket-sized;
    3. a cumulative window over each (group, q)'s ≤ ~4ε·n_g histogram
       rows picks the first value whose cumulative count reaches
       k − anchor.  The window partition is bracket-sized by
       construction — never group-sized.

    Output: (group, q, k, value); values are actual data (no
    interpolation), so sort-based oracles agree bit-for-bit.
    """
    g = F.col(group_col)
    c = F.col(col)
    eps = 1.0 / accuracy
    lo_qs = [max(0.0, q - 2 * eps) for q in qs]
    hi_qs = [min(1.0, q + 2 * eps) for q in qs]
    src = df.filter(c.isNotNull()).select(g.alias("g"), c.alias("x"))
    br = src.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("x", lo_qs, accuracy).alias("los"),
        F.percentile_approx("x", hi_qs, accuracy).alias("his"),
    )
    brx = br.select(
        "g",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("q"),
                F.col("los").alias("lo"),
                F.col("his").alias("hi"),
            )
        ).alias("z"),
    ).select(
        "g",
        F.col("z.q").alias("q"),
        F.col("z.lo").alias("lo"),
        F.col("z.hi").alias("hi"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("z.q") * F.col("n").cast("double")),
        ).alias("k"),
    )
    tagged = (
        src.join(F.broadcast(brx), "g")
        .filter(F.col("x") <= F.col("hi"))
        .select(
            "g",
            "q",
            "k",
            F.when(F.col("x") >= F.col("lo"), F.col("x")).alias("v"),
        )
    )
    hist = tagged.groupBy("g", "q", "k", "v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    anchors = (
        hist.filter(F.col("v").isNull())
        .select("g", "q", F.col("cnt").alias("anchor"))
    )
    w = (
        Window.partitionBy("g", "q")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = (
        hist.filter(F.col("v").isNotNull())
        .join(F.broadcast(anchors), ["g", "q"], "left")
        .withColumn("cum", F.sum("cnt").over(w))
        .filter(
            F.col("cum") >= F.col("k") - F.coalesce("anchor", F.lit(0))
        )
    )
    picked = dedup_keep_first(walked, ["g", "q"], ["v"]).select(
        "g", "q", "k", F.col("v").alias("value")
    )
    # Loud bracket-violation check: the ungrouped twin
    # exact_quantiles_twopass raises RuntimeError when the sketch bracket
    # misses; here a miss would silently DROP the (group, q) row.  Every
    # (g, q) in the bracket spec must produce a pick (k ≥ 1 and groups
    # have ≥ 1 non-null row by construction), so re-attach the spec and
    # raise at execution time — lazily, no extra driver job — if any
    # spec row comes back pickless.
    spec = brx.select("g", "q", "k")
    guarded = F.when(
        F.col("value").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "grouped_exact_quantiles: sketch bracket produced no "
                    "pick for group="
                ),
                F.col("g").cast("string"),
                F.lit(" q="),
                F.col("q").cast("string"),
            )
        ),
    ).otherwise(F.col("value"))
    return spec.join(picked, ["g", "q", "k"], "left").select(
        F.col("g").alias(group_col),
        "q",
        "k",
        guarded.alias("value"),
    )


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto frontier), both criteria MINIMIZED: rows no
    other row strictly dominates (other.x ≤ x AND other.y ≤ y with at
    least one strict) — Börzsönyi/Kossmann/Stocker's SKYLINE OF
    operator, the "best trade-offs" query (cheapest-vs-smallest,
    price-vs-latency).  To maximize a criterion, pass its negation.

    The naive formulation is a NOT EXISTS theta self-join — O(n²) and
    unshardable.  In 2-D the skyline is exactly the rows where y
    strictly undercuts the running min of y over all smaller x, so the
    plan is the sort-based O(n log n) form, distributed with the same
    range-partition + driver-prefix trick as ``distributed_rank``:

    1. combinable groupBy x → min(y) (collapses the row count to
       |distinct x| BEFORE any ordering work);
    2. range-repartition on x (:func:`_range_prefix`); per-partition
       strict-prefix running min (window partitioned BY the range
       partition id — one hash exchange on that id, never a
       single-partition one); one tiny per-partition-min collect gives
       each partition the min over all PRIOR partitions as a literal;
    3. keep x-groups whose min(y) beats the combined strict prefix;
       join back to the input on (x, y = min(y)) — same-x rows above
       the group min are dominated within the group.

    Ties: equal (x, y) duplicates dominate each other only weakly, so
    all stay — matching the strict-dominance NOT EXISTS definition.
    """
    gx, gmin, pre = internal("x"), internal("miny"), internal("prefix")
    x, y = F.col(x_col), F.col(y_col)
    # NULL criteria have no dominance semantics — and a NULL x group
    # would sort first and poison the prefix min.  Excluded up front.
    df = df.filter(x.isNotNull() & y.isNotNull())
    g = df.groupBy(x.alias(gx)).agg(F.min(y).alias(gmin))
    ranged, prior_min, _ = _range_prefix(g, [gx], F.min(gmin), min)
    w = (
        Window.partitionBy(_PID)
        .orderBy(gx)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.least(
        F.min(gmin).over(w), prior_min
    )  # least() ignores NULLs; NULL prefix = no smaller x anywhere
    sky = (
        ranged.withColumn(pre, prefix)
        .filter(F.col(pre).isNull() | (F.col(gmin) < F.col(pre)))
        .select(gx, gmin)
    )
    return df.join(
        sky, (x == F.col(gx)) & (y == F.col(gmin))
    ).drop(gx, gmin)


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rk",
    salt_key: str | Column | None = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """Top-k per group with BOUNDED task state — the scale twin of
    ``row_number() OVER (PARTITION BY group) <= k``: a plain grouped
    window sorts each group in one task, so one celebrity group stalls
    the stage and can spill unboundedly.  Here stage 1 ranks within
    (group, salt) — per-task sort state is |group|/salt_buckets however
    skewed the groups — and keeps ranks ≤ k; stage 2 ranks the
    ≤ salt_buckets·k survivors per group.  A row outside its salt's
    top-k is dominated by k same-group rows, so the two-stage result
    EQUALS the single-window top-k (same argument as
    ml/splits.weighted_sample_aes, which inlines this shape).

    ``order_by`` must be a total order (append a unique tiebreaker);
    ``salt_key`` defaults to the hash of ALL columns' string forms
    (order_by entries may be SortOrder expressions — ``F.desc(c)`` —
    which cannot be re-evaluated as values, so the default never
    touches them).  Pass the row key explicitly when a cheaper or
    stabler salt exists; a salt CONSTANT within a group would put the
    whole group in one bucket and restore the skew.

    Raises ``ValueError`` when ``df`` already has a ``rank_col`` column:
    the rank would silently overwrite it."""
    from processo_etl_spark.ml.dedup import md5_long

    if rank_col in df.columns:
        raise ValueError(
            f"grouped_topk: input already has a column {rank_col!r}; "
            "pass another rank_col"
        )

    if salt_key is not None:
        skc = (
            F.col(salt_key) if isinstance(salt_key, str) else salt_key
        ).cast("string")
    else:
        skc = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in df.columns]
        )
    salt = md5_long(F.concat(F.lit("topk:"), skc)) % F.lit(salt_buckets)
    salt_col, r1 = internal("salt"), internal("r1")
    w1 = Window.partitionBy(*group_cols, salt_col).orderBy(*order_by)
    survivors = (
        df.withColumn(salt_col, salt)
        .withColumn(r1, F.row_number().over(w1))
        .filter(F.col(r1) <= k)
        .drop(r1, salt_col)
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_by)
    return survivors.withColumn(
        rank_col, F.row_number().over(w2).cast("int")
    ).filter(F.col(rank_col) <= k)


def distributed_cumsum(
    df: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``SUM(value) OVER (ORDER BY …)`` — distributed, the
    running-sum sibling of :func:`distributed_rank`: range-partition on
    the order key, per-partition local running sums, and each
    partition's prior-partition TOTAL added back as a literal (one tiny
    per-partition-totals job, :func:`_range_prefix`).  No
    single-partition window anywhere; the local window costs one hash
    exchange on the partition id.  NULL values are skipped as SUM
    skips them: a row's running sum is NULL only when every value up
    to it is NULL.

    Exactness: integer/decimal values sum associatively, so the split
    is value-identical to the global window; for doubles the
    re-association can differ in the last ulps — keep the value column
    integral (the sweep-line use case: +1/−1 deltas).  Rows tied on the
    full ``order_by`` receive order-dependent INTERMEDIATE sums (any
    window does this); aggregate consumers (max/min of the running sum)
    are tie-safe when ties share a sign, as in the concurrency sweep.
    """
    ranged, prior, _ = _range_prefix(
        df, order_by, F.sum(value_col), operator.add, num_partitions
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = F.sum(value_col).over(w)
    # Either side may be NULL: no earlier partition has a non-NULL
    # value, or every row of this partition up to here is NULL.  SUM
    # skips NULLs, so the running total is whichever side exists.
    return ranged.withColumn(
        out_col, F.coalesce(prior + local, prior, local)
    ).drop(_PID)
