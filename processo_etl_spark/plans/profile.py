"""Data-contract profiling and pipeline-analytics heads: candidate-key /
functional-dependency audits and categorical concentration
(quality/profile.py), small-file compaction planning
(operators/maintenance.py), k-core graph degeneracy
(operators/graph.kcore_peel) over the shared customer→order→part
graph, linear multi-touch attribution (operators/temporal), and
GroupKFold splits (ml/splits).

Oracle-parity design: outputs are exact integers/booleans (group
counts, violation counts, bin ids from integer division, peel
degrees, fold ids) or SINGLE divisions of exact integers (gini,
attribution credit) — the two strongest portability classes (no ROUND
needed, nothing for the raw-double-fold guard to flag).

Extension surface beyond the reference: dag.py assumes its id columns
are keys and never audits; a 100 TB lake verifies before it buckets,
compacts on a plan instead of ad hoc, and profiles graph degeneracy
before choosing join strategies on power-law keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t
from processo_etl_spark.plans.mlops import _md5_long_sql

_MD5_LONG_SOURCE = _md5_long_sql("source")


def _labeled(df, check, kind):
    """Common 5-column shape for the key/FD union — both producers
    share the (n_groups, n_violations, holds) contract, so this only
    attaches the labels (extra rows for a key, violating groups for
    an FD)."""
    return df.select(
        F.lit(check).alias("check"),
        F.lit(kind).alias("kind"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.col("holds"),
    )


@register(
    "profile_keys_fds",
    oracle="""
    SELECT 'orders.o_orderkey' AS check, 'key' AS kind,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(c - 1) AS BIGINT) AS n_violations,
           bool_and(c = 1) AS holds
    FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', 'key',
           CAST(count(*) AS BIGINT),
           CAST(sum(c - 1) AS BIGINT), bool_and(c = 1)
    FROM (SELECT count(*) AS c FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    UNION ALL
    SELECT 'nation.n_nationkey->n_regionkey', 'fd',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           bool_and(nd <= 1)
    FROM (SELECT count(DISTINCT n_regionkey) AS nd FROM nation
          GROUP BY n_nationkey)
    UNION ALL
    SELECT 'customer.c_mktsegment->c_nationkey', 'fd',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           bool_and(nd <= 1)
    FROM (SELECT count(DISTINCT c_nationkey) AS nd FROM customer
          GROUP BY c_mktsegment)
    """,
)
def profile_keys_fds(spark, sf_dir):
    """Data-contract audit before bucketing/merging on a believed key:
    two candidate-key checks (orders.o_orderkey — holds; the lineitem
    compound grain — holds) and two functional dependencies
    (nation→region — holds by TPC-H construction; market segment →
    nation — deliberately FALSE, proving the violation counter counts).
    quality/profile.key_violations / fd_violations: one combinable
    groupBy per check, group tables bounded by the attribute domain,
    exact-integer outputs."""
    from processo_etl_spark.quality import profile

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    parts = [
        _labeled(
            profile.key_violations(orders, ["o_orderkey"]),
            "orders.o_orderkey",
            "key",
        ),
        _labeled(
            profile.key_violations(li, ["l_orderkey", "l_linenumber"]),
            "lineitem.(l_orderkey,l_linenumber)",
            "key",
        ),
        _labeled(
            profile.fd_violations(nation, ["n_nationkey"], "n_regionkey"),
            "nation.n_nationkey->n_regionkey",
            "fd",
        ),
        _labeled(
            profile.fd_violations(cust, ["c_mktsegment"], "c_nationkey"),
            "customer.c_mktsegment->c_nationkey",
            "fd",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "compaction_plan_sources",
    oracle="""
    WITH inv AS (
      SELECT source AS file_id, CAST(sum(n_chars) AS BIGINT) AS n_bytes
      FROM documents GROUP BY 1),
    c AS (
      SELECT file_id, n_bytes,
             sum(n_bytes) OVER (ORDER BY n_bytes DESC, file_id) AS cum
      FROM inv)
    SELECT file_id, n_bytes,
           CAST((cum - n_bytes) // 20000 AS BIGINT) AS bin
    FROM c
    """,
)
def compaction_plan_sources(spark, sf_dir):
    """Small-file compaction plan over the per-source byte inventory
    (documents stands in for the file listing): next-fit-decreasing
    bin assignment at a 20 KB target via
    operators/maintenance.compaction_bins — bin = (cum_before) DIV
    target over the exact distributed cumulative sum, pure integer
    arithmetic.  The oracle replays the same order with a window (fine
    oracle-side); the ENGINE uses distributed_cumsum — range-partition
    + per-partition offsets — because a real inventory is millions of
    files and a global window would serialize them into one task."""
    from processo_etl_spark.operators import maintenance

    inv = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source"))
        .agg(F.sum("n_chars").cast("long").alias("n_bytes"))
    )
    return maintenance.compaction_bins(
        inv, size_col="n_bytes", id_col="source", target_bytes=20_000
    )


from processo_etl_spark.operators.layout import zorder_key_sql as _zk_sql  # noqa: E402

_Z_BITS = 20   # masked key width per dimension (2 dims × 20 ≤ 63-bit long)
_Z_CAP = 512   # rows per simulated data file (works at every test sf)
_ZKEY_SQL = _zk_sql(["pk_r", "sk_r"], _Z_BITS)


@register(
    "layout_zorder_gain",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey, row_number() OVER (ORDER BY l_partkey) AS pk_r
      FROM (SELECT DISTINCT l_partkey FROM lineitem)),
    sr AS (
      SELECT l_suppkey, row_number() OVER (ORDER BY l_suppkey) AS sk_r
      FROM (SELECT DISTINCT l_suppkey FROM lineitem)),
    li AS (
      SELECT l.l_orderkey, l.l_linenumber, pr.pk_r, sr.sk_r,
             {_ZKEY_SQL} AS zkey
      FROM lineitem l
      JOIN pr ON l.l_partkey = pr.l_partkey
      JOIN sr ON l.l_suppkey = sr.l_suppkey),
    lin AS (
      -- (l_orderkey, l_linenumber) is NOT unique in the fixture;
      -- appending (pk_r, sk_r) makes any residual tie a row identical
      -- in every statistic, so file spans are deterministic
      SELECT pk_r, sk_r,
             (row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                          pk_r, sk_r) - 1)
               // {_Z_CAP} AS f
      FROM li),
    zo AS (
      SELECT pk_r, sk_r,
             (row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber)
               - 1) // {_Z_CAP} AS f
      FROM li),
    spans AS (
      SELECT 'linear' AS layout, f, count(*) AS n,
             max(pk_r) - min(pk_r) + 1 AS pk_span,
             max(sk_r) - min(sk_r) + 1 AS sk_span
      FROM lin GROUP BY f
      UNION ALL
      SELECT 'zorder' AS layout, f, count(*) AS n,
             max(pk_r) - min(pk_r) + 1 AS pk_span,
             max(sk_r) - min(sk_r) + 1 AS sk_span
      FROM zo GROUP BY f)
    SELECT
      CAST(SUM(CASE WHEN layout = 'linear' THEN n ELSE 0 END) AS BIGINT)
        AS n_rows,
      CAST(SUM(CASE WHEN layout = 'linear' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_files,
      CAST(SUM(CASE WHEN layout = 'linear' THEN pk_span ELSE 0 END)
        AS BIGINT) AS pk_span_linear,
      CAST(SUM(CASE WHEN layout = 'zorder' THEN pk_span ELSE 0 END)
        AS BIGINT) AS pk_span_zorder,
      CAST(SUM(CASE WHEN layout = 'linear' THEN sk_span ELSE 0 END)
        AS BIGINT) AS sk_span_linear,
      CAST(SUM(CASE WHEN layout = 'zorder' THEN sk_span ELSE 0 END)
        AS BIGINT) AS sk_span_zorder,
      (SUM(CASE WHEN layout = 'zorder' THEN pk_span ELSE 0 END)
         < SUM(CASE WHEN layout = 'linear' THEN pk_span ELSE 0 END))
      AND (SUM(CASE WHEN layout = 'zorder' THEN sk_span ELSE 0 END)
         < SUM(CASE WHEN layout = 'linear' THEN sk_span ELSE 0 END))
        AS zorder_wins_both
    FROM spans
    """,
)
def layout_zorder_gain(spark, sf_dir):
    """Z-order (Morton) layout effectiveness on lineitem: assign rows to
    512-row "files" under (a) the natural (l_orderkey, l_linenumber)
    order and (b) the interleaved-bit z-key order, compute each file's
    zone-map stats (min/max of the part AND supplier dimensions — the
    metadata a lakehouse writer records per file), and compare total
    key-span coverage Σ(max−min+1): smaller span ⇒ file-level min/max
    pruning eliminates more files for predicates on EITHER dimension.
    This is the `OPTIMIZE ZORDER BY` planning measurement; the
    reference has no layout tooling (in-memory pandas), so this is
    engine scale extension, next to the compaction planner above.

    Each dimension is RANK-NORMALIZED first (dense 1..n via the
    distributed rank over its distinct values, broadcast-joined back) —
    the dictionary trick production z-order implementations use:
    interleaving RAW bits breaks on offset-encoded / multimodal id
    domains (measured here: sf0.5 ids sit near 4·10⁹, the 20-bit mask
    wraps mid-domain, and raw-span "gain" inverts), while rank space is
    contiguous at every scale, so the locality verdict is scale-robust.

    Scale shape: the z-key is pure bit arithmetic at scan speed
    (operators/layout.zorder_key — codegen expressions, no UDF); rank
    dictionaries are distinct-value-sized (|parts|+|suppliers|) and
    broadcast; each layout's file assignment uses the DISTRIBUTED
    global rank (range partition + broadcast prefix offsets, never a
    one-task sort); file stats are one combinable groupBy per layout.
    Every output is an exact integer (span sums CAST AS BIGINT both
    sides — HUGEINT rule), and the verdict boolean compares identical
    integers on both engines, so it is deterministic without a
    tolerance margin.
    """
    from processo_etl_spark.operators import layout
    from processo_etl_spark.operators.ranking import distributed_rank

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    pk_rank = distributed_rank(
        li.select("l_partkey").distinct(), ["l_partkey"], out_col="pk_r"
    )
    sk_rank = distributed_rank(
        li.select("l_suppkey").distinct(), ["l_suppkey"], out_col="sk_r"
    )
    li = (
        li.join(F.broadcast(pk_rank), "l_partkey")
        .join(F.broadcast(sk_rank), "l_suppkey")
        .select("l_orderkey", "l_linenumber", "pk_r", "sk_r")
    )
    stat = ["pk_r", "sk_r"]
    # (l_orderkey, l_linenumber) is not unique in the fixture; the
    # (pk_r, sk_r) suffix makes residual ties stat-identical rows, so
    # the layout (and its spans) is a deterministic total order.  The
    # z-order side needs no suffix beyond the key: equal zkey implies
    # equal (pk_r, sk_r), so tied rows are already stat-identical.
    lin = layout.file_spans(
        li, ["l_orderkey", "l_linenumber", "pk_r", "sk_r"], _Z_CAP, stat
    )
    zo = layout.file_spans(
        li.withColumn("zkey", layout.zorder_key(stat, bits=_Z_BITS)),
        ["zkey", "l_orderkey", "l_linenumber"],
        _Z_CAP,
        stat,
    )
    spans = (
        lin.withColumn("layout", F.lit("linear"))
        .unionByName(zo.withColumn("layout", F.lit("zorder")))
        .select(
            "layout",
            "n",
            (F.col("max_pk_r") - F.col("min_pk_r") + 1).alias("pk_span"),
            (F.col("max_sk_r") - F.col("min_sk_r") + 1).alias("sk_span"),
        )
    )
    is_lin = F.col("layout") == "linear"
    pk_l = F.sum(F.when(is_lin, F.col("pk_span")).otherwise(0))
    pk_z = F.sum(F.when(~is_lin, F.col("pk_span")).otherwise(0))
    sk_l = F.sum(F.when(is_lin, F.col("sk_span")).otherwise(0))
    sk_z = F.sum(F.when(~is_lin, F.col("sk_span")).otherwise(0))
    return spans.agg(
        F.sum(F.when(is_lin, F.col("n")).otherwise(0)).alias("n_rows"),
        F.sum(F.when(is_lin, 1).otherwise(0)).alias("n_files"),
        pk_l.alias("pk_span_linear"),
        pk_z.alias("pk_span_zorder"),
        sk_l.alias("sk_span_linear"),
        sk_z.alias("sk_span_zorder"),
        ((pk_z < pk_l) & (sk_z < sk_l)).alias("zorder_wins_both"),
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Fixed-round synchronous peel replay as generated CTEs — every
    round mirrors operators/graph.kcore_peel exactly (degree groupBy,
    ≥ k filter, both-endpoint edge semi-join).  All-integer."""
    parts = [
        """WITH e0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT CAST(o_custkey * 4 AS BIGINT) AS src,
               CAST(o_orderkey * 4 + 1 AS BIGINT) AS dst
        FROM orders
        UNION ALL
        SELECT DISTINCT CAST(l_orderkey * 4 + 1 AS BIGINT),
               CAST(l_partkey * 4 + 2 AS BIGINT)
        FROM lineitem))"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""a{r} AS MATERIALIZED (
          SELECT node FROM (
            SELECT node, count(*) AS deg FROM (
              SELECT src AS node FROM e{p}
              UNION ALL SELECT dst FROM e{p}) GROUP BY node)
          WHERE deg >= {k})"""
        )
        parts.append(
            f"""e{r} AS MATERIALIZED (
          SELECT e.src, e.dst FROM e{p} e
          JOIN a{r} s ON e.src = s.node
          JOIN a{r} d ON e.dst = d.node)"""
        )
    return (
        ",\n".join(parts)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT src AS node FROM e{rounds}
      UNION ALL SELECT dst FROM e{rounds}) GROUP BY node"""
    )


@register("graph_kcore_order_parts", oracle=_kcore_oracle(3, 6))
def graph_kcore_order_parts(spark, sf_dir):
    """3-core of the customer→order→part graph (the PageRank fixture's
    shared edge list — one definition, plans/events.py): synchronous
    peeling, 6 fixed rounds (the fixpoint lands in 3 at sf0.001–0.01;
    doubling certifies stability), operators/graph.kcore_peel.
    Degeneracy profiling is how a planner prices power-law join keys:
    the k-core is the subgraph where every node keeps ≥ k neighbors
    after all cascading removals — the dense hub region that salting /
    AQE skew handling must survive.  Per-round cost is one combinable
    degree groupBy + two semi-joins, localCheckpoint truncating
    lineage — the LPA/connected-components loop template; all outputs
    exact integers."""
    from processo_etl_spark.operators import graph
    from processo_etl_spark.plans.events import pagerank_order_graph_edges

    return graph.kcore_peel(
        pagerank_order_graph_edges(spark, sf_dir), k=3, rounds=6
    )


_GINI_COLS = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("lineitem", "l_returnflag"),
]


def _gini_branch_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS column,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(c) AS BIGINT) AS top_count,
           CAST(CAST(sum(c) AS DECIMAL(38,0)) * sum(c)
                - sum(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE)
             / CAST(CAST(sum(c) AS DECIMAL(38,0)) * sum(c) AS DOUBLE) AS gini
    FROM (SELECT count(*) AS c FROM {table} GROUP BY {col})"""


@register(
    "profile_categorical_gini",
    oracle=" UNION ALL ".join(
        _gini_branch_sql(tb, c) for tb, c in _GINI_COLS
    ),
)
def profile_categorical_gini(spark, sf_dir):
    """Concentration profile of four categorical columns: Gini impurity
    1 − Σ(cᵢ/n)² (quality/profile.categorical_gini) — the entropy-role
    measure with NO transcendental (ln is oracle-banned; impurity is
    rational), signalling partition-key viability and dictionary
    encodability.  Σc² runs in exact DECIMAL and gini is ONE division
    of exact integers (< 2^53 through ~9·10⁷ rows per column) —
    deterministic raw, nothing for the fold guard to flag.  One
    combinable groupBy per column, group tables bounded by the
    attribute domain."""
    from processo_etl_spark.quality import profile

    parts = [
        profile.categorical_gini(t(spark, sf_dir, tb), c).withColumn(
            "column", F.lit(f"{tb}.{c}")
        )
        for tb, c in _GINI_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "attribution_linear_touch",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v
      FROM events WHERE event_type IN ('view', 'purchase')),
    c AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_v) OVER (PARTITION BY user_id
                             ORDER BY ts, is_v DESC) AS nv
      FROM e)
    SELECT event_id, user_id, CAST(nv AS BIGINT) AS n_touches,
           CASE WHEN nv > 0 THEN 1.0 / CAST(nv AS DOUBLE) END
             AS credit_per_touch
    FROM c WHERE event_type = 'purchase'
    """,
)
def attribution_linear_touch(spark, sf_dir):
    """Linear multi-touch attribution (operators/temporal
    .linear_touch_attribution): each purchase credits ALL the user's
    at-or-before views equally at 1/n — the position-agnostic model
    completing the attribution family (first/last-touch are the as-of
    joins).  NO inequality join: one per-user running sum over the
    unioned touch+conversion stream (the sessionize shuffle shape);
    equal-timestamp views order before the purchase, so they count.
    credit = one division of exact integers — engine-portable raw;
    zero-touch purchases carry NULL credit, not dropped."""
    from processo_etl_spark.operators import temporal

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = temporal.linear_touch_attribution(
        ev,
        "user_id",
        ["ts"],
        touch_pred=F.col("event_type") == "view",
        conversion_pred=F.col("event_type") == "purchase",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("n_touches").cast("long").alias("n_touches"),
        "credit_per_touch",
    )


@register(
    "split_group_kfold",
    oracle=f"""
    SELECT doc_id, source,
           CAST({_MD5_LONG_SOURCE} % 5 AS INT) AS fold
    FROM documents
    """,
)
def split_group_kfold(spark, sf_dir):
    """GroupKFold assignment (ml/splits.with_group_fold): every doc of
    one SOURCE lands in the same of 5 folds — the cross-validation
    split that keeps correlated rows out of each other's train/test
    sides (row-wise splitting leaks near-duplicates across the
    boundary and inflates eval).  Deterministic md5-prefix hash,
    append-consistent, shuffle-free — the with_split idiom at group
    grain."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return splits.with_group_fold(docs, "source", n_folds=5)


@register(
    "mad_outliers_totalprice",
    oracle="""
    WITH m AS (SELECT median(o_totalprice) AS median FROM orders),
    d AS (SELECT m.median, abs(o_totalprice - m.median) AS dev
          FROM orders, m),
    s AS (SELECT median, median(dev) AS mad FROM d GROUP BY median)
    SELECT s.median, s.mad,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN abs(o_totalprice - s.median)
                              > 3.0 * 1.4826 * s.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders, s
    GROUP BY s.median, s.mad
    """,
)
def mad_outliers_totalprice(spark, sf_dir):
    """Robust outlier count on order totals by Median Absolute
    Deviation (quality/profile.mad_outliers, Hampel's k=3 rule): the
    50%-breakdown-point tier above the graded IQR fence (which fails
    when >25% of the data is outlying).  Two exact-percentile passes +
    one-row broadcast scalar attach — no window; every emitted double
    is a short IEEE chain both engines replay (no fold, raw-portable).
    The percentile→percentile_approx swap at 100 TB follows the
    quartile family's documented deviation."""
    from processo_etl_spark.quality import profile

    return profile.mad_outliers(t(spark, sf_dir, "orders"), "o_totalprice")


@register(
    "seasonality_weekday_profile",
    oracle="""
    WITH e AS (
      SELECT isodow(ts) AS weekday,
             CAST(ROUND(value, 2) AS DECIMAL(12,2)) AS v
      FROM events WHERE value IS NOT NULL),
    tot AS (
      SELECT CAST(sum(v) AS DOUBLE) / count(*) AS avg_all FROM e)
    SELECT CAST(weekday AS INT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS DOUBLE) / count(*) AS avg_value,
           (CAST(sum(v) AS DOUBLE) / count(*)) / tot.avg_all
             AS ratio_to_overall
    FROM e, tot
    GROUP BY weekday, tot.avg_all
    """,
)
def seasonality_weekday_profile(spark, sf_dir):
    """Weekday seasonality profile of event values: per-ISO-weekday
    event count, mean value, and the ratio to the overall mean — the
    first-order seasonal decomposition a monitoring pipeline runs
    before alerting on volume/value anomalies (a Monday dip is
    seasonality, not drift).  Sums run in exact DECIMAL (the dec()
    convention; doubles sum order-dependently), means and the ratio
    are sequential single IEEE divisions of exactly-agreed operands —
    raw-portable.  One combinable groupBy to 7 rows + a one-row
    broadcast scalar attach."""
    from processo_etl_spark.plans.common import dec

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        (F.expr("weekday(ts)") + F.lit(1)).cast("int").alias("weekday"),
        dec("value").alias("v"),
    )
    tot = e.agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("avg_all")
    )
    per = e.groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("avg_value"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "weekday",
        "n_events",
        "avg_value",
        (F.col("avg_value") / F.col("avg_all")).alias("ratio_to_overall"),
    )


@register(
    "asof_next_view_after_purchase",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(CAST(ROUND(p.value, 2) AS DECIMAL(12,2)) AS DOUBLE)
             AS purchase_value,
           v.ts AS view_ts,
           CAST(CAST(ROUND(v.value, 2) AS DECIMAL(12,2)) AS DOUBLE)
             AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def asof_next_view_after_purchase(spark, sf_dir):
    """FORWARD as-of join: for each purchase, the user's EARLIEST
    at-or-after 'view' (did the buyer come back?) — the direction twin
    of the graded backward head asof_purchase_last_view, exercising
    operators/temporal.asof_join(direction='forward'), which had unit
    tests but no oracle-graded head.  Same union-sort shape — one
    shuffle on user_id, no nested loop; DuckDB's ASOF LEFT JOIN with
    ``p.ts <= v.ts`` is the oracle.  asof_join's right-side-unique-ts
    precondition holds here: event timestamps are unique per user in
    this corpus (microsecond grain), like the graded backward head."""
    from processo_etl_spark.operators.temporal import asof_join
    from processo_etl_spark.plans.common import dec

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        dec("value").cast("double").alias("purchase_value"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", dec("value").cast("double").alias("view_value")
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        ts="ts",
        payload=["view_value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.col("ts_right").alias("view_ts"),
        F.col("view_value_right").alias("view_value"),
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH nonp AS (
      SELECT * FROM events WHERE event_type <> 'purchase'),
    flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS changed
      FROM nonp
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(changed) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS version
      FROM flagged),
    hist AS (
      SELECT user_id, version, event_type AS active_type,
             MIN(ts) AS valid_from
      FROM runs GROUP BY 1, 2, 3
      -- two regime runs can share a valid_from when two different
      -- event types carry an identical timestamp; keep the LATEST
      -- version so the as-of winner is deterministic (asof_join's
      -- documented uniqueness precondition)
      QUALIFY row_number() OVER (PARTITION BY user_id, valid_from
                                 ORDER BY version DESC) = 1),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           h.version, h.active_type, h.valid_from
    FROM p ASOF LEFT JOIN hist h
      ON p.user_id = h.user_id AND p.ts >= h.valid_from
    """,
)
def scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time dimension lookup (the warehouse PIT join): each
    purchase fact joins the SCD2 activity-regime dimension (runs of
    the user's non-purchase event types, operators/temporal
    .scd2_history_from_log) AS OF its timestamp — the composition that
    makes Type-2 history usable (the reference loads dimensions as
    snapshots; dag.py has no history at all).  Because SCD2 intervals
    PARTITION each key's timeline (valid_to = next valid_from, no
    gaps), the containing version is exactly the latest
    valid_from ≤ ts, so the lookup is ONE backward as-of join on
    valid_from — no interval predicate, no range join.  Purchases
    before a user's first regime carry NULLs (LEFT semantics).  Two
    regime runs can share a valid_from (two event types at an
    identical timestamp); the dim keeps the LATEST version per
    (user, valid_from) so the as-of winner is deterministic —
    asof_join's documented right-side-unique-ts precondition."""
    from processo_etl_spark.operators.temporal import (
        asof_join,
        scd2_history_from_log,
    )

    ev = t(spark, sf_dir, "events")
    hist = (
        scd2_history_from_log(
            ev.filter(F.col("event_type") != "purchase"),
            "user_id",
            "event_type",
            "ts",
            "event_id",
        )
        .groupBy("user_id", F.col("valid_from").alias("ts"))
        .agg(
            F.max(
                F.struct(
                    F.col("version").cast("long").alias("version"),
                    F.col("event_type").alias("active_type"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            "ts",
            F.col("m.version").alias("version"),
            F.col("m.active_type").alias("active_type"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, hist, on=["user_id"], ts="ts",
        payload=["version", "active_type"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("version_right").alias("version"),
        F.col("active_type_right").alias("active_type"),
        F.col("ts_right").alias("valid_from"),
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
    per AS (
      SELECT user_id,
             CAST(date_diff('second', max(ts), (SELECT now_ts FROM mx))
               AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(ROUND(value, 2) AS DECIMAL(12,2))) AS DOUBLE)
               AS monetary
      FROM events WHERE value IS NOT NULL GROUP BY user_id)
    SELECT user_id, recency_s, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY recency_s ASC, user_id) AS INT)
             AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INT)
             AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT)
             AS m_quartile
    FROM per
    """,
)
def events_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quartiles — the standard behavioral-segmentation recipe): per-user
    seconds-since-last-event (exact integer), event count, and
    exact-decimal value sum, each quartiled with a DETERMINISTIC
    user_id tiebreak.  The oracle's three global NTILE windows are the
    spec; the ENGINE runs operators/ranking.distributed_ntile three
    times (range-partition + per-partition offsets) — at 100 TB the
    user table is millions of rows and a single-partition window would
    serialize it.  recency/frequency are exact ints; monetary is an
    exact-decimal sum cast double — identical ordering keys on both
    engines."""
    from processo_etl_spark.operators.ranking import distributed_ntile
    from processo_etl_spark.plans.common import dec

    ev_all = t(spark, sf_dir, "events")
    ev = ev_all.filter(F.col("value").isNotNull())
    # "now" is the CORPUS frontier (max ts over ALL events, matching the
    # oracle's unfiltered mx) — the per-user metrics then count only
    # valued events; a max-ts event with NULL value must not shift every
    # user's recency
    mx = ev_all.agg(F.max("ts").alias("now_ts"))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(dec("value")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            (
                F.unix_timestamp("now_ts") - F.unix_timestamp("last_ts")
            ).cast("long").alias("recency_s"),
            "frequency",
            "monetary",
        )
    )
    out = distributed_ntile(
        per, [F.asc("recency_s"), F.asc("user_id")], 4, out_col="r_quartile"
    )
    out = distributed_ntile(
        out, [F.desc("frequency"), F.asc("user_id")], 4, out_col="f_quartile"
    )
    out = distributed_ntile(
        out, [F.desc("monetary"), F.asc("user_id")], 4, out_col="m_quartile"
    )
    return out.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        F.col("r_quartile").cast("int").alias("r_quartile"),
        F.col("f_quartile").cast("int").alias("f_quartile"),
        F.col("m_quartile").cast("int").alias("m_quartile"),
    )


@register(
    "eval_agreement_kappa",
    oracle="""
    WITH labeled AS (
      SELECT
        CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 800 THEN 1 ELSE 2 END AS a,
        CASE WHEN length(text) - length(replace(text, ' ', '')) < 30 THEN 0
             WHEN length(text) - length(replace(text, ' ', '')) < 130 THEN 1
             ELSE 2 END AS b
      FROM documents),
    cont AS (
      SELECT a, b, count(*) AS n FROM labeled GROUP BY a, b),
    rows_m AS (SELECT a, SUM(n) AS r FROM cont GROUP BY a),
    cols_m AS (SELECT b, SUM(n) AS c FROM cont GROUP BY b),
    pe AS (
      SELECT CAST(COALESCE(SUM(r * c), 0) AS BIGINT) AS pe_num
      FROM rows_m JOIN cols_m ON rows_m.a = cols_m.b),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS n_agree
      FROM cont)
    SELECT n_docs, n_agree, pe_num,
           CAST(n_docs * n_agree - pe_num AS BIGINT) AS kappa_num,
           CAST(n_docs * n_docs - pe_num AS BIGINT) AS kappa_den
    FROM tot, pe
    """,
)
def eval_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between two independent document-quality labelers
    — the inter-annotator-agreement check a labeling/filtering pipeline
    runs before trusting either signal (two heuristic raters here: a
    char-length bander and a word-count bander, both 3-class and
    deterministic on both engines).

    Float-free by construction: with N docs, A = Σ diagonal agreements
    and pe_num = Σ_i row_i·col_i, kappa = (N·A − pe_num)/(N² − pe_num)
    — numerator and denominator are EXACT BIGINTs (the strongest
    portability class; the analyst divides client-side).

    Scale shape: one scan → combinable (a, b) contingency groupBy (≤ 9
    rows ever, any corpus size); marginals and pe come from the
    contingency, never the corpus; the final one-row × one-row scalar
    attach is the allow-listed linear shape.  At 100 TB the whole
    reduction after the first groupBy touches ≤ 9 rows.

    Magnitude bound (same discipline as the drift_chi2
    guard): kappa_den = N² − pe_num requires N ≤ ⌊√(2⁶³−1)⌋ ≈ 3.037e9
    docs to fit BIGINT — beyond that Spark's non-ANSI long multiply
    would WRAP silently while the DuckDB oracle raises.  The guard
    raises loudly at the first out-of-range N (shard the corpus and
    pool contingencies — they are 9-row mergeable — before then).
    """
    labeled = t(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 800, 1)
        .otherwise(2)
        .alias("a"),
        F.when(
            F.length("text")
            - F.length(F.regexp_replace("text", " ", "")) < 30,
            0,
        )
        .when(
            F.length("text")
            - F.length(F.regexp_replace("text", " ", "")) < 130,
            1,
        )
        .otherwise(2)
        .alias("b"),
    )
    cont = labeled.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    rows_m = cont.groupBy("a").agg(F.sum("n").alias("r"))
    cols_m = cont.groupBy("b").agg(F.sum("n").alias("c"))
    pe = (
        rows_m.join(cols_m, rows_m["a"] == cols_m["b"])
        .agg(F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0)).alias("pe_num"))
    )
    tot = cont.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    n_guarded = F.when(
        F.col("n_docs") > F.lit(3_037_000_499),
        F.raise_error(
            "eval_agreement_kappa magnitude guard: N > 3.037e9 docs "
            "overflows the BIGINT N^2 term (Spark would wrap silently, "
            "the oracle raises); shard the corpus and pool the 9-row "
            "contingencies instead"
        ),
    ).otherwise(F.col("n_docs"))
    return tot.crossJoin(F.broadcast(pe)).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_agree").cast("bigint").alias("n_agree"),
        F.col("pe_num").cast("bigint").alias("pe_num"),
        (n_guarded * F.col("n_agree") - F.col("pe_num"))
        .cast("bigint")
        .alias("kappa_num"),
        (n_guarded * n_guarded - F.col("pe_num"))
        .cast("bigint")
        .alias("kappa_den"),
    )
