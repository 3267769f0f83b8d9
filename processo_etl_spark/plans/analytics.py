"""Training-data and monitoring analytics: deterministic per-key
sampling, an embargoed temporal split, equi-depth binning, rolling
z-score and CUSUM monitors, event-sequence models (Markov transitions,
debounce), distribution audits (weighted median, Benford) and a
sampled triangle estimate.  Each head's Spark plan has a DuckDB oracle
(tests/test_analytics.py runs every pair at sf0.001).

Every head composes ALREADY-CERTIFIED distributed primitives
(operators/ranking.grouped_topk / distributed_ntile, the md5_long hash
family, single-shuffle per-key windows with O(1) sliding state) — no
new shuffle shapes, every output an exact integer / boolean / source
passthrough per the registry's numeric conventions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t

# Shared with the rest of the registry: 60-bit md5 integer, one
# definition per engine (ml/dedup.md5_long ⇔ plans/mlops._md5_long_sql).
from processo_etl_spark.plans.mlops import _md5_long_sql

_SAMPLE_K = 5
_CUTOFF = "2024-01-20 00:00:00"
_EMBARGO_DAYS = 2
_TEST_START = "2024-01-22 00:00:00"
_NTILE_K = 8


SAMPLE_PER_KEY_ORACLE = f"""
    WITH h AS (
      SELECT user_id, event_id,
             {_md5_long_sql("'sample:' || CAST(event_id AS VARCHAR)")} AS hk
      FROM events),
    r AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY hk, event_id) AS rk
      FROM h)
    SELECT user_id, event_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_SAMPLE_K}
"""


@register("sample_per_key_deterministic", oracle=SAMPLE_PER_KEY_ORACLE)
def sample_per_key_deterministic(spark, sf_dir):
    """Deterministic per-key uniform sample — bottom-k by md5 rank
    (k=5 events per user).

    The selection primitive a training-data pipeline needs when
    "sample 5 documents per source" must be reproducible across runs,
    engines, and partitionings: rank rows inside each key by a content
    hash (md5 of the unique event id) and keep the k smallest.
    Bottom-k-by-hash IS the classic mergeable uniform sample (KMV): the
    chosen set is a uniform k-subset under the hash's uniformity, needs
    no RNG state, and two shards' samples merge by re-taking bottom-k.

    Scale shape: operators/ranking.grouped_topk — the salted two-stage
    rank with bounded task state (|group|/64 under any skew), provably
    equal to the single grouped window.  Output: the sampled rows'
    (user_id, event_id, rk) — integers only.
    """
    from processo_etl_spark.operators.ranking import grouped_topk

    ev = t(spark, sf_dir, "events").select("user_id", "event_id")
    h = internal("h")
    hk = F.col(h)
    picked = grouped_topk(
        ev.withColumn(h, _md5_rank(F.col("event_id"))),
        ["user_id"],
        [hk.asc(), F.col("event_id").asc()],
        _SAMPLE_K,
        salt_key=F.col("event_id"),
    )
    return picked.select("user_id", "event_id", F.col("rk").cast("long").alias("rk"))


def _md5_rank(c):
    from processo_etl_spark.ml.dedup import md5_long

    return md5_long(F.concat(F.lit("sample:"), c.cast("string")))


SPLIT_EMBARGO_ORACLE = f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUTOFF}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_TEST_START}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUTOFF}'
                          AND ts < TIMESTAMP '{_TEST_START}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_embargoed,
           (max(CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN ts END) IS NULL
            OR min(CASE WHEN ts >= TIMESTAMP '{_TEST_START}' THEN ts END)
               IS NULL
            OR max(CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN ts END)
               + INTERVAL {_EMBARGO_DAYS} DAYS
              <= min(CASE WHEN ts >= TIMESTAMP '{_TEST_START}' THEN ts END))
             AS leakage_safe
    FROM events GROUP BY user_id
"""


@register("split_temporal_embargo", oracle=SPLIT_EMBARGO_ORACLE)
def split_temporal_embargo(spark, sf_dir):
    """Leakage-safe temporal train/test split with an embargo gap —
    the backtesting discipline for time-ordered training data: train =
    events strictly before the cutoff, test = events at/after cutoff +
    embargo (2 days), rows inside the gap are QUARANTINED (neither
    side) so near-boundary leakage (labels computed from horizons that
    cross the cutoff) cannot occur.

    Emits one row per user: n_train / n_test / n_embargoed exact
    counts plus ``leakage_safe`` — max(train ts) + embargo ≤ min(test
    ts), vacuously true when either side is empty — re-derived from the
    row-level timestamps, so a broken boundary predicate lands False
    and breaks the hash.  One combinable groupBy; the cutoff literals
    push to the scan.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    cutoff = F.lit(_CUTOFF).cast("timestamp_ntz")
    test_start = F.lit(_TEST_START).cast("timestamp_ntz")
    is_train = F.col("ts") < cutoff
    is_test = F.col("ts") >= test_start
    mx_tr, mn_te = internal("mx_tr"), internal("mn_te")
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum(is_train.cast("long")).alias("n_train"),
            F.sum(is_test.cast("long")).alias("n_test"),
            F.sum((~is_train & ~is_test).cast("long")).alias("n_embargoed"),
            F.max(F.when(is_train, F.col("ts"))).alias(mx_tr),
            F.min(F.when(is_test, F.col("ts"))).alias(mn_te),
        )
        .select(
            "user_id",
            "n_train",
            "n_test",
            "n_embargoed",
            (
                F.col(mx_tr).isNull()
                | F.col(mn_te).isNull()
                | (
                    F.col(mx_tr) + F.expr(f"INTERVAL {_EMBARGO_DAYS} DAYS")
                    <= F.col(mn_te)
                )
            ).alias("leakage_safe"),
        )
    )


BINNING_ORACLE = f"""
    WITH b AS (
      SELECT l_extendedprice,
             ntile({_NTILE_K}) OVER (ORDER BY l_extendedprice, l_orderkey,
                                     l_linenumber, l_partkey, l_suppkey)
               AS bin
      FROM lineitem)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
    FROM b GROUP BY bin
"""


@register("feature_binning_equidepth", oracle=BINNING_ORACLE)
def feature_binning_equidepth(spark, sf_dir):
    """Equal-frequency (equi-depth) feature binning: NTILE(8) over
    l_extendedprice — the quantile-bucket featurizer (and the histogram
    a cost-based optimizer keeps).  Each bin row carries its exact
    count and min/max boundary values.

    Scale shape: operators/ranking.distributed_ntile — range partition
    + per-partition offsets, never a one-task global window; the bin
    stats are one combinable groupBy.  The order is made TOTAL with
    the (l_orderkey, l_linenumber, l_partkey, l_suppkey) suffix (the
    fixture's natural key is not unique), so
    bin membership is deterministic on both engines; min/max per bin
    are source passthroughs.
    """
    from processo_etl_spark.operators.ranking import distributed_ntile

    li = t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey",
    )
    binned = distributed_ntile(
        li,
        [
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
        ],
        _NTILE_K,
        out_col="bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .select(F.col("bin").cast("long").alias("bin"), "n", "lo", "hi")
    )


_Z_WIN = 6       # ROWS 6 PRECEDING + current = 7-row rolling frame
_Z_MIN_N = 4     # no verdict on frames shorter than this
_Z_K2 = 9        # z² threshold (3σ)


ANOMALY_ZSCORE_ORACLE = f"""
    WITH d AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS x,
             CAST(count(*) OVER w AS BIGINT) AS n_base,
             CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT)) OVER w,
                           0) AS BIGINT) AS s_centi,
             CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT)
                               * CAST(round(value * 100) AS BIGINT)) OVER w,
                           0) AS BIGINT) AS q_centi
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_Z_WIN} PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, n_base, s_centi, q_centi,
           (n_base >= {_Z_MIN_N}
            AND ((n_base * q_centi - s_centi * s_centi = 0
                  AND n_base * x - s_centi <> 0)
                 OR (n_base * x - s_centi) * (n_base * x - s_centi)
                    > {_Z_K2} * (n_base * q_centi - s_centi * s_centi)))
             AS is_outlier
    FROM d
"""


@register("anomaly_rolling_zscore", oracle=ANOMALY_ZSCORE_ORACLE)
def anomaly_rolling_zscore(spark, sf_dir):
    """Per-key rolling z-score anomaly flags — the monitoring/feature
    primitive (is this event >3σ from its user's recent behavior?) —
    with ZERO floats in the verdict.

    The baseline frame EXCLUDES the current row (ROWS 6 PRECEDING TO
    1 PRECEDING): self-inclusion caps z² at n−1 (a lone spike among 7
    values can never reach 3σ — measured, not guessed), and comparing
    against prior history is the anomaly semantics anyway.  value is
    centi-scaled to exact integers (the fixture is 2-decimal;
    ROUND(·*100) is identical on both engines away from .5 ties), the
    frame keeps running S=Σx and Q=Σx² as integer window sums (O(1)
    sliding state per row, one shuffle on the key), and the 3σ test
    uses the algebraic form (numerically cross-checked against the
    float z-score over 2000 random frames)

        z² > 9  ⇔  (n·x − S)² > 9·(n·Q − S²)

    (σ² over the baseline = (nQ − S²)/n², z = (x − S/n)/σ, so
    z² = (nx − S)²/(nQ − S²)) — pure
    BIGINT arithmetic (|x| ≤ 5·10⁴ centi, n ≤ 6 ⇒ every term ≲ 10¹²),
    so the boolean is bit-identical on any engine without a tolerance
    margin, the same discipline as the fixed-point EWMA.  A
    zero-variance baseline flags any deviation (dev ≠ 0); baselines
    shorter than 4 rows emit false.  Outputs: the baseline's exact
    integer moments + the verdict.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    x = F.round(F.col("value") * 100, 0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_WIN, -1)
    )
    x_col = internal("x")
    d = (
        ev.withColumn(x_col, x)
        .withColumn("n_base", F.count(F.lit(1)).over(w))
        .withColumn("s_centi", F.coalesce(F.sum(x_col).over(w), F.lit(0)))
        .withColumn(
            "q_centi",
            F.coalesce(
                F.sum(F.col(x_col) * F.col(x_col)).over(w), F.lit(0)
            ),
        )
    )
    n, s, q, xv = (
        F.col("n_base"),
        F.col("s_centi"),
        F.col("q_centi"),
        F.col(x_col),
    )
    var_n2 = n * q - s * s  # n²·σ² in centi² — exact integer
    dev = n * xv - s        # n·(x − μ) in centi — exact integer
    return d.select(
        "user_id",
        "event_id",
        n.cast("long").alias("n_base"),
        s.cast("long").alias("s_centi"),
        q.cast("long").alias("q_centi"),
        (
            (n >= _Z_MIN_N)
            & (
                ((var_n2 == 0) & (dev != 0))
                | (dev * dev > F.lit(_Z_K2) * var_n2)
            )
        ).alias("is_outlier"),
    )


MARKOV_TRANSITIONS_ORACLE = """
    WITH s AS (
      SELECT event_type AS src_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst_type
      FROM events)
    SELECT src_type, dst_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(count(*)) OVER (PARTITION BY src_type) AS BIGINT)
             AS n_src_out
    FROM s WHERE dst_type IS NOT NULL
    GROUP BY src_type, dst_type
"""


@register("markov_event_transitions", oracle=MARKOV_TRANSITIONS_ORACLE)
def markov_event_transitions(spark, sf_dir):
    """Event-type Markov transition counts — the journey/path model a
    product-analytics (and agent-trajectory) pipeline fits first: for
    every ordered pair (src, dst) of CONSECUTIVE events within a user's
    timeline, the exact pair count plus the src row-total (the
    denominator of the transition probability, left as an exact integer
    so the output is float-free; P(dst|src) = n_pairs / n_src_out is
    one client-side division).

    Scale shape: one ``lead`` window per user (single shuffle on
    user_id, O(1) sliding state), then a combinable groupBy on the
    (src, dst) pair; the trailing per-src total is a window over the
    GROUPED result — |event_types|² rows, a dimension, never the fact
    table.  Consecutive-pair counting distinguishes this from
    ``sequence_double_click_purchase`` (pattern existence) and
    ``events_pagerank_journeys`` (stationary mass): this head is the
    raw first-order chain those consume.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dst = internal("dst")
    pairs = (
        ev.withColumn(dst, F.lead("event_type").over(w))
        .filter(F.col(dst).isNotNull())
        .groupBy(
            F.col("event_type").alias("src_type"),
            F.col(dst).alias("dst_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return pairs.withColumn(
        "n_src_out",
        F.sum("n_pairs").over(Window.partitionBy("src_type")),
    )


_C_K = 6000    # CUSUM drift allowance, centi-units (60.00)
_C_H = 20000   # alert threshold, centi-units (200.00)


CUSUM_ORACLE = f"""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT) - {_C_K})
                  OVER w AS BIGINT) AS p
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    e AS (
      SELECT user_id, event_id, p,
             min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS mp
      FROM d)
    SELECT user_id, event_id,
           CAST(p - least(0, mp) AS BIGINT) AS s_cusum,
           (p - least(0, mp) > {_C_H}) AS is_alert
    FROM e
"""


@register("changepoint_cusum_alerts", oracle=CUSUM_ORACLE)
def changepoint_cusum_alerts(spark, sf_dir):
    """Per-key one-sided CUSUM changepoint/shift detection with ZERO
    floats in the statistic — the sequential monitor for "has this
    user's value level shifted upward?".

    The textbook recurrence S_i = max(0, S_{i-1} + x_i − k) is
    sequential, but it has an exact windowable closed form: with
    P_i = Σ_{t≤i}(x_t − k) (and P_0 = 0),

        S_i = P_i − min(0, min_{j≤i} P_j)

    (the running reset-to-zero floor IS the running minimum of the
    drifted prefix sum), so two same-spec running windows — a running
    sum and a running min over it — compute the whole CUSUM path with
    one shuffle on the key and O(1) sliding state, no recursion, no
    UDF.  value is centi-scaled to exact BIGINTs (the rolling-zscore
    discipline: the fixture is 2-decimal, ROUND(·*100) matches on both
    engines away from .5 ties), k = 60.00 sits above the global mean
    (≈50) so the statistic drains between bursts, and h = 200.00 makes
    alerts rare-but-present.  Alerts do NOT reset the statistic
    (non-restarting upper CUSUM — the page-level variant would clamp
    after each alarm, which is inherently sequential).  Output: the
    exact integer CUSUM path + the alert verdict, bit-identical on any
    engine.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    x = F.round(F.col("value") * 100, 0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p, m = internal("p"), internal("m")
    d = ev.withColumn(p, F.sum(x - F.lit(_C_K)).over(w)).withColumn(
        m, F.min(p).over(w)
    )
    s = F.col(p) - F.least(F.lit(0).cast("long"), F.col(m))
    return d.select(
        "user_id",
        "event_id",
        s.alias("s_cusum"),
        (s > _C_H).alias("is_alert"),
    )


_DEBOUNCE_US = 86_400_000_000  # 24 h in microseconds


DEBOUNCE_ORACLE = f"""
    WITH g AS (
      SELECT user_id, event_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT user_id, event_id, CAST(gap_us AS BIGINT) AS gap_us
    FROM g
    WHERE gap_us IS NULL OR gap_us >= {_DEBOUNCE_US}
"""


@register("events_debounce_lag", oracle=DEBOUNCE_ORACLE)
def events_debounce_lag(spark, sf_dir):
    """Lag-based per-(user, event_type) debounce — the daily-digest /
    notification-throttle primitive: keep an event only when at least
    24 h passed since the PREVIOUS event of the same type for the same
    user (the first occurrence always survives).  Content-blind
    rate-collapse, complementing the content-hash dedup family and the
    gap SESSIONIZER (which groups rather than drops).

    Lag-relative (each row compares to its immediate predecessor), not
    kept-relative: the true "relative to last KEPT row" debounce is a
    sequential recurrence with no windowable closed form — documented
    here so nobody silently assumes the stronger semantics.  One lag
    window per (user_id, event_type) — single shuffle, O(1) state; the
    gap is an exact microsecond BIGINT via the repo's
    ``unix_micros ⇔ epoch_us`` convention (the fixture carries
    microsecond precision, so second-truncated arithmetic would
    off-by-one across engines).  Output: the surviving rows plus their
    gap (NULL on each key's first row).
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gap = us - F.lag(us).over(w)
    gap_col = internal("gap")
    return (
        ev.withColumn(gap_col, gap)
        .filter(F.col(gap_col).isNull() | (F.col(gap_col) >= _DEBOUNCE_US))
        .select(
            "user_id",
            "event_id",
            F.col(gap_col).cast("long").alias("gap_us"),
        )
    )


WEIGHTED_MEDIAN_ORACLE = """
    WITH h AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT flag, price, w,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY price)
                  AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM h)
    SELECT flag AS l_returnflag, tw AS w_total,
           min(price) AS weighted_median_price
    FROM c WHERE 2 * cw >= tw GROUP BY flag, tw
"""


@register("weighted_median_price_by_flag", oracle=WEIGHTED_MEDIAN_ORACLE)
def weighted_median_price_by_flag(spark, sf_dir):
    """EXACT weighted median (lower/type-1: smallest v with
    2·cumweight(v) ≥ totalweight) of l_extendedprice per l_returnflag,
    weighted by l_quantity — the robust center a revenue-weighted
    report needs, where the plain median over rows answers the wrong
    question.

    Scale shape — no per-group global window anywhere: (1) a
    combinable histogram groupBy on (flag, price) collapses the fact
    table to distinct pairs; (2) ``operators/ranking.distributed_cumsum``
    over the TOTAL order (flag, price) gives the running weight with
    range partitioning + per-partition offsets (histogram rows per
    group can be huge at scale — a ``PARTITION BY flag`` window would
    sort each group in one task); (3) each flag's cum-before-group base
    and its total come from the |flags|-row dimension (broadcast), so
    the per-flag cumulative is cum − base; (4) the median is
    ``min(price) WHERE 2·(cum − base) ≥ total`` — a filter + combinable
    min.  Weights are exact BIGINTs (l_quantity is integral 1..50);
    every comparison is integer; the median itself is a source
    passthrough.
    """
    from pyspark.sql import Window

    from processo_etl_spark.operators.ranking import distributed_cumsum

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    hist = li.groupBy("flag", "price").agg(F.sum("w").alias("w"))
    cum = distributed_cumsum(hist, ["flag", "price"], "w", out_col="cw")
    # totals come from the CUMSUM OUTPUT, whose ranged input is already
    # persisted inside distributed_cumsum — deriving them from `hist`
    # would re-scan and re-aggregate the whole fact table (review
    # finding: the cache manager never substitutes the persisted
    # superset plan for the narrower hist).
    totals = cum.groupBy("flag").agg(F.sum("w").alias("tw"))
    base = totals.withColumn(
        "base",
        F.coalesce(
            F.sum("tw").over(
                Window.orderBy("flag").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    return (
        cum.join(F.broadcast(base), "flag")
        .filter(2 * (F.col("cw") - F.col("base")) >= F.col("tw"))
        .groupBy(F.col("flag").alias("l_returnflag"), F.col("tw").alias("w_total"))
        .agg(F.min("price").alias("weighted_median_price"))
    )


# Benford first-digit expectation, micro-probabilities: round(1e6 *
# log10(1 + 1/d)).  Shared literals in both engines (no runtime float);
# they sum to EXACTLY 1_000_000, so Σ delta_micros = 0 whenever all
# nine digits occur — a free certificate tested below.
_BENFORD_MICROS = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_VALUES = ", ".join(
    f"({d}, {m})" for d, m in _BENFORD_MICROS.items()
)

BENFORD_ORACLE = f"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS centi
      FROM lineitem),
    d AS (
      SELECT CAST(substr(CAST(centi AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM c WHERE centi >= 1),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
          FROM d GROUP BY digit),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g),
    e(digit, exp_micros) AS (VALUES {_BENFORD_VALUES})
    SELECT g.digit, g.n_obs, t.n_total,
           CAST(e.exp_micros AS BIGINT) AS exp_micros,
           CAST(1000000 * g.n_obs - e.exp_micros * t.n_total AS BIGINT)
             AS delta_micros
    FROM g, t
    JOIN e ON e.digit = g.digit
"""


@register("benford_digit_audit", oracle=BENFORD_ORACLE)
def benford_digit_audit(spark, sf_dir):
    """Benford first-significant-digit audit of l_extendedprice — the
    classic fabricated-/truncated-data screen: observed leading-digit
    counts against Benford micro-probabilities, with the residual as an
    exact integer (delta_micros = 10⁶·n_obs − exp_micros·n_total; the
    analyst divides by 10⁶·n_total client-side).

    The leading digit comes from the STRING form of the exact centi
    integer (round(price·100) — scaling by 100 never changes the
    leading digit), because the arithmetic route
    ``x div 10^floor(log10 x)`` runs through float log10 and can
    misclassify at power-of-ten boundaries.  Benford is defined for
    POSITIVE magnitudes only, so rows with centi < 1 are excluded on
    BOTH engines (review finding: a zero centi would emit a Spark
    digit-0/NULL-expectation row the oracle's inner join drops, and a
    negative one would crash DuckDB's CAST('-…' prefix); the filter
    makes digit ∈ 1..9 by construction).  One combinable 9-key
    groupBy + a broadcast one-row total attach; expectations are
    shared integer literals.  (TPC-H prices are bounded uniform-ish,
    NOT Benford — the audit correctly reports large residuals; the
    differential gate grades the computation, not the hypothesis.)
    """
    li = t(spark, sf_dir, "lineitem").select("l_extendedprice")
    centi = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    g = (
        li.select(centi.alias("centi"))
        .filter(F.col("centi") >= 1)
        .select(
            F.substring(F.col("centi").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = g.agg(F.sum("n_obs").alias("n_total"))
    exp = F.create_map(
        *[F.lit(x) for d, m in _BENFORD_MICROS.items() for x in (d, m)]
    )[F.col("digit")].cast("long")
    return (
        g.join(F.broadcast(total))
        .withColumn("exp_micros", exp)
        .select(
            "digit",
            "n_obs",
            "n_total",
            "exp_micros",
            (
                F.lit(1_000_000) * F.col("n_obs")
                - F.col("exp_micros") * F.col("n_total")
            ).alias("delta_micros"),
        )
    )


_TRI_DEN = 4                    # keep an edge iff hash % 4 == 0 (p = 1/4)
_TRI_SCALE = _TRI_DEN ** 3      # 64: each triangle survives with p³


TRIANGLE_SAMPLED_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    e AS (
      SELECT DISTINCT p1.i AS a, p2.i AS b
      FROM pairs p1 JOIN pairs p2 ON p1.g = p2.g AND p1.i < p2.i),
    s AS (
      SELECT a, b FROM e
      WHERE {_md5_long_sql(
          "'tri:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
      )} % {_TRI_DEN} = 0),
    tri AS (
      SELECT count(*) AS t
      FROM s e1
      JOIN s e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN s e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges_total,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS n_edges_sampled,
           CAST(tri.t AS BIGINT) AS tri_sampled,
           CAST(tri.t * {_TRI_SCALE} AS BIGINT) AS est_triangles
    FROM tri
"""


@register("graph_triangle_estimate_sampled", oracle=TRIANGLE_SAMPLED_ORACLE)
def graph_triangle_estimate_sampled(spark, sf_dir):
    """DOULION-style triangle estimation by deterministic edge sampling
    (Tsourakakis et al., KDD'09: sparsify with keep-probability p,
    count exactly on the sparse graph, scale by 1/p³ — unbiased, since
    a triangle survives iff all three edges do) — the scale path an
    sf2.5 campaign proved necessary: EXACT triangle counting on
    the 25× co-purchase graph is inherent Σd_out² work (2.5B wedges;
    the Spark degree-oriented plan finished in 520 s, the naive
    id-ordered SQL oracle had to be killed after 9+ CPU-hours), and
    p = 1/4 cuts the wedge load by p² = 16× Spark-side and makes even
    the naive oracle tractable (1/64 of the triple-join work).

    Sampling is HASH-based (md5_long of the edge key), not RNG-based:
    the sampled subgraph is a pure function of the data, identical
    across engines, partitionings, and reruns — the same determinism
    discipline as every sampler in this registry.  Outputs are exact
    integers about the sampled graph plus the scaled estimate; the
    differential gate certifies the COMPUTATION (sparsify + exact
    count + scale), while the estimator's variance is the documented
    statistical property (Var ≈ T·(1/p³−1) for edge-disjoint
    triangles; measured at sf2.5: est 47,127,232 vs 47,112,200 true —
    +0.03%).  Local caveat, measured: at sf2.5 the pipeline is
    edge-BUILD bound (the 30M-edge distinct co-purchase list costs
    more than the sparsified count), so wall time ≈ the exact head's;
    the p² wedge reduction pays on denser graphs and the p³ oracle
    reduction is what makes certification tractable at stress scales.
    """
    from processo_etl_spark.ml.dedup import md5_long
    from processo_etl_spark.operators import graph

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # The distinct edge list is the dominant cost (the
    # pipeline is edge-BUILD bound) and FOUR relational references hang
    # off it (totals + sampled count + the wedge join's two sides), so
    # it is persisted for the duration of this query only: the bounded
    # scalars are folded eagerly (the documented literal-inject class —
    # same as the two-pass median), the cache is released before
    # returning, and the result is re-emitted as a one-row literal.
    # This keeps one edge build without leaking a ~|E|-row cache into
    # the rest of a multi-query session.
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey").persist()
    try:
        key = md5_long(
            F.concat(
                F.lit("tri:"),
                F.col("a").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        sampled = edges.filter(key % _TRI_DEN == 0)
        counts = edges.agg(
            F.count(F.lit(1)).alias("t"),
            F.sum((key % _TRI_DEN == 0).cast("long")).alias("s"),
        ).first()
        tri = (
            graph.triangle_stats(sampled)
            .agg(
                F.coalesce(F.expr("sum(triangles) div 3"), F.lit(0)).alias(
                    "tri"
                )
            )
            .first()["tri"]
        )
    finally:
        edges.unpersist()
    return spark.createDataFrame(
        [(counts["t"], counts["s"] or 0, tri, tri * _TRI_SCALE)],
        "n_edges_total bigint, n_edges_sampled bigint, "
        "tri_sampled bigint, est_triangles bigint",
    )

