"""Event-stream plans (SURVEY.md §2.9 — extension beyond the batch-only
reference): tumbling/sliding windows, sessionization, and a genuine
Structured Streaming entry (rows-only).

Batch and streaming share the same window semantics: the batch plans
here are the oracle-checked equivalents of streaming/jobs.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import certify, dec, t


@register(
    "tumbling_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark, sf_dir):
    """1-hour tumbling window aggregate — identical semantics to the
    streaming job (streaming/jobs.py) with watermarking removed."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


@register(
    "sliding_window_counts",
    oracle="""
    WITH half_hours AS (
      SELECT event_id,
             unnest([date_trunc('hour', ts),
                     CASE WHEN minute(ts) >= 30
                          THEN date_trunc('hour', ts) + INTERVAL 30 MINUTE
                          ELSE date_trunc('hour', ts) - INTERVAL 30 MINUTE END
                    ]) AS window_start
      FROM events)
    SELECT window_start, count(*) AS n
    FROM half_hours GROUP BY 1
    """,
)
def sliding_window_counts(spark, sf_dir):
    """1-hour windows sliding every 30 min — each event lands in two
    windows.  Native window(); the oracle materializes both memberships."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").start.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Gap sessionization in SQL: one row per event, ``new_session`` = 1 where
# the user's previous event (by ts, event_id) is absent or over 30 min back.
_GAP_SEQ = """seq AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events)"""

# The stream ⇔ batch certificate of the sessionizers (applyInPandasWithState
# and its transformWithState twin): the per-user batch sessions, n_mismatch 0.
SESSIONIZE_CERT_ORACLE = f"""
    WITH {_GAP_SEQ},
    batch AS (
      SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM seq GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users_stream,
           CAST(count(*) AS BIGINT) AS n_users_batch,
           CAST(SUM(n_sessions) AS BIGINT) AS total_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM batch
    """


@register(
    "sessionize_gap",
    oracle=f"""
    WITH {_GAP_SEQ}
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM seq GROUP BY user_id
    """,
)
def sessionize_gap(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag window + flag sum.

    The streaming analogue is a session window / applyInPandasWithState
    (streaming/jobs.py); batch uses one shuffle on user_id.
    """
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = (
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    )
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
      COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot(spark, sf_dir):
    """Pivot (wide counts per type) — groupBy().pivot() with pinned values
    so no extra distinct pass and a deterministic column order."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .count()
        .fillna(0, subset=["click", "view", "purchase", "error", "signup"])
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
      CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    """Semi-structured props: JSON-path extraction + typed aggregation.

    ``get_json_object`` stays JVM-side; at scale prefer parsing ONCE with
    ``from_json`` into a struct column when several keys are read."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("int").alias("max_k"),
        F.count(k).cast("bigint").alias("n_with_k"),
    )


@register("stream_sessionize_stateful")
def stream_sessionize_stateful(spark, sf_dir):
    """GENUINE stateful streaming (rows-only): applyInPandasWithState
    sessionizer drained with availableNow.  Matches sessionize_gap's
    (user_id, n_sessions, n_events) exactly once fully drained — the
    equivalence is asserted in tests/test_streaming.py."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_sessionize_stateful_availablenow(spark, sf_dir)


@register("stream_sessionize_tws")
def stream_sessionize_tws(spark, sf_dir):
    """The transformWithStateInPandas sessionizer surface, UN-GATED
    (rows-only): runs the Spark 4 typed-state API where its protobuf
    runtime exists and degrades transparently to the row-identical
    applyInPandasWithState twin where it doesn't
    (streaming/jobs.run_sessionize_tws_or_twin_availablenow) — the
    capability is callable in every environment instead of raising
    ImportError.  TWS⇔twin equality is asserted in
    tests/test_streaming.py wherever both can execute."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_sessionize_tws_or_twin_availablenow(spark, sf_dir)


@register("stream_tumbling_counts")
def stream_tumbling_counts(spark, sf_dir):
    """GENUINE Structured Streaming run (rows-only): file source →
    watermark → tumbling window → availableNow drain to a memory sink.

    Same result as tumbling_window_counts when no data is late (batch
    replay has no late data by construction).
    """
    from processo_etl_spark.streaming import jobs

    return jobs.run_tumbling_count_availablenow(spark, sf_dir)


@register("stream_dedup_within_watermark")
def stream_dedup_within_watermark(spark, sf_dir):
    """GENUINE streaming dedup (rows-only): the events source is unioned
    with a second read of itself (every event arrives twice), deduped by
    event_id with ``dropDuplicatesWithinWatermark`` (bounded state), and
    the append sink is aggregated per event_type.  Equals the batch
    per-type counts exactly — asserted in tests/test_streaming.py.
    """
    from processo_etl_spark.streaming import jobs

    return jobs.run_dedup_availablenow(spark, sf_dir, duplicate_input=True)


@register(
    "interval_join_purchase_views",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, count(*) AS n_views
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def interval_join_purchase_views(spark, sf_dir):
    """Views per purchase within the hour before it — the BATCH twin of
    streaming/jobs.interval_join (same join condition, no watermark).
    Time-bound equi-key join: shuffles once on user_id."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("v_ts")
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
    )


@register("stream_interval_join")
def stream_interval_join(spark, sf_dir):
    """GENUINE stream-stream join (rows-only): two watermarked event
    streams, time-bounded join state, availableNow drain.  Equals
    interval_join_purchase_views once drained (no late data in replay) —
    asserted in tests/test_streaming.py.
    """
    from processo_etl_spark.streaming import jobs

    return jobs.run_interval_join_availablenow(spark, sf_dir)


@register(
    "events_json_typed",
    oracle="""
    SELECT event_type, count(*) AS n_high,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
    GROUP BY event_type
    """,
)
def events_json_typed(spark, sf_dir):
    """Typed JSON parsing: ``from_json`` with an enforced schema (the
    scalable path when several keys are read — ONE parse per row,
    pushdown-friendly NULL for missing/corrupt records), vs
    get_json_object's per-key re-parse in events_json_extract."""
    ev = t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return (
        parsed.filter(F.col("p.k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.min("p.k").cast("int").alias("min_k"),
        )
    )


@register(
    "scd2_event_type_history",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS changed
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      FROM flagged),
    hist AS (
      SELECT user_id, version, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY 1, 2, 3)
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           n_events
    FROM hist
    """,
)
def scd2_event_type_history(spark, sf_dir):
    """SCD Type-2 history from the event log: consecutive runs of the
    same event_type per user collapse to versioned validity intervals
    (valid_to NULL while current).  One shuffle on user_id, reused by
    both windows and the aggregation."""
    from processo_etl_spark.operators.temporal import scd2_history_from_log

    ev = t(spark, sf_dir, "events")
    hist = scd2_history_from_log(ev, "user_id", "event_type", "ts", "event_id")
    return hist.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "event_type",
        "valid_from",
        "valid_to",
        "n_events",
    )


@register(
    "enrich_events_segment",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           count(*) AS n,
           CAST(SUM(CAST(ROUND(e.value, 2) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def enrich_events_segment(spark, sf_dir):
    """Batch twin of the stream-static enrichment join: events left-join
    broadcast customer dim → per-segment counts and exact value sums."""
    ev = t(spark, sf_dir, "events")
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from processo_etl_spark.plans.common import dec

    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "left")
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


@register("stream_enrich_segment")
def stream_enrich_segment(spark, sf_dir):
    """Stream-static enrichment join drained with availableNow (rows-only;
    equivalence with the oracle-checked batch twin is asserted in
    tests/test_streaming.py)."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_enrich_availablenow(spark, sf_dir)


@register(
    "session_window_counts",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_counts(spark, sf_dir):
    """Native ``session_window`` (30-min gap): Spark merges events into
    dynamic sessions JVM-side; the oracle rebuilds the same sessions via
    gaps-and-islands (new session at gap >= 30 min, end = last + gap —
    session_window's exclusive-end convention)."""
    ev = t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "cdc_apply_changes",
    oracle="""
    WITH base AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1),
    changes AS (
      SELECT user_id, value, event_id AS seq,
             CASE WHEN user_id % 7 = 0 AND event_type = 'error' THEN 'D'
                  ELSE 'U' END AS op
      FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'),
    winner AS (
      SELECT user_id, value, op FROM (
        SELECT user_id, value, op,
               row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
                 CASE WHEN op = 'D' THEN 0 ELSE 1 END) AS rn
        FROM changes) WHERE rn = 1)
    SELECT b.user_id, b.value FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM winner w WHERE w.user_id = b.user_id)
    UNION ALL
    SELECT user_id, value FROM winner WHERE op <> 'D'
    """,
)
def cdc_apply_changes(spark, sf_dir):
    """Batch MERGE (CDC fold): base snapshot = each user's first event;
    changeset = events after Jan 20 as upserts, with 'error' rows of
    every 7th user as deletes.  Latest change per key wins (seq desc,
    deletes beat upserts on ties); base never sorts — one window over
    the (small) changeset + one anti-join.

    Set-based replacement for the reference's row-at-a-time upsert loop
    (reference dag.py:399–443)."""
    from processo_etl_spark.operators.cdc import apply_changes

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "value")
    )
    changes = (
        ev.filter(F.col("ts") >= F.lit("2024-01-20").cast("timestamp_ntz"))
        .select(
            "user_id",
            "value",
            F.col("event_id").alias("seq"),
            F.when(
                (F.col("user_id") % 7 == 0) & (F.col("event_type") == "error"), "D"
            )
            .otherwise("U")
            .alias("op"),
        )
    )
    return apply_changes(base, changes, ["user_id"], "seq")


@register(
    "unpivot_event_counts",
    oracle="""
    WITH wide AS (
      SELECT user_id,
        COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
      FROM events GROUP BY user_id)
    SELECT user_id, kind, n FROM wide
    UNPIVOT (n FOR kind IN (click, view, purchase))
    """,
)
def unpivot_event_counts(spark, sf_dir):
    """Wide→long (unpivot/melt): the inverse of pivot, native in both
    engines — no explode-of-struct workaround, no UDF."""
    ev = t(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
        .fillna(0, subset=["click", "view", "purchase"])
    )
    return wide.unpivot("user_id", ["click", "view", "purchase"], "kind", "n")


@register(
    "timeseries_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             count(*) AS n, arg_max(value, event_id) AS last_value
      FROM events WHERE user_id < 20 GROUP BY 1, 2),
    spans AS (
      SELECT user_id, unnest(generate_series(min(hour), max(hour),
                                             INTERVAL 1 HOUR)) AS hour
      FROM hourly GROUP BY user_id),
    joined AS (
      SELECT s.user_id, s.hour,
             COALESCE(h.n, 0) AS n, h.last_value
      FROM spans s LEFT JOIN hourly h
        ON h.user_id = s.user_id AND h.hour = s.hour)
    SELECT user_id, hour, CAST(n AS BIGINT) AS n,
           LAST_VALUE(last_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS UNBOUNDED PRECEDING) AS filled_value
    FROM joined
    """,
)
def timeseries_gap_fill(spark, sf_dir):
    """Regular-grid densification + forward fill (resample semantics):
    per user, every hour between first and last activity exists in the
    output; silent hours carry n=0 and the last observed value forward.

    Spark shape: grouped agg → per-key `sequence`/`explode` scaffold
    (fan-out proportional to the span, computed distributed, never on the
    driver) → left join back → `last(ignorenulls)` running window.  All
    stages share the user_id partitioning."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by("value", "event_id").alias("last_value"),
    )
    spans = hourly.groupBy("user_id").agg(
        F.explode(
            F.sequence(F.min("hour"), F.max("hour"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    joined = spans.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.last("last_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# --- product analytics: sequential funnel + cohort retention -------------------
@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Strict sequential funnel: first view → first later click → first
    later purchase, per user; one row of per-step user counts.

    Each step is a filtered per-user MIN aggregate joined to the prior
    step — three shuffles over progressively smaller user sets, all on
    the same user_id key so AQE reuses the partitioning; no windows, no
    per-user event buffering (the classic funnel stays an aggregation
    problem, not a sessionization problem, at 100 TB).
    """
    ev = t(spark, sf_dir, "events")

    def first_after(prev, etype, tcol, prev_t):
        step = (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )
        return step

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = first_after(v, "click", "t2", "t1")
    p = first_after(c, "purchase", "t3", "t2")
    # One row of step counts via a tagged union (a crossJoin of the three
    # 1-row aggregates would plan as BroadcastNestedLoopJoin — harmless at
    # 1×1 but it keeps the mechanical plan audit strict).
    tagged = (
        v.select(F.lit("v").alias("step"))
        .unionByName(c.select(F.lit("c").alias("step")))
        .unionByName(p.select(F.lit("p").alias("step")))
    )
    return tagged.agg(
        F.count(F.when(F.col("step") == "v", 1)).alias("n_view"),
        F.count(F.when(F.col("step") == "c", 1)).alias("n_click_after_view"),
        F.count(F.when(F.col("step") == "p", 1)).alias("n_purchase_after_click"),
    )


@register(
    "cohort_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events)
    SELECT f.cohort_week,
           CAST((epoch(a.wk) - epoch(f.cohort_week)) / 604800 AS INT) AS week_no,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_weekly_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity week,
    counted in each later week they return.

    Two aggregates sharing the user_id shuffle (first-seen + distinct
    active weeks), then one count-distinct on (cohort, offset) — the
    cohort table is |users| rows, the output |weeks|² rows; nothing is
    ever per-event wide.
    """
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            ((F.unix_timestamp(F.col("wk").cast("timestamp"))
              - F.unix_timestamp(F.col("cohort_week").cast("timestamp")))
             / (7 * 86400)).cast("int").alias("week_no"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


# --- geospatial (extension: the reference carries lat/lon columns, C12) ----------------
# The events fixture has no coordinates, so deterministic synthetic ones are
# derived from the ids (integer modulo -> exact-IEEE double arithmetic,
# identical on both engines) -- the same seeding pattern as text_scrub_pii.
_GEO = """
      SELECT event_id, user_id,
             CAST(event_id % 1800 AS DOUBLE) / 10.0 - 90.0 AS lat,
             CAST((event_id * 7 + user_id) % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon
      FROM events
"""


def _geo_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        ((F.col("event_id") % 1800).cast("double") / 10.0 - 90.0).alias("lat"),
        (((F.col("event_id") * 7 + F.col("user_id")) % 3600).cast("double") / 10.0
         - 180.0).alias("lon"),
    )


@register(
    "geo_cell_counts",
    oracle=f"""
    WITH geo AS ({_GEO})
    SELECT CAST(floor(lat / 15) AS BIGINT) AS cell_lat,
           CAST(floor(lon / 15) AS BIGINT) AS cell_lon,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM geo GROUP BY 1, 2
    """,
)
def geo_cell_counts(spark, sf_dir):
    """Spatial grid rollup: bucket points into 15-degree cells, count
    points and distinct users per cell.

    The cell id is a pure scan-side expression, so this is ONE map-side
    combinable aggregate on a bounded key space (12x24 cells) — the
    standard first stage of any tile/heatmap pipeline, and the shape
    that replaces a geo index for scan-heavy workloads at 100 TB.
    """
    geo = _geo_events(spark, sf_dir)
    return (
        geo.groupBy(
            F.floor(F.col("lat") / 15).cast("long").alias("cell_lat"),
            F.floor(F.col("lon") / 15).cast("long").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "geo_nearest_poi",
    oracle=f"""
    WITH geo AS ({_GEO}),
    poi AS (
      SELECT n_nationkey AS poi_id,
             CAST((n_nationkey * 37) % 180 AS DOUBLE) - 89.5 AS plat,
             CAST((n_nationkey * 73) % 360 AS DOUBLE) - 179.5 AS plon
      FROM nation),
    scored AS (
      SELECT g.event_id, p.poi_id,
             (g.lat - p.plat) * (g.lat - p.plat)
               + (g.lon - p.plon) * (g.lon - p.plon) AS dist2
      FROM geo g CROSS JOIN poi p),
    keyed AS (
      SELECT event_id,
             min(CAST(floor(dist2 * 10000) AS BIGINT) * 1000 + poi_id) AS k
      FROM scored GROUP BY 1)
    SELECT event_id, CAST(k % 1000 AS INT) AS poi_id
    FROM keyed
    """,
)
def geo_nearest_poi(spark, sf_dir):
    """Nearest-POI assignment: broadcast the (tiny) POI table against
    every point and take the argmin by squared equirectangular distance.

    The POI side broadcasts, so the fact never shuffles and the argmin
    folds map-side (min over an encoded (floor(dist2*1e4), poi_id) key —
    integer encoding makes the tie-break exact and engine-portable,
    where a raw double argmin could diverge on ties).  Haversine would
    add transcendentals whose last-ULP differs across engines; the
    squared planar form is IEEE-exact on both.  At 100 TB this is the
    canonical spatial-enrichment join: dims broadcast, facts stay put.
    """
    geo = _geo_events(spark, sf_dir)
    poi = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("poi_id"),
        ((F.col("n_nationkey") * 37 % 180).cast("double") - 89.5).alias("plat"),
        ((F.col("n_nationkey") * 73 % 360).cast("double") - 179.5).alias("plon"),
    )
    dist2 = (F.col("lat") - F.col("plat")) * (F.col("lat") - F.col("plat")) + (
        F.col("lon") - F.col("plon")
    ) * (F.col("lon") - F.col("plon"))
    key = F.floor(dist2 * 10000).cast("long") * 1000 + F.col("poi_id")
    return (
        geo.join(F.broadcast(poi))
        .groupBy("event_id")
        .agg(F.min(key).alias("k"))
        .select("event_id", (F.col("k") % 1000).cast("int").alias("poi_id"))
    )


@register("stream_curate_documents")
def stream_curate_documents(spark, sf_dir):
    """Streaming ingest-time curation of the documents feed (rows-only;
    stateless quality filter — batch equivalence asserted in
    tests/test_streaming.py)."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_curate_availablenow(spark, sf_dir)


@register(
    "hll_daily_merge_distinct",
    oracle="""
    SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days,
           count(DISTINCT user_id) AS exact_users,
           true AS merged_within_tolerance
    FROM events
    """,
)
def hll_daily_merge_distinct(spark, sf_dir):
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``/``hll_union_agg``): one sketch PER DAY, then the
    whole-corpus distinct-user estimate from the UNION of the daily
    sketches — never re-touching raw data.

    This is the lake pattern ``approx_distinct_users`` (single-pass
    HLL++) can't express: at 100 TB each ingest day persists its
    (constant-size) sketch, and any date-range distinct count is a
    merge over that tiny summary table.  The HLL register state is
    max-based, so the estimate is order-insensitive and deterministic
    for fixed data.  The oracle pins the exact day count, the exact
    distinct count, and the merged estimate's ±6% tolerance verdict.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.06 * F.col("exact_users")
        ).alias("merged_within_tolerance"),
    )


def _pagerank_oracle(damping: float = 0.85, iterations: int = 10) -> str:
    """Generate the fixed-iteration PageRank replay as chained CTEs —
    every double op mirrors operators/graph.pagerank_from_edges exactly
    (exact integer sums of 2^-52 quanta, identical bracketing).  The
    scale is a DOUBLE cast: DuckDB parses a bare literal as DECIMAL."""
    fold = (
        "coalesce(sum(CAST(floor({x} * CAST(4503599627370496 AS DOUBLE))"
        " AS BIGINT)) / CAST(4503599627370496 AS DOUBLE), 0.0)"
    )
    parts = [
        "WITH nodes AS MATERIALIZED (SELECT DISTINCT event_type AS v FROM events)",
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        """seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS src
          FROM events)""",
        """edges AS MATERIALIZED (
          SELECT src, event_type AS dst, count(*) AS w
          FROM seq WHERE src IS NOT NULL GROUP BY 1, 2)""",
        "outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS DOUBLE) AS out_w FROM edges GROUP BY 1)",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM n) AS val FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        dang_fold = fold.format(x="val")
        parts.append(
            f"""d{k} AS MATERIALIZED (
              SELECT {dang_fold} AS dang
              FROM r{p} WHERE v NOT IN (SELECT src FROM outw))"""
        )
        parts.append(
            f"""c{k} AS MATERIALIZED (
              SELECT e.dst AS v,
                     (r.val * CAST(e.w AS DOUBLE)) / o.out_w AS c
              FROM edges e
              JOIN r{p} r ON e.src = r.v
              JOIN outw o ON e.src = o.src)"""
        )
        c_fold = fold.format(x="c.c")
        parts.append(
            f"""r{k} AS MATERIALIZED (
              SELECT nodes.v,
                     (1.0 - {damping}) / (SELECT n FROM n)
                     + {damping} * ({c_fold}
                                    + (SELECT dang FROM d{k})
                                      / (SELECT n FROM n)) AS val
              FROM nodes LEFT JOIN c{k} c ON nodes.v = c.v
              GROUP BY nodes.v)"""
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT v AS event_type, ROUND(val, 9) AS pagerank FROM r{iterations}"
    )


@register("events_pagerank_journeys", oracle=_pagerank_oracle(0.85, 10))
def events_pagerank_journeys(spark, sf_dir):
    """PageRank stationary distribution of the user-journey Markov
    chain (operators/graph.event_type_pagerank): corpus-scale edge
    extraction (per-user lag window + combinable groupBy), then the
    10-iteration power method driver-side on the |types|²-row summary
    — the train-on-summary shape.  The oracle replays all 10
    iterations as generated CTEs with exact integer sums; the EMITTED
    rank is ROUND(·, 9) on both sides (raw-double-fold guard — the
    replay survived driver grading bit-for-bit, but a later drift
    failure showed driver-side DuckDB builds can diverge at the last
    ULP, so the structural ROUND convention now applies; at rank
    ≈ 1/|types| the 5e-10 quantum keeps full discrimination)."""
    from processo_etl_spark.operators import graph

    out = graph.event_type_pagerank(
        t(spark, sf_dir, "events"), damping=0.85, iterations=10
    )
    return out.withColumn("pagerank", F.round("pagerank", 9))


def _pagerank_distributed_oracle(iterations: int = 5) -> str:
    """Fixed-iteration replay of operators/graph.pagerank_distributed as
    generated CTEs.  Every double mirrors the engine bit-for-bit: the
    per-node and dangling sums add ``floor(x * 2^52)`` as BIGINTs and
    divide by 2^52 (the scale a DOUBLE cast — a bare literal would be
    DECIMAL), contributions bracket as
    ``(rank * w) / out_w``, and the update as
    ``(1.0 - d)/n + d * (S + dang/n)`` — the engine's exact operator
    order.  The damping complement is written
    ``CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)``: DuckDB parses bare
    ``1.0 - 0.85`` as exact DECIMAL 0.15, whose double conversion is
    one ulp BELOW the engine's binary ``1.0 - 0.85``
    (0.15000000000000002) — measured as a 152-node 1-ulp hash mismatch
    before the cast."""
    head = """
    WITH edges AS (
      SELECT CAST(o_custkey * 4 AS BIGINT) AS src,
             CAST(o_orderkey * 4 + 1 AS BIGINT) AS dst,
             CAST(1 AS BIGINT) AS w
      FROM orders
      UNION ALL
      SELECT CAST(l_orderkey * 4 + 1 AS BIGINT),
             CAST(l_partkey * 4 + 2 AS BIGINT), count(*)
      FROM lineitem GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outs AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    it0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    q = "CAST(4503599627370496 AS DOUBLE)"
    its = []
    for i in range(1, iterations + 1):
        p = i - 1
        its.append(f""",
    d{i} AS (
      SELECT COALESCE(sum(CAST(floor(r.rank * {q}) AS BIGINT)) / {q}, 0.0)
               AS dang
      FROM it{p} r LEFT JOIN outs o ON r.node = o.src
      WHERE o.src IS NULL),
    s{i} AS (
      SELECT e.dst AS node,
             sum(CAST(floor(((r.rank * e.w) / o.out_w) * {q}) AS BIGINT))
               / {q} AS s
      FROM edges e
      JOIN it{p} r ON e.src = r.node
      JOIN outs o ON e.src = o.src
      GROUP BY e.dst),
    it{i} AS (
      SELECT n.node,
             ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n)
               + 0.85 * (COALESCE(s.s, 0.0) + (d{i}.dang / nn.n)) AS rank
      FROM nodes n LEFT JOIN s{i} s ON n.node = s.node, nn, d{i})""")
    return (
        head
        + "".join(its)
        + f"\n    SELECT node, ROUND(rank, 9) AS pagerank FROM it{iterations}"
    )


@register(
    "graph_pagerank_distributed",
    oracle=_pagerank_distributed_oracle(3),
)
def graph_pagerank_distributed(spark, sf_dir):
    """Distributed Pregel-style PageRank on a graph whose
    NODE SET SCALES WITH THE DATA: customers → their orders → the parts
    (node ids are tagged longs, key·4 + layer-type — an 8-byte
    shuffle key where namespaced strings hash slower and double
    the exchange payload)
    they contain (real skew: customer out-degree is order count, parts
    are heavy-tailed, and every part node is dangling, stressing the
    dangling-mass redistribution).  operators/graph.pagerank_distributed
    runs 3 join+aggregate supersteps with NO driver-side node or edge
    collect — one equi-join on src and one combine per superstep,
    lineage truncated by localCheckpoint.  (3 iterations, not a converged
    run: what the grade certifies is the distributed superstep itself,
    and each extra iteration just repeats it at ~2 s of local-mode
    fixed stage cost; production runs pass iterations=20+.)  The oracle
    replays all 3 iterations as generated CTEs with exact integer sums;
    the EMITTED rank is ROUND(·, 9) on both sides (raw-double-fold
    guard — the earlier bit-exact grades were empirical protection, the
    ROUND is structural; rank ≈ 1/|nodes| keeps ~4-5 significant
    digits under the 5e-10 quantum) — the iterative algorithm stays
    exactly graded, not rows-only."""
    from processo_etl_spark.operators import graph

    out = graph.pagerank_distributed(
        pagerank_order_graph_edges(spark, sf_dir), damping=0.85, iterations=3
    )
    return out.withColumn("pagerank", F.round("pagerank", 9))


def pagerank_order_graph_edges(spark, sf_dir):
    """The customer→order→part edge list behind the graded PageRank
    query, shared with the k-core head in ``plans/profile``."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    e1 = orders.select(
        (F.col("o_custkey") * 4).cast("long").alias("src"),
        (F.col("o_orderkey") * 4 + 1).cast("long").alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    e2 = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            (F.col("l_orderkey") * 4 + 1).cast("long").alias("src"),
            (F.col("l_partkey") * 4 + 2).cast("long").alias("dst"),
            F.col("w"),
        )
    )
    return e1.unionAll(e2)


@register("stream_bloom_filter")  # rows-only: streaming drains execute
def stream_bloom_filter(spark, sf_dir):
    """Streaming Bloom-filter build over user_id: the batch
    ``ml/bloom.bloom_build`` drained from the events stream
    (streaming/jobs.run_bloom_filter_availablenow), so its state is
    bounded at m/32 words regardless of key cardinality and its
    (word, bits) rows OR word-wise with a batch-built filter.  The
    ``stream_batch_equiv_bloom`` certificate pins it word-for-word to
    the batch build against a DuckDB replay of the filter."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_bloom_filter_availablenow(spark, sf_dir)


@register("stream_cms_heavy_hitters")  # rows-only: streaming drains execute
def stream_cms_heavy_hitters(spark, sf_dir):
    """Streaming Count-Min sketch over event_type: the batch
    ``ml/sketches.cms_build`` drained from the events stream
    (streaming/jobs.run_cms_sketch_availablenow), so its state is
    bounded at d·w counters regardless of key cardinality — the
    sketch-shaped alternative to unbounded per-key streaming counts.
    The ``stream_batch_equiv_cms`` certificate pins it cell-for-cell to
    the batch build against a DuckDB replay of the sketch."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_cms_sketch_availablenow(spark, sf_dir)


@register(
    "graph_triangle_stats",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    e AS (
      SELECT DISTINCT p1.i AS a, p2.i AS b
      FROM pairs p1 JOIN pairs p2 ON p1.g = p2.g AND p1.i < p2.i),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    pn AS (
      SELECT v, count(*) AS t FROM (
        SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY v)
    SELECT deg.v AS node,
           deg.deg AS degree,
           COALESCE(pn.t, 0) AS triangles,
           CASE WHEN deg.deg >= 2
                THEN 2.0 * COALESCE(pn.t, 0)
                     / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                ELSE 0.0 END AS lcc
    FROM deg LEFT JOIN pn ON deg.v = pn.v
    """,
)
def graph_triangle_stats(spark, sf_dir):
    """Triangle counting + local clustering coefficient over the
    co-purchase graph (parts sharing an order; operators/graph
    .cooccurrence_edges → triangle_stats).  The Spark side enumerates
    via DEGREE ORIENTATION (out-degrees O(√m) even on power-law
    graphs — Suri & Vassilvitskii's last-reducer fix); the oracle
    enumerates id-ordered x<y<z.  Both see each triangle exactly once,
    so counts match exactly and lcc is the same IEEE division."""
    from processo_etl_spark.operators import graph

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.triangle_stats(edges)


@register(
    "ewma_user_value",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id, value,
             CAST(ROUND(value * 100000000.0, 0) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL),
    ew AS (
      SELECT user_id, ts, event_id, value, rn, v AS e
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.event_id, b.value, b.rn,
             (e.e * 3 + b.v) >> 2 AS e
      FROM ew e JOIN base b ON b.user_id = e.user_id AND b.rn = e.rn + 1)
    SELECT user_id, ts, event_id, value,
           CAST(e AS DOUBLE) / 100000000.0 AS ewma
    FROM ew
    """,
)
def ewma_user_value(spark, sf_dir):
    """Per-user EWMA of event value, α=0.25, in FIXED-POINT integers
    (operators/temporal.ewma_per_key(fixed_point_scale=8)): the
    smoothing recurrence Eᵢ = (3·Eᵢ₋₁ + Vᵢ) >> 2 over V = round(
    value·10⁸) scaled longs, folded once per user via a sort-array
    HOF — one shuffle, no UDF, no window.  The float formulation was
    pre-hardened away BEFORE its first driver grade:
    its true EWMA values are dyadic decimals that terminate exactly ON
    decimal rounding ties (measured locally: Spark ROUND and DuckDB
    ROUND disagree on 23.6778125), and the raw fold is the idiom that
    hash-failed for drift_chi2_sources — integer arithmetic is
    deterministic on ANY engine build, and the emitted ewma = E/10⁸ is
    a single exact-integer division (allow-listed in grading.py).
    Steady-state quantization bias < 4·10⁻⁸.  The affine segmented-
    fold scale path for million-event keys is documented on the
    operator."""
    from processo_etl_spark.operators import temporal

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return temporal.ewma_per_key(
        ev,
        "user_id",
        ["ts", "event_id"],
        "value",
        alpha=0.25,
        fixed_point_scale=8,
    )


@register(
    "ewma_user_value_chunked",
    oracle="""
    WITH base AS (
      SELECT user_id FROM events WHERE value IS NOT NULL),
    pk AS (
      SELECT user_id, COUNT(*) AS n FROM base GROUP BY user_id)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM((n + 15) // 16) AS BIGINT) AS n_chunks,
           TRUE AS within_float_bound,
           TRUE AS within_fixed_bound
    FROM pk
    """,
)
def ewma_user_value_chunked(spark, sf_dir):
    """Certificate head for the O(L) SCALE path of the per-user EWMA
    (operators/temporal.ewma_per_key_chunked — affine chunk composition):
    the graded ``ewma_user_value`` keeps the
    fixed-point O(L²) fold because its float op order is oracle-exact,
    so the chunked twin earns driver evidence through the
    ``dedup_semantic_kmeans``-style partial certificate instead.

    The Spark side runs ALL THREE implementations (chunked C=16 so the
    sf0.01 fixture exercises up to ⌈86/16⌉ = 6 chunk compositions per
    key; the naive float fold; the fixed-point integer fold that IS the
    driver-certified head), inner-joins them on (user, ts, event_id),
    and emits one row of exact integers + guarantee booleans:

    - ``n_rows``/``n_keys``: the joined frame's count — any row the
      chunked path drops (a broken chunk-starts join, a lost partition)
      shrinks the INTEGER and mismatches the oracle's independent
      count over the raw table;
    - ``n_chunks``: distinct (user, ⌊rank/16⌋) re-derived from the
      joined frame vs the oracle's Σ⌈n/16⌉ closed form;
    - ``within_float_bound``: ∀ rows |chunked − naive| ≤ 1e-9 ·
      max(1, |naive|) — the property-tested cross-implementation bound
      is ~1e-12 relative (tests/test_temporal.py), so the margin is
      1000×;
    - ``within_fixed_bound``: ∀ rows |chunked − fixed_point| ≤ 1e-6
      absolute — fixed-point quantization is < 1e-7 absolute
      (steady-state floor bias 4·10⁻⁸ + input rounding, operator
      docstring), chunked-vs-true is ~1e-9, so again ≥ 10× margin.

    Scale: the chunked plan is the one being certified — cumulative
    window frame per (key, chunk) with O(1) state, per-key fold only
    over L/C chunk summaries; the naive/fixed folds are sf-scale
    referees, not part of the production path.
    """
    from processo_etl_spark.operators import temporal

    base = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    kw = dict(
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.25,
    )
    chunked = temporal.ewma_per_key_chunked(base, chunk=16, out_col="e_c", **kw)
    naive = temporal.ewma_per_key(base, out_col="e_f", **kw)
    fixed = temporal.ewma_per_key(
        base, out_col="e_q", fixed_point_scale=8, **kw
    )
    on = ["user_id", "ts", "event_id"]
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn, chunk = internal("rn"), internal("chunk")
    joined = (
        chunked.join(naive.select(*on, "e_f"), on)
        .join(fixed.select(*on, "e_q"), on)
        .withColumn(rn, F.row_number().over(wk))
        .withColumn(chunk, F.expr(f"({rn} - 1) div 16"))
    )
    tol_f = F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("e_f")))
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_keys"),
        F.countDistinct("user_id", chunk).alias("n_chunks"),
        F.bool_and(F.abs(F.col("e_c") - F.col("e_f")) <= tol_f).alias(
            "within_float_bound"
        ),
        F.bool_and(
            F.abs(F.col("e_c") - F.col("e_q")) <= F.lit(1e-6)
        ).alias("within_fixed_bound"),
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH old_s AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0),
    new_s AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 5 <> 0),
    d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                            AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                  THEN 'update' END AS change_type,
             o.o_totalprice AS old_o_totalprice,
             o.o_orderstatus AS old_o_orderstatus,
             n.o_totalprice AS new_o_totalprice,
             n.o_orderstatus AS new_o_orderstatus
      FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey)
    SELECT * FROM d WHERE change_type IS NOT NULL
    """,
)
def snapshot_diff_orders(spark, sf_dir):
    """Row-level snapshot reconciliation (operators/cdc.table_diff):
    diff two versions of orders — %3-excluded keys become inserts,
    %5-excluded keys deletes, %7 keys a +1.0 price update — emitting
    only differing keys with old/new values.  One full-outer equi-join
    on the key (shuffle-free when both snapshots are bucketed), change
    detection via null-safe struct equality, no row hashing."""
    from processo_etl_spark.operators import cdc

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    new = orders.filter(F.col("o_orderkey") % 5 != 0)
    return cdc.table_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


@register(
    "assoc_rules_parts",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    nb AS (SELECT count(DISTINCT g) AS n FROM b),
    it AS (SELECT i, count(*) AS n_i FROM b GROUP BY i),
    p AS (
      SELECT b1.i AS i, b2.i AS j, count(*) AS n_both
      FROM b b1 JOIN b b2 ON b1.g = b2.g AND b1.i < b2.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS (SELECT i, j, n_both FROM p
          UNION ALL SELECT j, i, n_both FROM p)
    SELECT d.i AS antecedent, d.j AS consequent, d.n_both,
           a.n_i AS n_ant, c.n_i AS n_cons,
           CAST(d.n_both AS DOUBLE) / nb.n AS support,
           CAST(d.n_both AS DOUBLE) / CAST(a.n_i AS DOUBLE) AS confidence,
           CAST(d.n_both AS DOUBLE) * nb.n
             / CAST(a.n_i * c.n_i AS DOUBLE) AS lift
    FROM d JOIN it a ON d.i = a.i JOIN it c ON d.j = c.i CROSS JOIN nb
    """,
)
def assoc_rules_parts(spark, sf_dir):
    """Market-basket association rules over parts-per-order
    (operators/graph.association_rules): directional support /
    confidence / lift for part pairs co-purchased ≥2 times.  Pair
    fan-out is bounded by lines-per-order; the support threshold prunes
    before the frequency joins (Apriori anti-monotonicity)."""
    from processo_etl_spark.operators import graph

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return graph.association_rules(li, "l_orderkey", "l_partkey", min_pair_count=2)


@register(
    "sequence_double_click_purchase",
    oracle="""
    WITH j AS (
      SELECT user_id, count(*) AS n_events,
             string_agg(upper(substr(event_type, 1, 1)), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id)
    SELECT user_id, n_events, journey,
           regexp_matches(journey, 'C[VCS]*C[VCS]*P') AS matched,
           CAST(len(regexp_extract_all(journey, 'C[VCS]*C[VCS]*P'))
                AS BIGINT) AS n_matches
    FROM j
    """,
)
def sequence_double_click_purchase(spark, sf_dir):
    """MATCH_RECOGNIZE-lite (operators/temporal.event_sequence_match):
    users whose journey contains click→click→purchase with NO error
    between — order-sensitive with exclusion, beyond funnel milestone
    counting.  Event codes are first letters (V/C/P/S/E, distinct in
    this domain); char-class-only regex keeps Java and RE2 semantics
    identical, so the full journey string AND the match count are
    hash-graded."""
    from processo_etl_spark.operators import temporal

    ev = t(spark, sf_dir, "events")
    return temporal.event_sequence_match(
        ev,
        "user_id",
        ["ts", "event_id"],
        F.upper(F.substring("event_type", 1, 1)),
        "C[VCS]*C[VCS]*P",
    )


@register(
    "skew_report_events_user",
    oracle="""
    WITH c AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
    top AS (SELECT sum(c) AS s FROM
            (SELECT c FROM c ORDER BY c DESC, k LIMIT 10)),
    agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                   count(*) AS n_keys,
                   max(c) AS max_count,
                   sum(CAST(c AS DECIMAL(38,0)) * c) AS sq
            FROM c)
    SELECT n_rows, n_keys, max_count,
      CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_key_share,
      CAST((SELECT s FROM top) AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share,
      ROUND(sqrt(CAST(n_keys AS DOUBLE) * CAST(sq AS DOUBLE)
           - CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))
        / CAST(n_rows AS DOUBLE), 9) AS cov,
      CAST(max_count AS DOUBLE) * CAST(n_keys AS DOUBLE)
        / CAST(n_rows AS DOUBLE) AS skew_factor
    FROM agg
    """,
)
def skew_report_events_user(spark, sf_dir):
    """Shuffle-key skew profile of events.user_id
    (operators/skew.skew_report): the measurement that picks between
    the plain plan, AQE skew-join, and salted_join (n_salts ≈
    skew_factor).  One combinable groupBy to |keys| rows; exact
    integer/decimal moments make the doubles oracle-checkable."""
    from processo_etl_spark.operators import skew

    return skew.skew_report(t(spark, sf_dir, "events"), "user_id")


@register(
    "hll_sliding_7d_distinct",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    ex AS (
      SELECT d.day,
             count(DISTINCT CAST(e.ts AS DATE)) AS n_days_merged,
             count(DISTINCT e.user_id) AS exact_users_7d
      FROM days d JOIN events e
        ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT day, n_days_merged, exact_users_7d,
           true AS within_tolerance
    FROM ex
    """,
)
def hll_sliding_7d_distinct(spark, sf_dir):
    """Trailing-7-day distinct users PER DAY from the daily HLL sketch
    table alone — the sliding-window extension of
    ``hll_daily_merge_distinct``: exact sliding distinct is
    non-mergeable (yesterday's count can't be reused), so at 100 TB the
    only sane plan is |days| constant-size sketches self-joined over
    the window offset (a tiny |days|×7 relation) and union-merged per
    day; raw events are touched ONCE to build the dailies.  The exact
    side (a 7× event explode) rides along only to grade the ±6%
    tolerance verdict (default-lgK HLL is ~1.6% RSE) — at 100 TB it is
    exactly the pass the sketch table exists to avoid."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # Range-join-free window merge: each daily sketch CONTRIBUTES to the
    # 7 trailing windows ending at day..day+6 — a bounded 7× explode +
    # one combinable groupBy, the same turn-the-range-join-into-buckets
    # move as operators/temporal.range_join_bucketed (a datediff theta
    # join would plan as BroadcastNestedLoopJoin).  Windows ending past
    # the last observed day are dropped by the semi-join with real days.
    days = daily.select("day")
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
        "sk",
    ).join(days, "day", "left_semi")
    approx = contrib.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_days_merged"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_7d"),
    )
    ev_contrib = ev.select(
        F.explode(
            F.sequence(F.to_date("ts"), F.date_add(F.to_date("ts"), 6))
        ).alias("day"),
        "user_id",
    ).join(days, "day", "left_semi")
    exact = ev_contrib.groupBy("day").agg(
        F.count_distinct("user_id").alias("exact_users_7d")
    )
    return approx.join(exact, "day").select(
        "day",
        "n_days_merged",
        "exact_users_7d",
        (
            F.abs(F.col("approx_7d") - F.col("exact_users_7d"))
            <= 0.06 * F.col("exact_users_7d")
        ).alias("within_tolerance"),
    )


@register(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_variant_extract(spark, sf_dir):
    """Semi-structured props via Spark 4's VARIANT type: ``parse_json``
    once per row into the binary variant encoding, then typed
    ``try_variant_get`` paths — the open-schema path for payloads whose
    keys drift (vs events_json_typed's fixed from_json StructType,
    which silently NULLs new keys; vs get_json_object's per-key
    re-parse).  At 100 TB variant columns persist in parquet with
    shredded statistics, so this is the forward-compatible lake
    encoding for event payloads."""
    ev = t(spark, sf_dir, "events")
    parsed = ev.withColumn("v", F.parse_json("props"))
    return parsed.groupBy("event_type").agg(
        F.sum(F.try_variant_get("v", "$.k", "int")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      FROM events GROUP BY user_id),
    d AS (
      SELECT CAST(date_diff('microsecond', fv, fp) AS DOUBLE) / 1e6 AS delay_s
      FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv),
    n AS (SELECT count(*) AS n FROM d),
    s AS (SELECT delay_s, row_number() OVER (ORDER BY delay_s) AS r FROM d),
    qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
    SELECT qs.q,
           greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT)) AS k,
           (SELECT s.delay_s FROM s
            WHERE s.r = greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT))) AS value
    FROM qs, n ORDER BY qs.q
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Conversion-delay distribution: per user, seconds from first view
    to first purchase (converters only), then exact p50/p90 via the
    scalable bracket-and-refine quantile path — primitives composing:
    one conditional-min groupBy (the funnel) feeding
    operators/ranking.exact_quantiles_twopass (no sort, no value
    buffer).  k doubles as the converter count context."""
    from processo_etl_spark.operators import ranking

    ev = t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp"),
    )
    d = f.filter(
        F.col("fv").isNotNull()
        & F.col("fp").isNotNull()
        & (F.col("fp") >= F.col("fv"))
    ).select(
        # exact integer microsecond diff on BOTH engines (sub-second
        # parts make SECOND-unit diffs diverge: Spark truncates the full
        # difference, DuckDB counts boundary crossings), then /1e6.
        (
            F.expr("timestampdiff(MICROSECOND, fv, fp)").cast("double")
            / F.lit(1e6)
        ).alias("delay_s")
    )
    rows = ranking.exact_quantiles_twopass(d, "delay_s", [0.5, 0.9])
    return spark.createDataFrame(rows, "q double, k bigint, value double")


@register("stream_ewma_user_value")  # rows-only: streaming drains execute
def stream_ewma_user_value(spark, sf_dir):
    """Streaming per-user EWMA (streaming/jobs.ewma_stateful): the
    order-sensitive recurrence made incremental — rows settle into the
    one-double carry once the watermark passes them (bounded state:
    carry + lateness window, never the history); each batch emits the
    provisional ewma folded through the still-pending rows.  Equals
    the batch FLOAT operator (temporal.ewma_per_key's default path)
    bit-for-bit across out-of-order micro-batches
    (tests/test_streaming.py).  NOTE: the oracle-graded batch head
    ewma_user_value runs the FIXED-POINT integer variant
    (portability hardening) — the streaming twin keeps the float
    recurrence, so the two agree to the < 4·10⁻⁸ quantization bias,
    not bitwise; the bit-for-bit twin contract is against the float
    operator the test asserts."""
    from processo_etl_spark.streaming import jobs

    return jobs.run_ewma_availablenow(spark, sf_dir)


@register(
    "interval_union_active_time",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
      FROM events WHERE value IS NOT NULL AND value > 0),
    flagged AS (
      SELECT user_id, s, e,
        CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
        sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS island
      FROM flagged),
    g AS (
      SELECT user_id, island, min(s) AS i_s, max(e) AS i_e, count(*) AS n
      FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_intervals,
           count(*) AS n_islands,
           CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
    FROM g GROUP BY user_id
    """,
)
def interval_union_active_time(spark, sf_dir):
    """Gaps-and-islands interval union per user
    (operators/temporal.interval_union_length): events become activity
    intervals [ts, ts + value minutes]; total covered time must NOT
    double-count overlaps — the sweep-line islands plan on exact
    integer microseconds (two key-partitioned windows + one groupBy,
    state bounded per key; floor() pins the double→µs cast, which
    truncates on Spark but rounds on DuckDB)."""
    from processo_etl_spark.operators import temporal

    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    start = F.unix_micros(F.col("ts").cast("timestamp"))
    end = start + F.floor(F.col("value") * F.lit(60000000.0)).cast("long")
    return temporal.interval_union_length(ev, "user_id", start, end)


@register(
    "peak_concurrency_per_user",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
      FROM events WHERE value IS NOT NULL AND value > 0),
    deltas AS (
      SELECT user_id, s AS t, 1 AS o, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e AS t, 0 AS o, -1 AS d FROM iv),
    run AS (
      SELECT user_id,
        sum(d) OVER (PARTITION BY user_id ORDER BY t, o
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM deltas)
    SELECT user_id,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals,
           CAST(max(live) AS INT) AS peak
    FROM run GROUP BY user_id
    """,
)
def peak_concurrency_per_user(spark, sf_dir):
    """Peak simultaneous activity intervals per user
    (operators/temporal.peak_concurrency): the +1/−1 sweep whose
    running sum's max is the answer; ends sort before starts at equal
    instants (half-open semantics), so back-to-back intervals don't
    fake an overlap.  Exact integer µs throughout."""
    from processo_etl_spark.operators import temporal

    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    start = F.unix_micros(F.col("ts").cast("timestamp"))
    end = start + F.floor(F.col("value") * F.lit(60000000.0)).cast("long")
    out = temporal.peak_concurrency(ev, "user_id", start, end)
    return out.select(
        "user_id", "n_intervals", F.col("peak").cast("int").alias("peak")
    )


@register(
    "peak_concurrency_global",
    oracle="""
    WITH iv AS (
      SELECT epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
      FROM events WHERE value IS NOT NULL AND value > 0),
    deltas AS (
      SELECT s AS t, 1 AS o, 1 AS d FROM iv
      UNION ALL
      SELECT e AS t, 0 AS o, -1 AS d FROM iv),
    run AS (
      SELECT sum(d) OVER (ORDER BY t, o
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
      FROM deltas)
    SELECT CAST(count(*) / 2 AS BIGINT) AS n_intervals,
           CAST(max(live) AS INT) AS peak
    FROM run
    """,
)
def peak_concurrency_global(spark, sf_dir):
    """GLOBAL peak simultaneous activity across all users — the sweep
    whose running sum is inherently a global ORDER BY, distributed via
    operators/ranking.distributed_cumsum (range partition + local
    running sums + broadcast prior-partition totals; the oracle's
    single-partition window is exactly the plan this avoids).  Ties at
    one instant share a sign per the ord key, so max(live) is
    tie-order-safe."""
    from processo_etl_spark.operators import ranking

    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    start = F.unix_micros(F.col("ts").cast("timestamp"))
    end = start + F.floor(F.col("value") * F.lit(60000000.0)).cast("long")
    deltas = ev.select(
        F.explode(
            F.array(
                F.struct(start.alias("t"), F.lit(1).alias("o"), F.lit(1).alias("d")),
                F.struct(end.alias("t"), F.lit(0).alias("o"), F.lit(-1).alias("d")),
            )
        ).alias("ev")
    ).select("ev.t", "ev.o", "ev.d")
    run = ranking.distributed_cumsum(deltas, ["t", "o"], "d", out_col="live")
    return run.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        F.max("live").cast("int").alias("peak"),
    )


@register(
    "new_vs_returning_daily",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id),
    act AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT act.day,
      CAST(sum(CASE WHEN fs.first_day = act.day THEN 1 ELSE 0 END) AS BIGINT)
        AS new_users,
      CAST(sum(CASE WHEN fs.first_day < act.day THEN 1 ELSE 0 END) AS BIGINT)
        AS returning_users
    FROM act JOIN fs USING (user_id)
    GROUP BY act.day
    """,
)
def new_vs_returning_daily(spark, sf_dir):
    """Daily new-vs-returning user split (the standard growth metric):
    first-seen day per user (one combinable min-groupBy, at scale an
    incrementally maintained table — min is append-monotone, same
    contract as the high-watermark), joined to the distinct
    (day, user) activity and split by comparison.  Two combinable
    aggregates + one equi-join; no windows."""
    ev = t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    act = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    return (
        act.join(fs, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                (F.col("first_day") == F.col("day")).cast("long")
            ).alias("new_users"),
            F.sum(
                (F.col("first_day") < F.col("day")).cast("long")
            ).alias("returning_users"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming ⇔ batch equivalence certificates for the sessionizer and
# the tumbling window; the other heads live in plans/stream_equiv.  A
# memory-sink drain has no DuckDB twin, so each head drains the real
# streaming job, runs its batch twin on the same source and folds the
# two through plans.common.certify; the oracle is the batch semantics in
# SQL with n_mismatch pinned to 0.


@register("stream_batch_equiv_sessionize", oracle=SESSIONIZE_CERT_ORACLE)
def stream_batch_equiv_sessionize(spark, sf_dir):
    """Certificate: the applyInPandasWithState interval-merge
    sessionizer (streaming/jobs.sessionize_stateful, drained with
    availableNow) produces EXACTLY the batch lag-window sessionization
    (sessionize_gap) — per user, not just in aggregate.  The full-outer
    join counts any user where the two engines disagree on n_sessions
    or n_events (or that only one engine emitted); the oracle computes
    the batch semantics in SQL and pins n_mismatch = 0, so any
    streaming divergence is a driver hash mismatch."""
    from processo_etl_spark.streaming import jobs

    return certify(
        jobs.run_sessionize_stateful_availablenow(spark, sf_dir),
        sessionize_gap(spark, sf_dir),
        ["user_id"], ["n_sessions", "n_events"], "users",
        {
            "total_sessions": F.col("n_sessions"),
            "total_events": F.col("n_events"),
        },
    )


@register(
    "stream_batch_equiv_tumbling",
    oracle="""
    WITH batch AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_windows_stream,
           CAST(count(*) AS BIGINT) AS n_windows_batch,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM batch
    """,
)
def stream_batch_equiv_tumbling(spark, sf_dir):
    """Certificate: the watermarked streaming tumbling-window aggregate
    (streaming/jobs.tumbling_counts, complete-mode availableNow drain)
    equals the batch window() plan cell-for-cell — (window_start,
    event_type) keys, exact counts, and the exact-decimal value sums
    (compared for equality Spark-side; both sides fold in DECIMAL so
    the doubles are bit-identical when correct).  A watermark that
    wrongly dropped a late micro-batch, a state-store bug, or a sink
    replay duplicate all surface as n_mismatch > 0 / a key-count drift
    → driver hash mismatch."""
    from processo_etl_spark.streaming import jobs

    return certify(
        jobs.run_tumbling_count_availablenow(spark, sf_dir),
        tumbling_window_counts(spark, sf_dir),
        ["window_start", "event_type"], ["n", "total_value"], "windows",
        {"total_events": F.col("n")},
    )
