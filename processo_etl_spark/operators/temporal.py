"""Temporal joins the built-in operators don't express directly:
as-of join and point-in-interval range join.

The reference (gustavokf2003/Processo-ETL) has no temporal joins — its
dataflow is equi-joins only (dag.py:48, 261) — but any event/time-series
workload over the same engine needs them, and a naive formulation
(ORDER-BY + per-row scan, or a nested-loop theta join) collapses at
scale.  Both operators here are pure DataFrame compositions that cost
ONE shuffle on the join key, no nested loop, no UDF:

- ``asof_join``: union-sort formulation.  Tag both sides, union by
  name, sort within key-partitions by (ts, side), and carry the most
  recent right-side row forward with ``last(..., ignorenulls=True)``
  over a running window.  O(n log n) within partitions, streams at any
  scale, and skew maps to the same mitigations as any keyed shuffle.
- ``range_join_bucketed``: map each interval to the fixed-width buckets
  it covers (``sequence`` + ``explode``), bucket each point, equi-join
  on (key, bucket), then apply the residual BETWEEN predicate.  Each
  matching (point, interval) pair meets in exactly one bucket — the
  point's own — so no post-join dedup is needed.  This turns
  O(points × intervals) nested-loop into a hash join whose fan-out is
  interval_span / bucket_width.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal

_SIDE = internal("asof_side")
_CARRY = internal("asof_carry")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str,
    payload: list[str],
    *,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: for each left row, the single right row with the
    largest ``right.ts <= left.ts`` (backward) or smallest
    ``right.ts >= left.ts`` (forward) within the same ``on`` keys.

    Returns every left row (LEFT semantics) plus ``{ts}{suffix}`` and
    ``{p}{suffix}`` for each payload column — NULL when no right row
    qualifies.  Ties on ts resolve to the right row (inclusive match),
    matching DuckDB's ``ASOF JOIN`` / pandas ``merge_asof``.

    The right row is carried as ONE struct so a legitimately-NULL
    payload value never falls through to an older right row.

    PRECONDITION for deterministic payloads: right-side ``ts`` values
    are unique per ``on`` key.  When two right rows tie on (key, ts),
    the union-sort here AND DuckDB's ASOF both pick an arbitrary
    winner, so the payloads can differ run-to-run and engine-to-engine
    — collapse ties first (e.g. ``max(struct(...))`` per (key, ts), as
    the SCD2 point-in-time head does).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    carry = F.struct(F.col(ts), *[F.col(p) for p in payload])
    l_tagged = left.withColumn(_SIDE, F.lit(1)).withColumn(
        _CARRY, F.lit(None).cast(right.select(carry).schema[0].dataType)
    )
    r_tagged = (
        right.select(*on, ts, *payload)
        .withColumn(_SIDE, F.lit(0))
        .withColumn(_CARRY, carry)
        .select(*on, ts, _SIDE, _CARRY)
    )
    both = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # Right rows sort BEFORE left rows at equal ts (side 0 < 1), so an
    # equal-timestamp right row is visible to the left row — inclusive.
    if direction == "backward":
        order = [F.col(ts).asc(), F.col(_SIDE).asc()]
    else:
        order = [F.col(ts).desc(), F.col(_SIDE).asc()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = both.withColumn(_CARRY, F.last(_CARRY, ignorenulls=True).over(w))

    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(_CARRY)[ts].alias(ts + suffix))
    out_cols.extend(F.col(_CARRY)[p].alias(p + suffix) for p in payload)
    return matched.filter(F.col(_SIDE) == 1).select(*out_cols)


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point: Column,
    start: Column,
    end: Column,
    bucket_width: int,
) -> DataFrame:
    """Inner point-in-interval join (``start <= point <= end``) as a hash
    join: explode each interval into the fixed-width buckets it covers,
    bucket each point, equi-join on (on, bucket), keep the residual.

    ``point``/``start``/``end`` are numeric Column expressions over
    ``points`` resp. ``intervals`` (for timestamps pass epoch micros).
    Pick ``bucket_width`` near the typical interval span: fan-out per
    interval is span/width + 1 rows, and candidate pairs per bucket stay
    small.  All original columns from both sides survive (names must not
    collide apart from the ``on`` keys).
    """
    b = internal("range_bucket")
    pt, st, en = (internal(f"range_{n}") for n in ("point", "start", "end"))
    p = points.withColumn(pt, point.cast("long")).withColumn(
        b, (F.col(pt) / bucket_width).cast("long")
    )
    i = (
        intervals.withColumn(st, start.cast("long"))
        .withColumn(en, end.cast("long"))
        .withColumn(
            b,
            F.explode(
                F.sequence(
                    (F.col(st) / bucket_width).cast("long"),
                    (F.col(en) / bucket_width).cast("long"),
                )
            ),
        )
    )
    return (
        p.join(i, on=[*on, b], how="inner")
        .filter((F.col(pt) >= F.col(st)) & (F.col(pt) <= F.col(en)))
        .drop(b, pt, st, en)
    )


def scd2_history_from_log(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Build an SCD Type-2 history from an event log: collapse consecutive
    runs of the same ``attr`` value per ``key`` into versioned validity
    intervals (gaps-and-islands).

    The reference loads dimensions as point-in-time snapshots (dag.py's
    dim tables have no history); Type-2 versioning is the standard
    warehouse extension.  Output: one row per (key, version) with
    ``valid_from`` (first event of the run), ``valid_to`` (start of the
    next run, NULL while current), ``n_events`` in the run.

    Scale: two windows and one aggregation, all partitioned by ``key`` —
    a single shuffle on the key, reused across stages (Spark keeps the
    child distribution; no re-exchange between the lag, the running sum,
    and the groupBy).  State per partition is bounded by the largest
    single key's history.

    Raises ``ValueError`` when ``df`` already has a ``version`` column:
    the run number would silently overwrite it.
    """
    if "version" in df.columns:
        raise ValueError(
            "scd2_history_from_log: input already has a column 'version'; "
            "rename it first"
        )
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    changed = (
        F.lag(attr).over(w).isNull() | (F.col(attr) != F.lag(attr).over(w))
    ).cast("int")
    runs = df.withColumn(
        "version",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy(key, "version", attr).agg(
        F.min(ts).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(key).orderBy("version")
    return hist.withColumn("valid_to", F.lead("valid_from").over(wv))


def ewma_per_key(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
    fixed_point_scale: int | None = None,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the sequential
    recurrence s₁ = x₁, sᵢ = (1−α)·sᵢ₋₁ + α·xᵢ (pandas
    ``ewm(adjust=False)`` semantics), the standard smoothing feature in
    monitoring and behavioral-feature pipelines.

    A recurrence has no shuffle-free closed form that is numerically
    faithful (the (1−α)ⁿ rescaling trick overflows), so the engine
    folds each key's history ONCE: sort-array + ``aggregate`` HOF over
    structs, appending the running state — one shuffle on the key, no
    UDF, no window.  Per-task state is one key's history (same bound as
    any collect_list over a key group), and the append-fold copies the
    accumulator per element — O(L²) in history length L.  HARD BOUND:
    this path is for bounded histories (L ≲ 10⁴ per key — bench scale
    and the sf0.5 sweep both sit well inside).  Keys with unbounded
    histories take ``ewma_per_key_chunked`` below (the O(L) affine
    chunk composition) or the streaming twin
    (``transformWithState``-style carry); the chunked path is NOT
    oracle-checked because its floating-point order differs from the
    naive fold.

    Use α with an exact binary representation (0.25, 0.5, 0.125…) when
    oracle parity matters: then both engines execute literally the same
    IEEE multiply-adds in the same order (the oracle replays the fold
    as a recursive CTE) and the result is bit-identical — on the SAME
    engine build.  The portability lesson: a replayed float fold
    can still differ at the last ULP between DuckDB BUILDS (FMA
    contraction / libm skew), and EWMA's true values are dyadic
    decimals that sit EXACTLY on decimal rounding ties (α=¼ ⇒ values
    terminate in …5 at some scale), so no output ROUND is tie-safe
    either.  When cross-engine exactness is required, pass
    ``fixed_point_scale=s``: the recurrence then runs in scaled LONGS —
    V = round(x·10ˢ), E₁ = V₁, Eᵢ = (Eᵢ₋₁·(2ᵐ−k) + Vᵢ·k) >> m for
    α = k/2ᵐ — pure integer ops, deterministic on ANY engine, and the
    emitted double Eᵢ/10ˢ is a single exact-integer division.  The
    floor in ``>>`` biases each step by < 10⁻ˢ (geometric, steady-state
    < 2ᵐ·10⁻ˢ); callers ensure max|value|·10ˢ·2ᵐ < 2⁶³ and values ≥ 0
    (negative accumulators still floor consistently under arithmetic
    shift, but document it).
    """
    xv, hist, states = internal("x"), internal("h"), internal("s")
    a = float(alpha)
    struct_fields = [F.col(c) for c in order_cols] + [
        F.col(value_col).alias(xv)
    ]
    arr = F.sort_array(F.collect_list(F.struct(*struct_fields)))
    if fixed_point_scale is not None:
        # α must be k/2^m exactly (m ≤ 8 keeps k small and shifts cheap).
        m = 8
        k = round(a * (1 << m))
        if not 0 < k < (1 << m) or k / (1 << m) != a:
            raise ValueError(
                f"fixed_point_scale requires alpha = k/2^m (binary "
                f"fraction), got {alpha!r}"
            )
        while k % 2 == 0:  # reduce k/2^m to lowest terms
            k //= 2
            m -= 1
        ten_s = 10**fixed_point_scale
        comp = (1 << m) - k
        v_int = lambda x: F.round(  # noqa: E731
            x[xv].cast("double") * F.lit(float(ten_s)), 0
        ).cast("long")
        acc_t = "array<bigint>"
        fold = F.aggregate(
            arr,
            F.expr(f"CAST(array() AS {acc_t})"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, v_int(x)).otherwise(
                        F.shiftright(
                            F.element_at(acc, -1) * F.lit(comp)
                            + v_int(x) * F.lit(k),
                            m,
                        )
                    )
                ),
            ),
        )
        grouped = (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(key_col)
            .agg(arr.alias(hist), fold.alias(states))
        )
        zipped = grouped.select(
            key_col, F.explode(F.arrays_zip(hist, states)).alias("z")
        )
        return zipped.select(
            key_col,
            *[F.col(f"z.{hist}.{c}").alias(c) for c in order_cols],
            F.col(f"z.{hist}.{xv}").alias(value_col),
            (F.col(f"z.{states}").cast("double") / F.lit(float(ten_s))).alias(
                out_col
            ),
        )
    acc_t = "array<double>"
    fold = F.aggregate(
        arr,
        F.expr(f"CAST(array() AS {acc_t})"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, x[xv].cast("double")
                ).otherwise(
                    F.element_at(acc, -1) * F.lit(1.0 - a)
                    + x[xv].cast("double") * F.lit(a)
                )
            ),
        ),
    )
    grouped = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(arr.alias(hist), fold.alias(states))
    )
    zipped = grouped.select(
        key_col, F.explode(F.arrays_zip(hist, states)).alias("z")
    )
    return zipped.select(
        key_col,
        *[F.col(f"z.{hist}.{c}").alias(c) for c in order_cols],
        F.col(f"z.{hist}.{xv}").alias(value_col),
        F.col(f"z.{states}").alias(out_col),
    )


def ewma_per_key_chunked(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
    chunk: int | None = None,
) -> DataFrame:
    """Per-key EWMA (same s₁ = x₁, sᵢ = (1−α)sᵢ₋₁ + αxᵢ semantics as
    ``ewma_per_key``) rebuilt for UNBOUNDED per-key histories — the
    100 TB path.

    ``ewma_per_key`` holds each key's whole history in one
    collect_list row and appends the running state with an
    ``aggregate``+``concat`` fold — O(L²) array copies and a fat
    single-row struct array at L = 10⁵–10⁶ events/key.  This variant
    exploits that the recurrence is a LINEAR map, so any history
    segment acts on the incoming state as an affine function
    s_out = a·s_in + b with a = (1−α)^len — segments compose
    associatively.  Concretely, with rows split into fixed-size chunks
    of C per key:

    - within a chunk, the zero-start state after local index j is
      s_j = (1−α)^j · P_j where P_j = Σ_{t≤j} w·x_t·(1−α)^{−t} is a
      plain CUMULATIVE SUM — a streaming, spill-able window frame over
      (key, chunk), O(1) state per row, no array materialization
      (w = α except the global first element's w = 1);
    - each chunk's (a, b) pair folds per key over the (L/C)-row chunk
      summary table — the only ``aggregate`` append left, quadratic in
      L/C instead of L (C = 1024 ⇒ a million-event key folds ~10³
      structs, not 10⁶);
    - the chunk-start states join back on (key, chunk) and every row
      finishes as s = (1−α)^{j+1}·S_chunk + (1−α)^j·P_j.

    Numerics: the in-chunk prefix is scaled by (1−α)^{−j}, so C is
    capped where (1−α)^{−C} reaches 2⁵¹² (half the double range) —
    later terms dominate the scaled sum, so relative precision holds,
    but the float op ORDER differs from the naive sequential fold:
    results match ``ewma_per_key`` to ~1e-12 relative (property-tested
    against the pure-Python recurrence), NOT bit-for-bit, which is why
    the oracle-graded head keeps the fixed-point ``ewma_per_key`` and
    this path serves the scale regime.
    """
    a = float(alpha)
    if not 0.0 < a < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha!r}")
    if chunk is not None and chunk < 1:
        # chunk <= 0 would produce negative chunk ids that silently
        # drop rows at the starts join (or divide by zero at 0)
        raise ValueError(f"chunk must be >= 1, got {chunk!r}")
    r = 1.0 - a
    import math

    max_chunk = max(2, int(512.0 * math.log(2.0) / -math.log(r)))
    c_len = min(chunk, max_chunk) if chunk is not None else min(1024, max_chunk)

    i_col, c_col, j_col, p_col, n_col, su_col, ss_col, s0_col = (
        internal(n) for n in ("i", "c", "j", "p", "n", "su", "ss", "s0")
    )
    wk = Window.partitionBy(key_col).orderBy(*order_cols)
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn(i_col, F.row_number().over(wk) - 1)
        # integral division: `div` is exact by construction;
        # double-divide-then-cast truncates a correctly-rounded float
        # quotient, which only happens to be exact for realistic lengths
        .withColumn(c_col, F.expr(f"{i_col} div {c_len}"))
        .withColumn(j_col, F.col(i_col) % c_len)
    )
    u = (
        F.when(F.col(i_col) == 0, F.lit(1.0)).otherwise(F.lit(a))
        * F.col(value_col).cast("double")
        * F.pow(F.lit(r), -F.col(j_col).cast("double"))
    )
    wc = (
        Window.partitionBy(key_col, c_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = rows.withColumn(p_col, F.sum(u).over(wc))
    # chunk summaries: a = (1−α)^len, b = zero-start state after the
    # chunk's last element = (1−α)^(len−1) · (chunk Σ u)
    summaries = rows.groupBy(key_col, c_col).agg(
        F.count(F.lit(1)).alias(n_col), F.sum(u).alias(su_col)
    )
    pair = F.struct(
        F.col(c_col).alias("c"),
        F.pow(F.lit(r), F.col(n_col).cast("double")).alias("a"),
        (
            F.pow(F.lit(r), F.col(n_col).cast("double") - 1.0)
            * F.col(su_col)
        ).alias("b"),
    )
    # per-key fold over the (L/C)-row summary list: S_0 = 0,
    # S_{c+1} = a_c·S_c + b_c  (append-fold, quadratic only in L/C)
    chain = F.aggregate(
        F.sort_array(F.collect_list(pair)),
        F.expr("CAST(array(0.0D) AS array<double>)"),
        lambda acc, p: F.concat(
            acc, F.array(F.element_at(acc, -1) * p["a"] + p["b"])
        ),
    )
    starts = (
        summaries.groupBy(key_col)
        .agg(chain.alias(ss_col))
        .select(
            key_col,
            F.posexplode(
                F.expr(f"slice({ss_col}, 1, size({ss_col}) - 1)")
            ).alias(c_col, s0_col),
        )
        .withColumn(c_col, F.col(c_col).cast("long"))
    )
    out = rows.join(starts, on=[key_col, c_col])
    jf = F.col(j_col).cast("double")
    s = F.pow(F.lit(r), jf + 1.0) * F.col(s0_col) + F.pow(
        F.lit(r), jf
    ) * F.col(p_col)
    return out.select(
        key_col, *order_cols, value_col, s.alias(out_col)
    )


def event_sequence_match(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    code: Column,
    pattern: str,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex over each key's event-type sequence.

    Funnels count milestone presence; real behavioral predicates are
    ORDER-SENSITIVE with exclusions ("two clicks then a purchase with
    no error in between") — SQL:2016 MATCH_RECOGNIZE territory, which
    Spark lacks.  Encoding each key's ordered history as a one-char-
    per-event string reduces the pattern to a regex: one combinable
    collect per key (the sessionize shuffle shape), then ``rlike`` /
    ``regexp_extract_all`` — JVM-side, codegen-friendly.

    Keep the pattern to char classes and greedy quantifiers (no
    backreferences, no lookaround): then Java regex (Spark) and RE2
    (DuckDB, Hyperscan, …) produce identical match boundaries, so the
    operator stays oracle-checkable and portable to any downstream
    engine.  Per-key state is the journey string (one byte per event);
    million-event keys should segment by session first — the same
    bound as any per-key fold.

    Output: (key, n_events, journey, matched, n_matches) with
    ``n_matches`` the non-overlapping greedy match count.
    """
    code_f = internal("c")
    arr = F.sort_array(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], code.alias(code_f))
        )
    )
    journey = F.array_join(F.transform(arr, lambda x: x[code_f]), "")
    g = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"), journey.alias("journey")
    )
    return g.select(
        key_col,
        "n_events",
        "journey",
        F.col("journey").rlike(pattern).alias("matched"),
        F.size(F.regexp_extract_all("journey", F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("n_matches"),
    )


def interval_union_length(
    df: DataFrame,
    key_col: str,
    start_us: Column,
    end_us: Column,
) -> DataFrame:
    """Total COVERED length per key of a set of (possibly overlapping)
    intervals — the classic gaps-and-islands problem (coverage/uptime/
    concurrent-activity analytics; naive SUM(end−start) double-counts
    every overlap).

    Sweep-line as windows: order intervals by start within the key; an
    interval STARTS A NEW ISLAND iff its start exceeds the running max
    of all previous ends; island id = running count of such flags; the
    covered length is Σ over islands of (max end − min start).  Two
    key-partitioned windows + one groupBy — all state bounded per key,
    and all arithmetic on integer microseconds, so any engine agrees
    exactly.

    Output: (key, n_intervals, n_islands, covered_us).
    """
    k_col, s_col, e_col, new_col, isl_col, is_col, ie_col, n_col = (
        internal(n) for n in ("k", "s", "e", "new", "isl", "is", "ie", "n")
    )
    s, e = start_us.alias(s_col), end_us.alias(e_col)
    base = df.select(F.col(key_col).alias(k_col), s, e).filter(
        F.col(e_col) >= F.col(s_col)
    )
    w = Window.partitionBy(k_col).orderBy(s_col, e_col)
    prev_max_end = F.max(e_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flag = (
        F.when(prev_max_end.isNull() | (F.col(s_col) > prev_max_end), 1)
        .otherwise(0)
    )
    flagged = base.withColumn(new_col, flag)
    island = F.sum(new_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        flagged.withColumn(isl_col, island)
        .groupBy(k_col, isl_col)
        .agg(
            F.min(s_col).alias(is_col),
            F.max(e_col).alias(ie_col),
            F.count(F.lit(1)).alias(n_col),
        )
    )
    return islands.groupBy(F.col(k_col).alias(key_col)).agg(
        F.sum(n_col).alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col(ie_col) - F.col(is_col)).alias("covered_us"),
    )


def peak_concurrency(
    df: DataFrame,
    key_col: str,
    start_us: Column,
    end_us: Column,
) -> DataFrame:
    """Maximum number of simultaneously open intervals per key — the
    other classic sweep-line question (peak concurrent sessions /
    connections / load).  Each interval emits (+1 at start, −1 at end);
    the running sum over the time-ordered deltas is the live count and
    its max is the peak.  End events sort BEFORE start events at the
    same instant with half-open [s, e) semantics — back-to-back
    intervals don't fake an overlap.  One explode + one key-partitioned
    window; integer arithmetic throughout.

    Output: (key, n_intervals, peak).
    """
    k_col, s_col, e_col = internal("k"), internal("s"), internal("e")
    s, e = start_us.alias(s_col), end_us.alias(e_col)
    base = df.select(F.col(key_col).alias(k_col), s, e).filter(
        F.col(e_col) >= F.col(s_col)
    )
    deltas = base.select(
        k_col,
        F.explode(
            F.array(
                F.struct(
                    F.col(s_col).alias("t"),
                    F.lit(1).alias("ord"),  # ends (ord 0) sort first
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.col(e_col).alias("t"),
                    F.lit(0).alias("ord"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("ev"),
    ).select(k_col, "ev.t", "ev.ord", "ev.d")
    w = (
        Window.partitionBy(k_col)
        .orderBy("t", "ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.withColumn("live", F.sum("d").over(w))
    return running.groupBy(F.col(k_col).alias(key_col)).agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        F.max("live").alias("peak"),
    )


def linear_touch_attribution(
    events: DataFrame,
    key_col: str,
    order_cols: list[str],
    touch_pred: Column,
    conversion_pred: Column,
) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: for every
    conversion event, the count of the key's touch events AT OR BEFORE
    it and the per-touch credit 1/n — the standard position-agnostic
    attribution model (first/last-touch are the asof-join family; this
    one needs the whole prefix).

    NO inequality join: touches and conversions stay in ONE relation
    and a per-key running sum counts prior touches — one shuffle on
    the key, the sessionize shape.  Tie rule: a touch sharing the
    conversion's exact timestamp counts (touches order BEFORE
    conversions at equal ``order_cols`` via the is_touch flag).
    Credit is a single division of exact integers — engine-portable
    raw.  Returns the conversion rows with (n_touches,
    credit_per_touch); conversions with zero prior touches carry
    n_touches = 0 and NULL credit (unattributable, not dropped).
    """
    is_touch = internal("is_touch")
    flagged = events.filter(touch_pred | conversion_pred).withColumn(
        is_touch, touch_pred.cast("long")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(
            *[F.col(c) for c in order_cols],
            F.desc(is_touch),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counted = flagged.withColumn("n_touches", F.sum(is_touch).over(w))
    return (
        counted.filter(conversion_pred)
        .withColumn(
            "credit_per_touch",
            F.when(
                F.col("n_touches") > 0,
                F.lit(1.0) / F.col("n_touches").cast("double"),
            ),
        )
        .drop(is_touch)
    )
