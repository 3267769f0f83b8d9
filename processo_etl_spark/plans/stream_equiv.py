"""Streaming ⇔ batch equivalence certificates for the ``stream_*`` jobs
(the sessionizer and tumbling-window heads live in plans/events).

Each head drains the REAL streaming job (file source → watermark/state →
availableNow → memory sink, streaming/jobs.py), runs its batch twin on
the same source, and hands both to ``plans.common.certify``, which
full-outer-joins them on the twin's natural key and counts, Spark-side,
the rows present on one side only or whose compared values differ
null-safely.  The per-head code is the drain, the batch twin and the
totals.  The oracle computes the batch semantics in pure SQL and pins
``n_mismatch = 0``, so ANY streaming divergence — state-fold bug,
watermark drop, sink replay duplicate, dedup miss — is a value
mismatch against DuckDB, not just a pytest assertion.

Reference relevance: the reference (dag.py) is batch-only; SURVEY §2.9
treats streaming as a scale extension whose CONTRACT is the batch
semantics — exactly what these certificates pin.

Scale notes (100 TB): every certificate's join is on the twin's natural
key (event_type / segment / doc_id / word / (row,bucket) / user_id /
(purchase_id,user_id)) — the same shuffle the batch twin already does;
the sketch/filter certificates join FIXED-size grids (≤ d·w cells,
≤ m/32 words) so their compare cost is constant regardless of input
size.  The certificates are certification harnesses, not hot-path
operators: production runs the streaming job alone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.operators.relational import dedup_keep_first
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import certify, t
from processo_etl_spark.plans.events import SESSIONIZE_CERT_ORACLE
from processo_etl_spark.plans.mlops import (
    _QUALITY_CTES,
    _bloom_filter_sql,
    _cms_sketch_sql,
)


@register(
    "stream_batch_equiv_dedup",
    oracle="""
    WITH batch AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_types_stream,
           CAST(count(*) AS BIGINT) AS n_types_batch,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM batch
    """,
)
def stream_batch_equiv_dedup(spark, sf_dir):
    """Certificate: the events source unioned with a second read of
    itself (every event arrives TWICE), deduped by event_id with
    ``dropDuplicatesWithinWatermark`` (bounded state), aggregated
    per-type, equals the single-copy batch counts exactly.  A dedup
    that missed a duplicate inflates a per-type count; one that dropped
    a non-duplicate deflates it — either moves n_mismatch and the
    driver hash goes red."""
    from processo_etl_spark.streaming import jobs

    stream = jobs.run_dedup_availablenow(spark, sf_dir, duplicate_input=True)
    batch = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return certify(
        stream, batch, ["event_type"], ["n"], "types",
        {"total_events": F.col("n")},
    )


@register(
    "stream_batch_equiv_interval_join",
    oracle="""
    WITH batch AS (
      SELECT p.event_id AS purchase_id, p.user_id, count(*) AS n_views
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON v.user_id = p.user_id
       AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
      GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs_stream,
           CAST(count(*) AS BIGINT) AS n_pairs_batch,
           CAST(SUM(n_views) AS BIGINT) AS total_views,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM batch
    """,
)
def stream_batch_equiv_interval_join(spark, sf_dir):
    """Certificate: the watermarked stream-stream interval join (view
    within the hour before each purchase, time-bounded join state)
    equals the batch time-bound join pair-for-pair.  Join state that
    expired a view too early drops pairs; a replayed micro-batch
    duplicates them — both move a per-pair count and the hash goes
    red."""
    from processo_etl_spark.plans.events import interval_join_purchase_views
    from processo_etl_spark.streaming import jobs

    return certify(
        jobs.run_interval_join_availablenow(spark, sf_dir),
        interval_join_purchase_views(spark, sf_dir),
        ["purchase_id", "user_id"], ["n_views"], "pairs",
        {"total_views": F.col("n_views")},
    )


@register(
    "stream_batch_equiv_enrich",
    oracle="""
    WITH batch AS (
      SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, count(*) AS n
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_segments_stream,
           CAST(count(*) AS BIGINT) AS n_segments_batch,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM batch
    """,
)
def stream_batch_equiv_enrich(spark, sf_dir):
    """Certificate: the stream-static broadcast enrichment join equals
    the batch left join per segment — counts AND the exact-decimal
    value sums (compared Spark-side with eqNullSafe; both sides fold in
    DECIMAL, so the doubles are bit-identical when correct).  A
    micro-batch that re-read a stale dim snapshot or dropped rows on
    the stream side moves a segment count or sum → hash red."""
    from processo_etl_spark.plans.events import enrich_events_segment
    from processo_etl_spark.streaming import jobs

    return certify(
        jobs.run_enrich_availablenow(spark, sf_dir),
        enrich_events_segment(spark, sf_dir),
        ["segment"], ["n", "total_value"], "segments",
        {"total_events": F.col("n")},
    )


@register(
    "stream_batch_equiv_curate",
    oracle=f"""
    WITH {_QUALITY_CTES},
    kept AS (SELECT * FROM scored WHERE quality_score >= 0.3)
    SELECT CAST(count(*) AS BIGINT) AS n_docs_stream,
           CAST(count(*) AS BIGINT) AS n_docs_batch,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM kept
    """,
)
def stream_batch_equiv_curate(spark, sf_dir):
    """Certificate: ingest-time streaming curation (quality-score +
    language-id + threshold filter, stateless narrow maps) equals the
    batch filter over the same table doc-for-doc — lang_pred, n_tokens
    AND the floor-scaled quality_score (eqNullSafe; identical HOF folds
    both sides, so the doubles are bit-identical when correct).  The
    oracle replays the score in SQL (the hash-green text_quality_score
    fragment) and pins the kept-set size and token mass."""
    from processo_etl_spark.ml import textstats
    from processo_etl_spark.streaming import jobs

    docs = t(spark, sf_dir, "documents")
    batch = (
        textstats.quality_features(docs, "text")
        .withColumn("lang_pred", textstats.detect_language("text"))
        .filter(F.col("quality_score") >= 0.3)
    )
    return certify(
        jobs.run_curate_availablenow(spark, sf_dir), batch, ["doc_id"],
        ["lang_pred", "n_tokens", "quality_score"], "docs",
        {"total_tokens": F.col("n_tokens")},
    )


@register(
    "stream_batch_equiv_bloom",
    oracle=f"""
    WITH {_bloom_filter_sql("events", "CAST(user_id AS VARCHAR)", 1 << 16, 4)}
    SELECT CAST(count(*) AS BIGINT) AS n_words_stream,
           CAST(count(*) AS BIGINT) AS n_words_batch,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_set_bits,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM filt
    """,
)
def stream_batch_equiv_bloom(spark, sf_dir):
    """Certificate: ``bloom_build`` drained from the events stream
    (bounded m/32-word state) equals the same build over the events
    table word-for-word, bit-for-bit — the
    oracle rebuilds the whole filter in SQL from the shared hash
    constants and pins the word count AND the exact number of set bits,
    so a single flipped bit anywhere in the 64 Kb filter is a hash
    red."""
    from processo_etl_spark.ml import bloom
    from processo_etl_spark.streaming import jobs

    batch = bloom.bloom_build(
        t(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("user_id")
        ),
        "user_id",
    )
    return certify(
        jobs.run_bloom_filter_availablenow(spark, sf_dir), batch, ["word"],
        ["bits"], "words", {"n_set_bits": F.bit_count("bits")},
    )


@register(
    "stream_batch_equiv_cms",
    oracle=f"""
    WITH {_cms_sketch_sql("events", "event_type", 4, 256)}
    SELECT CAST(count(*) AS BIGINT) AS n_cells_stream,
           CAST(count(*) AS BIGINT) AS n_cells_batch,
           CAST(SUM(cnt) AS BIGINT) AS total_count,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM sketch
    """,
)
def stream_batch_equiv_cms(spark, sf_dir):
    """Certificate: ``cms_build`` drained from the events stream
    (bounded d·w state) equals the same build over the events table
    cell-for-cell — the oracle rebuilds the sketch in SQL and pins the
    occupied-cell count and total mass (= depth × the non-NULL keys),
    so one miscounted cell anywhere in the 4×256
    grid is a hash red."""
    from processo_etl_spark.ml import sketches
    from processo_etl_spark.streaming import jobs

    return certify(
        jobs.run_cms_sketch_availablenow(spark, sf_dir),
        sketches.cms_build(t(spark, sf_dir, "events"), "event_type"),
        ["row", "bucket"], ["cnt"], "cells", {"total_count": F.col("cnt")},
    )


@register(
    "stream_batch_equiv_ewma",
    oracle="""
    WITH u AS (
      SELECT user_id, count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_users_stream,
           CAST(count(*) AS BIGINT) AS n_users_batch,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM u
    """,
)
def stream_batch_equiv_ewma(spark, sf_dir):
    """Certificate: the stateful streaming EWMA (watermark-frontier
    settle + provisional fold) equals the batch FLOAT operator
    (temporal.ewma_per_key's default path) per user — row counts AND
    the final ewma value compared bitwise with eqNullSafe (the settled
    and provisional folds execute the identical multiply-add sequence
    over the identical (ts, event_id) order).  A dropped row, a
    mis-ordered fold, or a revised-but-wrong provisional value moves
    n_mismatch → hash red."""
    from processo_etl_spark.operators import temporal
    from processo_etl_spark.streaming import jobs

    stream = (
        jobs.run_ewma_availablenow(spark, sf_dir, alpha=0.25)
        .filter((F.col("n_settled") + F.col("n_pending")) > 0)
        .select(
            "user_id",
            (F.col("n_settled") + F.col("n_pending")).alias("rows"),
            "ewma",
        )
    )
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    folded = temporal.ewma_per_key(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.25
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    rn = internal("rn")
    batch = (
        folded.withColumn(rn, F.row_number().over(w))
        .withColumn(
            "rows", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .filter(F.col(rn) == 1)
    )
    return certify(
        stream, batch, ["user_id"], ["rows", "ewma"], "users",
        {"total_rows": F.col("rows")},
    )


@register(
    "stream_batch_equiv_media",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 31)) AS id),
         ks AS (SELECT unnest(generate_series(0, 63)) AS k),
         px AS (SELECT (id * 29 + k * 5) % 256 AS v FROM ids CROSS JOIN ks)
    SELECT CAST(32 AS BIGINT) AS n_files_stream,
           CAST(32 AS BIGINT) AS n_files_batch,
           CAST(SUM(v) AS BIGINT) AS total_pixel_mass,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM px
    """,
)
def stream_batch_equiv_media(spark, sf_dir):
    """Certificate for the binaryFile-STREAM ingest surface: 32
    deterministic 8×8 grayscale PNGs (pixel k of image i =
    (i·29 + k·5) mod 256, vendored ml/png codec; two files land in a
    nested date-partitioned subdir to exercise recursiveFileLookup)
    are drained through the streaming auto-ingest decode
    (streaming/jobs.run_media_features_availablenow: binaryFile file
    stream → Arrow mapInPandas real decode) AND the batch twin
    (ml/multimodal.read_binary_media + extract_features), full-outer
    joined on the md5-path media_id, byte counts and the 8-double
    feature vectors compared null-safely (identical decode code both
    sides — bitwise when correct).  The oracle additionally pins the
    DECODED CONTENT in closed form: feature[c] = Σ_r px(r,c)/(8·255),
    so Σ features × 8·255 per image recovers the exact integer pixel
    mass, summed across the corpus and stated by SQL from the synth
    formula — a decode bug that produced plausible-but-wrong pixels
    would match counts yet miss the mass.  Rounding is exact: each
    per-image mass is an integer recovered from 8 one-division IEEE
    quotients, decades above float error.  sf_dir is unused (synthetic
    fixture corpus, same convention as multimodal_resize)."""
    import os
    import tempfile

    from processo_etl_spark.ml import multimodal, png
    from processo_etl_spark.streaming import jobs

    d = tempfile.mkdtemp(prefix="media_cert_")
    os.mkdir(os.path.join(d, "2026-08"))
    for i in range(32):
        px = bytes((i * 29 + k * 5) % 256 for k in range(64))
        sub = "2026-08" if i % 16 == 9 else ""
        with open(os.path.join(d, sub, f"img_{i:03d}.png"), "wb") as fh:
            fh.write(png.encode_gray(px, 8, 8))

    batch = multimodal.extract_features(
        multimodal.read_binary_media(spark, d, glob="*.png"),
        n_features=8,
    )
    mass = F.round(
        F.aggregate("feature", F.lit(0.0), lambda a, x: a + x) * 8 * 255
    ).cast("bigint")
    return certify(
        jobs.run_media_features_availablenow(spark, d), batch, ["media_id"],
        ["n_bytes", "feature"], "files", {"total_pixel_mass": mass},
    )


@register("stream_batch_equiv_sessionize_tws", oracle=SESSIONIZE_CERT_ORACLE)
def stream_batch_equiv_sessionize_tws(spark, sf_dir):
    """Certificate: the UN-GATED transformWithStateInPandas sessionizer
    surface (Spark 4 typed-state API where its protobuf runtime exists;
    the row-identical applyInPandasWithState twin where it doesn't —
    streaming/jobs.run_sessionize_tws_or_twin_availablenow) produces
    EXACTLY the batch lag-window sessionization per user.  Whichever
    engine path runs, the certificate pins the same batch contract, so
    a TWS state/timer bug or a degraded-twin divergence is equally a
    hash red.  Update mode can emit a user several times across
    micro-batches; the max-n_events row per user is the final state
    (idempotent when the drain already finalized)."""
    from processo_etl_spark.plans.events import sessionize_gap
    from processo_etl_spark.streaming import jobs

    raw = jobs.run_sessionize_tws_or_twin_availablenow(spark, sf_dir)
    return certify(
        dedup_keep_first(raw, ["user_id"], [F.desc("n_events")]),
        sessionize_gap(spark, sf_dir),
        ["user_id"], ["n_sessions", "n_events"], "users",
        {
            "total_sessions": F.col("n_sessions"),
            "total_events": F.col("n_events"),
        },
    )
