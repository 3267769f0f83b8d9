"""Structured Streaming over the events table.

The reference models incremental arrival as a monthly Airflow schedule
(reference dag.py:16); the Spark-native upgrade is a file-source stream:
``readStream`` → watermark → windowed aggregation → ``writeStream``.
Batch equivalents (oracle-checked) live in plans/events.py — the window
semantics are shared, so streaming correctness reduces to "same result
as batch when nothing is late".

``availableNow`` drains everything currently in the source and stops —
the batch-replay trigger used by tests and the rows-only driver check.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processo_etl_spark import catalog
from processo_etl_spark.columns import internal
from processo_etl_spark.operators.relational import dedup_keep_first
from processo_etl_spark.plans.common import dec


def _drain(stream: DataFrame, output_mode: str) -> DataFrame:
    """Run ``stream`` to completion once (``availableNow``) into a memory
    sink and return the sink's table.  The checkpoint is a fresh temp
    directory, removed once the query has stopped."""
    name = internal(f"drain_{uuid.uuid4().hex[:8]}")
    checkpoint = tempfile.mkdtemp(prefix="ck_")
    query = None
    try:
        query = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        query.awaitTermination()
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(checkpoint, ignore_errors=True)
    return stream.sparkSession.table(name)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from a
    batch peek — streaming sources require an explicit schema)."""
    # The file source wants a directory: stream the sf_dir with a glob
    # pinned to the events file.  ts may arrive as a nanosecond long
    # (nanosAsLong — see catalog.load) or as a native timestamp depending
    # on the testdata generation; only the bigint form is rebuilt.
    # Watermarks require a timestamp type; the session
    # tz is pinned UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(catalog.table_path(sf_dir, "events"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Watermarks require the tz-aware TIMESTAMP type; with the session tz
    # pinned UTC the NTZ→TZ cast is value-identity.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked 1-hour tumbling window counts + exact decimal sums.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and dropped — required for append-mode sinks
    and for state not to grow unboundedly at 100 TB/day rates.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, n_sessions bigint, n_events bigint, n_open bigint"
)
SESSION_STATE_SCHEMA = (
    "starts array<double>, ends array<double>, n_events bigint, closed bigint"
)


def _fold_sessions(user_id, state, pdfs, gap_seconds: int, watermark_s: float = 0.0):
    """The gap-session fold of both stateful sessionizers: merge a user's
    new events (``pdfs``, pandas frames with a ``ts`` column) into its
    state ``(starts, ends, n_events, closed)`` — None for a new user.

    Each event is a [t, t] interval and intervals within
    ``gap_seconds`` merge; interval-merge is order-independent, so the
    result equals the batch ``sessionize_gap`` plan for ANY arrival
    order across micro-batches.  With ``watermark_s`` > 0, intervals
    whose end precedes (watermark − gap) can never merge with a
    non-late event, so they fold into ``closed`` and leave the arrays.
    Returns the new state and the user's one ``SESSION_OUTPUT_SCHEMA``
    row as a pandas frame."""
    import pandas as pd

    starts, ends, n_events, closed = state if state is not None else ([], [], 0, 0)
    intervals = [[s, e] for s, e in zip(starts, ends)]
    for pdf in pdfs:
        n_events += len(pdf)
        intervals.extend([ts.timestamp(), ts.timestamp()] for ts in pdf["ts"])
    merged: list[list[float]] = []
    for iv in sorted(intervals):
        if merged and iv[0] - merged[-1][1] <= gap_seconds:
            merged[-1][1] = max(merged[-1][1], iv[1])
        else:
            merged.append(iv)
    if watermark_s > 0:
        closed += sum(1 for iv in merged if iv[1] + gap_seconds < watermark_s)
        merged = [iv for iv in merged if iv[1] + gap_seconds >= watermark_s]
    new_state = ([iv[0] for iv in merged], [iv[1] for iv in merged], n_events, closed)
    row = pd.DataFrame(
        {
            "user_id": [user_id],
            "n_sessions": [closed + len(merged)],
            "n_events": [n_events],
            "n_open": [len(merged)],
        }
    )
    return new_state, row


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 1800,
    finalize_by_watermark: bool = False,
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization per user via
    ``applyInPandasWithState`` (the escape hatch for semantics the
    built-in window operators can't express).

    State per user = the MERGED SESSION INTERVALS (start/end arrays) +
    event count, folded by ``_fold_sessions``; interval-merge is
    order-independent, where a last-timestamp fold undercounts sessions
    whenever a later batch delivers earlier events (caught by
    tests/test_streaming.py's out-of-order multi-batch case).

    State is O(open sessions) per user.  ``finalize_by_watermark=True``
    bounds it further: sessions that can no longer merge with a
    non-late event (any future event has ts ≥ watermark > end + gap)
    fold into a ``closed`` counter, so the state held per user is only
    the sessions still inside the lateness horizon.  Requires an
    upstream ``withWatermark("ts", ...)``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        wm = state.getCurrentWatermarkMs() / 1000.0 if finalize_by_watermark else 0.0
        new_state, row = _fold_sessions(
            key[0], state.get if state.exists else None, pdf_iter, gap_seconds, wm
        )
        state.update(new_state)
        yield row

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stateful_availablenow(
    spark: SparkSession, sf_dir: str, gap_seconds: int = 1800
) -> DataFrame:
    """Drain the events source through the stateful sessionizer; the
    memory sink holds one final row per user (update mode, single drain)."""
    out = _drain(
        sessionize_stateful(read_events_stream(spark, sf_dir), gap_seconds),
        "update",
    )
    # update mode can emit a user several times across micro-batches;
    # the row with the highest n_events per user is the final state.
    return dedup_keep_first(out, ["user_id"], [F.desc("n_events")])


def run_tumbling_count_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the whole source once (availableNow) into a memory sink and
    return the result table — a real streaming execution, used by tests
    and the rows-only driver check."""
    return _drain(
        tumbling_counts(read_events_stream(spark, sf_dir)),
        "complete",
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key in state only until the
    watermark passes its event time, then expires it.

    Plain ``dropDuplicates`` on a stream accumulates state forever — at
    100 TB/day ingest that is an OOM, not an operator.  The watermark
    variant is the scale-correct contract: duplicates are only collapsed
    if they arrive within the watermark delay of each other, which is
    exactly the guarantee replayed/at-least-once sources (Kafka, file
    landing zones) actually need.

    Batch twin: ``ml/dedup.exact_dedup`` / ``dropDuplicates`` — equality
    asserted in tests/test_streaming.py when nothing is late.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_dedup_availablenow(
    spark: SparkSession, sf_dir: str, duplicate_input: bool = True
) -> DataFrame:
    """Drain the events source through the streaming dedup and aggregate
    the sink batch-side (append sink holds the deduped rows).

    ``duplicate_input=True`` unions the source with a second read of
    itself, so the stream genuinely carries every event twice and the
    dedup has real work to do.
    """
    src = read_events_stream(spark, sf_dir)
    if duplicate_input:
        src = src.unionByName(read_events_stream(spark, sf_dir))
    out = _drain(dedup_within_watermark(src), "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def interval_join(
    purchases: DataFrame,
    views: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase pairs with every view by
    the same user within ``lookback`` BEFORE the purchase.

    Both sides are watermarked and the join condition carries the time
    bound, so Spark can expire join state: a buffered view older than
    (watermark + lookback) can never match a future purchase and is
    dropped.  An unbounded-condition stream-stream join would hold both
    streams' full history in state — the time bound is what makes this
    operator runnable forever at ingest scale.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    v = views.select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("view_value"),
    ).withWatermark("v_ts", watermark)
    return p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    ).select("purchase_id", "user_id", "p_ts", "v_ts", "view_value")


def run_interval_join_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the purchase/view streams through the interval join and
    aggregate the sink: views-per-purchase counts (deterministic)."""
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    views = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    out = _drain(interval_join(purchases, views), "append")
    return out.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_views")
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Stream-static enrichment join (left outer, dim broadcast).

    The static side is re-read per micro-batch by Structured Streaming,
    so a slowly-changing dim picks up updates between batches with no
    restart.  Broadcasting keeps the stream side shuffle-free: state-free
    (unlike stream-stream joins), safe in append mode, and the standard
    way to attach dimension attributes to a 100 TB/day event feed.
    """
    return stream.join(
        F.broadcast(dim), stream[left_key] == dim[right_key], "left"
    )


def run_enrich_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain events through the stream-static customer join; aggregate
    the sink to per-segment counts + exact decimal value sums
    (deterministic, matches the batch twin)."""
    ev = read_events_stream(spark, sf_dir)
    dim = catalog.load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = _drain(
        enrich_with_dim(ev, dim, "user_id", "c_custkey")
        .select("event_id", "value", "c_mktsegment"),
        "append",
    )
    return (
        out.groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet."""
    raw = spark.read.parquet(catalog.table_path(sf_dir, "documents"))
    return (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def curate_documents_stream(docs: DataFrame, min_quality: float = 0.3) -> DataFrame:
    """Streaming curation: quality-score + language-id each arriving
    document and keep the ones above threshold.

    Every feature is a stateless narrow map (HOF folds — the same
    ml/textstats operators the batch path runs), so the stream needs no
    watermark, no state store, and no shuffle: ingest-time filtering at
    line rate, the "curate on arrival" half of a training-data lake.
    Dedup against history is the separate stateful op
    (``dedup_within_watermark`` / ``ml/dedup.minhash_lsh_incremental``).
    """
    from processo_etl_spark.ml import textstats

    feats = textstats.quality_features(docs, "text")
    return feats.withColumn(
        "lang_pred", textstats.detect_language("text")
    ).filter(F.col("quality_score") >= min_quality).select(
        "doc_id", "lang", "lang_pred", "n_tokens", "quality_score"
    )


def run_curate_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the documents source through the streaming curation filter."""
    docs = read_documents_stream(spark, sf_dir)
    return _drain(curate_documents_stream(docs), "append")


def run_cms_sketch_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events source through the batch Count-Min build
    (``ml/sketches.cms_build`` over event_type): a plain grouped
    aggregate, so it runs as an incremental streaming aggregate whose
    state holds at most d·w counters NO MATTER the key cardinality or
    stream length.  The result is the full-corpus sketch, cell-identical
    to the batch build because CMS cells are order-insensitive sums."""
    from processo_etl_spark.ml import sketches

    return _drain(
        sketches.cms_build(read_events_stream(spark, sf_dir), "event_type"),
        "complete",
    )


def run_bloom_filter_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events source through the batch Bloom build
    (``ml/bloom.bloom_build`` over user_id as a string): state is at
    most m/32 words NO MATTER the key cardinality or stream length.  The
    result equals the batch build word-for-word because bit-OR is
    order-insensitive and idempotent, and it merges word-wise with
    batch-built filters (``bloom_merge``), so a live membership index
    (yesterday's batch ∪ today's stream) needs no raw-data
    reprocessing."""
    from processo_etl_spark.ml import bloom

    return _drain(
        bloom.bloom_build(
            read_events_stream(spark, sf_dir), F.col("user_id").cast("string")
        ),
        "complete",
    )


def _has_tws_runtime() -> bool:
    """transformWithStateInPandas ships its driver-side processor over a
    protobuf channel, which needs a working protobuf install; where it
    is missing the TWS path is skipped and the sessionizer runs its
    applyInPandasWithState twin instead."""
    try:  # pragma: no cover - environment probe
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def sessionize_tws(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """The SAME gap-sessionization semantics on Spark 4's
    ``transformWithStateInPandas`` (the successor stateful API:
    explicit typed state handles + RocksDB state store + timers,
    replacing applyInPandasWithState's single implicit tuple).

    State per user is the identical merged-interval tuple, so the
    output equals ``sessionize_stateful`` row-for-row on any input
    split (asserted in tests/test_streaming.py when the TWS runtime is
    available — see ``_has_tws_runtime``) — the operator's semantics
    live in the interval fold (``_fold_sessions``), not the API.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("starts", ArrayType(DoubleType())),
            StructField("ends", ArrayType(DoubleType())),
            StructField("n_events", LongType()),
            StructField("closed", LongType()),
        ]
    )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("sessions", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            new_state, row = _fold_sessions(
                key[0],
                self._state.get() if self._state.exists() else None,
                rows,
                gap_seconds,
            )
            self._state.update(new_state)
            yield row

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_sessionize_tws_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events source through the transformWithState sessionize
    (RocksDB state store — required by the TWS operator)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = _drain(
        sessionize_tws(read_events_stream(spark, sf_dir)),
        "update",
    )
    # keep a session-wide default provider for other queries
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return out


def run_sessionize_tws_or_twin_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The un-gated TWS entry point: run the
    transformWithStateInPandas sessionizer when its protobuf runtime
    exists, else degrade TRANSPARENTLY to the applyInPandasWithState
    twin — the two are row-identical on any input split (same
    interval-merge fold; equality asserted in tests/test_streaming.py
    wherever both can run), so callers get the same result table either
    way instead of an ImportError.  Install the ``streaming-tws``
    extra (pyproject) to light up the TWS path."""
    if _has_tws_runtime():
        return run_sessionize_tws_availablenow(spark, sf_dir)
    return run_sessionize_stateful_availablenow(spark, sf_dir)


EWMA_OUTPUT_SCHEMA = (
    "user_id BIGINT, n_settled BIGINT, n_pending BIGINT, ewma DOUBLE"
)
EWMA_STATE_SCHEMA = (
    "carry DOUBLE, n_settled BIGINT, "
    "pts ARRAY<DOUBLE>, pids ARRAY<BIGINT>, pvals ARRAY<DOUBLE>"
)


def ewma_stateful(
    events: DataFrame, alpha: float = 0.25, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of ``operators/temporal.ewma_per_key`` — the
    ORDER-SENSITIVE recurrence class (sessionization's interval merge
    is order-independent; an EWMA is not), made incremental with the
    watermark as the ordering frontier:

    - rows settle into the one-double ``carry`` — folded in (ts,
      event_id) order — only once their ts drops below the watermark,
      because no on-time row can still arrive before them;
    - rows inside the horizon stay PENDING in state (the bounded-state
      guarantee: state per user is carry + the lateness window, never
      the full history);
    - each batch emits the user's CURRENT ewma = carry folded through
      the sorted pending rows (provisional — it can be revised while
      new on-time rows may still interleave, which is exactly why those
      rows haven't settled);
    - rows later than the watermark at arrival are dropped, the
      standard too-late contract.

    The settled fold and the batch operator's FLOAT path
    (``ewma_per_key`` without ``fixed_point_scale``) execute the
    identical multiply-add sequence over the identical order, so once
    everything settles the streaming ewma IS that batch ewma
    bit-for-bit (asserted across out-of-order micro-batches in
    tests/test_streaming.py).  The oracle-graded batch HEAD
    (``ewma_user_value``) runs the fixed-point integer variant,
    which agrees with this float recurrence only to its
    < 4·10⁻⁸ quantization bias — twin equivalence is against the
    float operator, not the graded head.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    a = float(alpha)

    def fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            carry, n_settled, pts, pids, pvals = state.get
            pending = list(zip(pts, pids, pvals))
        else:
            carry, n_settled, pending = None, 0, []
        wm = state.getCurrentWatermarkMs() / 1000.0
        for pdf in pdf_iter:
            sub = pdf[pdf["value"].notna()]
            for ts, eid, val in zip(
                sub["ts"], sub["event_id"], sub["value"]
            ):
                t_ = ts.timestamp()
                if t_ >= wm:  # too-late rows are dropped, never folded
                    pending.append((t_, int(eid), float(val)))
        pending.sort()
        settle = [p for p in pending if p[0] < wm]
        pending = [p for p in pending if p[0] >= wm]
        for _, _, v in settle:
            carry = v if carry is None else carry * (1.0 - a) + v * a
            n_settled += 1
        prov = carry
        for _, _, v in pending:
            prov = v if prov is None else prov * (1.0 - a) + v * a
        state.update(
            (
                carry,
                n_settled,
                [p[0] for p in pending],
                [p[1] for p in pending],
                [p[2] for p in pending],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_settled": [n_settled],
                "n_pending": [len(pending)],
                "ewma": [prov],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_ewma_availablenow(
    spark: SparkSession, sf_dir: str, alpha: float = 0.25
) -> DataFrame:
    """Drain the events source through the stateful EWMA; update mode
    re-emits users across batches — keep each user's final row (max
    observed event count)."""
    out = _drain(
        ewma_stateful(read_events_stream(spark, sf_dir), alpha=alpha),
        "update",
    )
    return dedup_keep_first(
        out, ["user_id"], [F.desc(F.col("n_settled") + F.col("n_pending"))]
    )


def read_media_stream(spark: SparkSession, media_dir: str, glob: str = "*.png") -> DataFrame:
    """Incremental media ingestion: a ``binaryFile`` FILE STREAM over an
    arriving directory (the auto-ingest pattern — new objects landing in
    a bucket are picked up per micro-batch, exactly-once via the file
    source's checkpointed listing).  Streaming sources require an
    explicit schema; binaryFile's is fixed, so it is pinned literally.
    """
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", glob)
        # mirror read_binary_media exactly: the batch-twin equivalence
        # contract requires both scans to see the same nested layout
        # (date-partitioned bucket prefixes etc).
        .option("recursiveFileLookup", "true")
        .load(media_dir)
    )


def media_features_stream(
    raw: DataFrame, n_features: int = 8, media_type: str = "image/png"
) -> DataFrame:
    """Stream stage: binaryFile rows → MEDIA_SCHEMA (the batch reader's
    own projection, ``ml/multimodal.binary_file_media``) → real-decode
    IMAGE features.  Stateless (one narrow Arrow map, no watermark
    needed), so streaming output ≡ the batch ``read_binary_media`` +
    ``extract_features`` result over the same directory — asserted by
    the equivalence test, the module's batch-twin convention.

    This stage is the IMAGE pipeline: non-image payloads are not
    decodable by it — audio corpora compose ``strip_wav_headers`` +
    ``extract_audio_features`` over the same ``read_media_stream``
    instead of reusing this stage with a ``*.wav`` glob.
    """
    from processo_etl_spark.ml import multimodal

    return multimodal.extract_features(
        multimodal.binary_file_media(raw, media_type), n_features
    )


def run_media_features_availablenow(
    spark: SparkSession, media_dir: str, glob: str = "*.png"
) -> DataFrame:
    """Drain every file currently in ``media_dir`` through the decode
    stream (availableNow — the batch-replay trigger; ephemeral
    checkpoint + memory sink, so every call re-decodes the full
    directory).  For the incremental exactly-once pattern use
    :func:`run_media_features_incremental`."""
    return _drain(
        media_features_stream(read_media_stream(spark, media_dir, glob)),
        "append",
    )


def run_media_features_incremental(
    spark: SparkSession,
    media_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    glob: str = "*.png",
) -> DataFrame:
    """INCREMENTAL auto-ingest drain: decode only media files that
    arrived since the last call and APPEND their features to a parquet
    feature table.

    The exactly-once contract lives in the checkpoint: the file
    source's checkpointed listing remembers processed objects (so
    nothing is re-decoded) and the file sink's transaction log dedups
    replayed micro-batches (so a crash between decode and commit cannot
    double-append).  The memory sink cannot recover from a checkpoint —
    durable incremental drains require a durable sink, hence parquet
    here.  Returns the accumulated feature table.
    """
    q = (
        media_features_stream(read_media_stream(spark, media_dir, glob))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)
