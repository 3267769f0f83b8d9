"""Streaming ⇔ batch equivalence: the streaming jobs must produce the
same results as their oracle-checked batch twins once fully drained."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark import plans
from processo_etl_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


def _as_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_stream_tumbling_equals_batch(spark):
    stream = jobs.run_tumbling_count_availablenow(spark, SF_DIR)
    batch = plans.all_queries()["tumbling_window_counts"](spark, SF_DIR)
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _as_set(stream, cols) == _as_set(batch, cols)


def test_stream_sessionize_stateful_equals_batch(spark):
    stream = jobs.run_sessionize_stateful_availablenow(spark, SF_DIR)
    batch = plans.all_queries()["sessionize_gap"](spark, SF_DIR)
    cols = ["user_id", "n_sessions", "n_events"]
    assert _as_set(stream, cols) == _as_set(batch, cols)


def test_stateful_sessionizer_across_micro_batches(spark, tmp_path):
    """State must persist BETWEEN micro-batches: split events over many
    files and force one file per trigger, so most users' sessions span
    batches.  A sessionizer that only folds within a batch would
    overcount sessions at every batch boundary."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.streaming import jobs

    ev = catalog.load(spark, SF_DIR, "events")
    src = str(tmp_path / "events_many_files")
    # 8 files, arbitrary row split (not time-ordered — harder case).
    ev.repartition(8).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        jobs.sessionize_stateful(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_mb_"))
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    batch = plans.all_queries()["sessionize_gap"](spark, SF_DIR)
    cols = ["user_id", "n_sessions", "n_events"]
    assert _as_set(final, cols) == _as_set(batch, cols)


def test_sessionizer_watermark_finalization(spark, tmp_path):
    """finalize_by_watermark: settled sessions leave the state arrays
    (n_open << n_sessions) while totals still equal the batch plan —
    time-ordered batches + 1h watermark mean nothing is ever late."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.streaming import jobs

    ev = catalog.load(spark, SF_DIR, "events")
    src = str(tmp_path / "ordered_files")
    os.makedirs(src)
    # 5 time-ordered files with ascending mtimes → deterministic batch order.
    ranked = ev.withColumn("b", F.ntile(5).over(Window.orderBy("ts", "event_id")))
    for i in range(1, 6):
        stage = str(tmp_path / f"stage_{i}")
        ranked.filter(F.col("b") == i).drop("b").coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = f"{src}/{i:03d}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        # watermarks need tz-aware TIMESTAMP; session tz is UTC so the
        # wall-clock values are unchanged by the cast.
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        jobs.sessionize_stateful(stream, 1800, finalize_by_watermark=True)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_wm_"))
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rows = final.collect()
    batch = {(r["user_id"], r["n_sessions"], r["n_events"]) for r in
             plans.all_queries()["sessionize_gap"](spark, SF_DIR).collect()}
    assert {(r["user_id"], r["n_sessions"], r["n_events"]) for r in rows} == batch
    # Eviction really happened: open state is a small fraction of totals.
    assert max(r["n_open"] for r in rows) < min(r["n_sessions"] for r in rows) / 2


def test_insert_if_absent_anti_join(spark):
    from processo_etl_spark.sources import jdbc

    staging = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
    )
    existing = spark.createDataFrame([(1,), (3,)], ["id"])
    out = jdbc.insert_if_absent(staging, existing, ["id"]).collect()
    assert [(r["id"], r["v"]) for r in out] == [(2, "b")]
    # Idempotence: appending the survivors then re-staging inserts nothing.
    existing2 = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    assert jdbc.insert_if_absent(staging, existing2, ["id"]).count() == 0


def test_stream_dedup_within_watermark_equals_batch(spark):
    """Doubled input stream → dedup → per-type counts equal the batch
    distinct counts (every event arrived exactly twice)."""
    from processo_etl_spark import catalog
    from processo_etl_spark.streaming import jobs

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r["n"]
        for r in jobs.run_dedup_availablenow(spark, sf_dir, True).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in catalog.load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_interval_join_equals_batch(spark):
    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["purchase_id"], r["user_id"], r["n_views"])
        for r in jobs.run_interval_join_availablenow(spark, sf_dir).collect()
    }
    want = {
        (r["purchase_id"], r["user_id"], r["n_views"])
        for r in plans.all_queries()["interval_join_purchase_views"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_enrich_matches_batch_twin(spark):
    from processo_etl_spark import plans

    sf = "/root/testdata/sf0.001"
    q = plans.all_queries()
    streamed = q["stream_enrich_segment"](spark, sf)
    batch = q["enrich_events_segment"](spark, sf)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """Replaying a batch with the same batch_id must not duplicate rows,
    and a full availableNow drain lands exactly the source rows."""
    from processo_etl_spark.streaming import jobs, sinks

    sf = "/root/testdata/sf0.001"
    target = str(tmp_path / "out")
    q = sinks.start_foreach_batch_parquet(
        jobs.read_events_stream(spark, sf).select("event_id", "event_type", "value"),
        target,
        str(tmp_path / "ck"),
    )
    q.awaitTermination()
    from processo_etl_spark import catalog

    n_src = catalog.load(spark, sf, "events").count()
    assert spark.read.parquet(target).count() == n_src
    # Crash-replay simulation: re-deliver batch 0 (materialized, as a
    # replay re-reads the SOURCE via checkpointed offsets) — no dupes.
    batch0 = spark.read.parquet(f"{target}/batch_id=0")
    replay = spark.createDataFrame(batch0.collect(), batch0.schema)
    sinks.write_batch_idempotent(replay, 0, target)
    assert spark.read.parquet(target).count() == n_src


def test_foreach_batch_jdbc_upsert_replay_safe(spark, tmp_path):
    """Streaming → Derby via insert-if-absent: a full drain lands each
    key once, and a crash-replay of the same data inserts nothing —
    idempotence via keys, not batch ids (dag.py:399-443 equivalent)."""
    from processo_etl_spark.sources import jdbc
    from processo_etl_spark.streaming import jobs, sinks
    from tests.test_jdbc_sink import DERBY_PROPS, DERBY_URL, _derby

    conn = _derby(spark)
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE stream_events (event_id BIGINT NOT NULL, "
        "event_type VARCHAR(40), value DOUBLE PRECISION, "
        "PRIMARY KEY (event_id))"
    )
    try:
        sf = "/root/testdata/sf0.001"
        src = jobs.read_events_stream(spark, sf).select(
            "event_id", "event_type", "value"
        )
        q = sinks.start_foreach_batch_jdbc_upsert(
            src, DERBY_URL, "stream_events", ["event_id"], DERBY_PROPS,
            str(tmp_path / "ck"),
        )
        q.awaitTermination()
        from processo_etl_spark import catalog

        events = catalog.load(spark, sf, "events")
        n_src = events.select("event_id").distinct().count()
        back = spark.read.jdbc(DERBY_URL, "stream_events", properties=DERBY_PROPS)
        assert back.count() == n_src
        # Crash-replay: re-upsert the whole source → still no duplicates.
        jdbc.upsert_insert_only(
            events.select("event_id", "event_type", "value").limit(50),
            DERBY_URL, "stream_events", ["event_id"], DERBY_PROPS,
        )
        assert (
            spark.read.jdbc(DERBY_URL, "stream_events", properties=DERBY_PROPS).count()
            == n_src
        )
    finally:
        st.execute("DROP TABLE stream_events")
        conn.close()


def test_stream_curate_matches_batch(spark):
    """Stateless streaming curation drained with availableNow equals the
    batch filter over the same table."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import textstats
    from processo_etl_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["lang_pred"], r["quality_score"])
        for r in jobs.run_curate_availablenow(spark, sf).collect()
    }
    docs = catalog.load(spark, sf, "documents")
    feats = textstats.quality_features(docs, "text").withColumn(
        "lang_pred", textstats.detect_language("text")
    )
    want = {
        r["doc_id"]: (r["lang_pred"], r["quality_score"])
        for r in feats.filter("quality_score >= 0.3").collect()
    }
    assert got == want and len(got) > 0


def test_stream_cms_sketch_equals_batch_build(spark):
    """The streaming Count-Min build must equal the batch build
    cell-for-cell (sums are order-insensitive), with bounded state."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import sketches
    from processo_etl_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    streamed = jobs.run_cms_sketch_availablenow(spark, sf)
    batch = sketches.cms_build(
        catalog.load(spark, sf, "events"), "event_type"
    )
    assert streamed.count() <= 4 * 256
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_sessionize_tws_or_twin_runs_everywhere(spark):
    """The TWS sessionizer is UN-GATED (no feature-flag skip): where the
    protobuf runtime exists this compares transformWithStateInPandas
    against the applyInPandasWithState twin row-for-row (same
    interval-merge fold); where it does not, the public entry point
    must degrade transparently to the twin and still produce the full
    result table — no skip, no ImportError, in either environment."""
    from processo_etl_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    new = jobs.run_sessionize_tws_or_twin_availablenow(spark, sf)
    old = jobs.run_sessionize_stateful_availablenow(spark, sf)
    assert new.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    if jobs._has_tws_runtime():  # the genuine TWS path ran above
        assert jobs.run_sessionize_tws_availablenow(spark, sf).count() > 0


def test_stream_bloom_filter_equals_batch_build(spark):
    """The streaming Bloom build must equal the batch build
    word-for-word (bit-OR is order-insensitive and idempotent), with
    bounded state."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import bloom
    from processo_etl_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    streamed = jobs.run_bloom_filter_availablenow(spark, sf)
    batch = bloom.bloom_build(
        catalog.load(spark, sf, "events").selectExpr(
            "CAST(user_id AS STRING) AS user_id"
        ),
        "user_id",
    )
    assert streamed.count() <= (1 << 16) // 32
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_ewma_equals_batch_across_ordered_batches(spark, tmp_path):
    """The EWMA recurrence must survive batch boundaries: replay events
    as 4 time-ranged files (one per trigger, modTime-ordered), so the
    carry folds across batches and most rows SETTLE below the watermark
    mid-stream.  Every user's final provisional ewma must equal the
    batch operator's last value bit-for-bit, and settling must actually
    have happened (the bounded-state claim is real, not vacuous)."""
    import tempfile
    import time
    import uuid

    from processo_etl_spark import catalog
    from processo_etl_spark.operators import temporal
    from processo_etl_spark.streaming import jobs

    # Watermarks need tz-aware TIMESTAMP (session tz pinned UTC, so the
    # NTZ cast is value-identity — same move as read_events_stream).
    ev = catalog.load(spark, SF_DIR, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "user_id", "value",
    )
    src = tmp_path / "events_ranged"
    src.mkdir()
    bounds = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    lo = float("-inf")
    for i, hi in enumerate([*bounds, float("inf")]):
        # event_id correlates with ts in the fixture: ranged slices give
        # time-ordered arrival, so no row is ever too-late.
        part = ev.filter(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        )
        part.coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)  # distinct modTimes pin the trigger order
        lo = hi
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
    )
    name = f"ewma_mb_{uuid.uuid4().hex[:8]}"
    q = (
        jobs.ewma_stateful(stream, alpha=0.25, watermark="1 second")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ewma_mb_"))
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc(F.col("n_settled") + F.col("n_pending"))
    )
    final = {
        r["user_id"]: r
        for r in spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .collect()
    }
    batch = temporal.ewma_per_key(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.25
    )
    w2 = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    batch_final = {
        r["user_id"]: r["ewma"]
        for r in batch.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .collect()
    }
    assert set(final) == set(batch_final)
    for uid, row in final.items():
        assert row["ewma"] == batch_final[uid], uid
    # the carry did real work: most rows settled before the drain ended
    settled = sum(r["n_settled"] for r in final.values())
    pending = sum(r["n_pending"] for r in final.values())
    assert settled > pending


def test_stream_media_ingest_equals_batch_twin(spark, tmp_path):
    """Streaming binaryFile ingestion (the auto-ingest pattern) decodes
    REAL PNGs to features identical to the batch read_binary_media +
    extract_features path over the same directory — per-row bit parity,
    plus the closed-form pattern check on one known file."""
    from processo_etl_spark.ml import multimodal, png
    from processo_etl_spark.streaming import jobs

    w = h = 8
    (tmp_path / "2026-08").mkdir()  # nested (date-partitioned) layout
    for i in (2, 5, 9):
        px = bytes(
            (i * 31 + r * 7 + c * 13) % 256 for r in range(h) for c in range(w)
        )
        where = tmp_path / "2026-08" if i == 9 else tmp_path
        (where / f"img_{i}.png").write_bytes(png.encode_gray(px, w, h))

    streamed = {
        r["media_id"]: (r["n_bytes"], tuple(r["feature"]))
        for r in jobs.run_media_features_availablenow(
            spark, str(tmp_path)
        ).collect()
    }
    batch = {
        r["media_id"]: (r["n_bytes"], tuple(r["feature"]))
        for r in multimodal.extract_features(
            multimodal.read_binary_media(spark, str(tmp_path), glob="*.png"),
            n_features=8,
        ).collect()
    }
    assert streamed == batch and len(streamed) == 3
    exp5 = [
        sum((5 * 31 + r * 7 + c * 13) % 256 for r in range(h)) / (h * 255.0)
        for c in range(w)
    ]
    match = [
        f for _, f in streamed.values()
        if all(abs(a - b) < 1e-12 for a, b in zip(f, exp5))
    ]
    assert len(match) == 1  # exactly the i=5 image decodes to its pattern


def test_stream_media_ingest_incremental_across_drains(spark, tmp_path):
    """Exactly-once auto-ingest: with a persistent checkpoint + durable
    parquet sink, a second availableNow drain decodes ONLY files that
    arrived since the first (a re-decode would append duplicates — the
    accumulated table would show 5 rows, not 3).  The checkpointed file
    listing is the dedup state, surviving query restarts."""
    from processo_etl_spark.ml import png
    from processo_etl_spark.streaming import jobs

    media, out, ck = tmp_path / "media", tmp_path / "feat", tmp_path / "ck"
    media.mkdir()

    def drop(i):
        px = bytes((i * 31 + r * 7 + c * 13) % 256 for r in range(8) for c in range(8))
        (media / f"img_{i}.png").write_bytes(png.encode_gray(px, 8, 8))

    drop(1); drop(2)
    first = jobs.run_media_features_incremental(
        spark, str(media), str(out), str(ck)
    ).collect()
    assert len(first) == 2

    drop(3)  # arrives between drains
    acc = jobs.run_media_features_incremental(
        spark, str(media), str(out), str(ck)
    ).collect()
    # 3 accumulated rows, distinct ids: img_1/img_2 were NOT re-decoded
    # (a full re-drain would have appended them again -> 5 rows).
    assert len(acc) == 3
    assert len({r["media_id"] for r in acc}) == 3
    # fresh ephemeral drain still sees the whole directory
    full = jobs.run_media_features_availablenow(spark, str(media)).collect()
    assert len(full) == 3


def test_drain_removes_its_checkpoint(spark, monkeypatch):
    """An availableNow drain runs on a fresh checkpoint directory and
    removes it once the query has stopped, so repeated drains leave no
    ``ck_*`` directories behind."""
    import os
    import tempfile

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(jobs.tempfile, "mkdtemp", recording_mkdtemp)
    out = jobs.run_cms_sketch_availablenow(spark, SF_DIR)
    assert out.count() > 0
    assert len(made) == 1
    assert not os.path.exists(made[0])
