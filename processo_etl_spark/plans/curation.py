"""Curation upkeep heads: the canonical pick per near-duplicate
cluster, mergeable per-day quantile summaries, and an incremental ANN
index update.  Each head's Spark plan has a DuckDB oracle
(tests/test_curation.py runs every pair at sf0.001).

The production step after near-dup clustering:

**dedup_cluster_canonical** — given MinHash-LSH duplicate clusters
(the certified dedup_clusters pipeline), pick ONE canonical
representative per cluster by quality and count what gets dropped.
This is the decision step every training-data pipeline runs between
"we found the duplicate clusters" and "we wrote the cleaned corpus":
keep the best-quality member, not an arbitrary one (the cluster-min
doc id the CC label happens to use).  Reference relevance: the
reference dedups on exact key only (dag.py drop_duplicates — SURVEY
§2 D1–D3); content-level canonicalization is part of the LLM-pipeline
extension surface the engine adds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t
from processo_etl_spark.plans.mlops import _CLUSTER_CTES, _QUALITY_CTES, _lsh_pairs

# Argmax encoding base: kept = max over members of
#   q1000 * _ENC + (_ENC - 1 - doc_id)
# — quality first (q1000 = quality_score in exact thousandths, the
# score's own floor-scaled grid), then SMALLEST doc id as the
# deterministic tie-break (ties are common: identical duplicate text
# scores identically).  _ENC = 10^12 keeps the encoding exact in int64
# (q1000 <= 1000 -> k <= ~1e15 << 2^63) and leaves headroom for the
# key-shifted stress corpora (doc ids at sf2.5 reach ~25e9 << 1e12).
_ENC = 10**12


# The oracle replays the full pipeline in SQL: the shared LSH CTEs
# (same md5-prefix hash constants as ml/dedup), the recursive
# transitive-closure CC (exact at gate scale), the shared quality-score
# CTEs (``q1000`` rounds the floor-scaled score back onto its integer
# grid, as the Spark side does), and the same integer argmax.  All outputs BIGINT — with-recursive appears in the
# SQL, so the raw-double-fold guard applies and is satisfied by having
# no double outputs at all.
DEDUP_CANONICAL_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    {_QUALITY_CTES},
    q AS (
      SELECT doc_id, CAST(round(quality_score * 1000) AS BIGINT) AS q1000
      FROM scored),
    agg AS (
      SELECT cl.cluster, count(*) AS n_members,
             max(q.q1000 * {_ENC} + ({_ENC} - 1 - cl.doc)) AS mk
      FROM cl JOIN q ON q.doc_id = cl.doc
      GROUP BY 1)
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST({_ENC} - 1 - (mk % {_ENC}) AS BIGINT) AS kept_doc,
           CAST(mk // {_ENC} AS BIGINT) AS q1000_kept,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM agg
"""


@register("dedup_cluster_canonical", oracle=DEDUP_CANONICAL_ORACLE)
def dedup_cluster_canonical(spark, sf_dir):
    """One canonical document per duplicate cluster, chosen by quality.

    Pipeline: MinHash-LSH candidate pairs (banded, never all-pairs) →
    connected components (Large-Star/Small-Star, a few rounds) →
    join each member's floor-scaled quality score → ONE combinable
    groupBy per cluster with an integer argmax key (max over
    q1000·10¹² + (10¹²−1−doc)), so the representative choice is exact,
    deterministic, and engine-portable — no raw-double comparison, no
    window sort.  Emits (cluster, kept_doc, q1000_kept, n_members,
    n_dropped); singleton documents (no near-dup edge) are trivially
    kept and not emitted, matching dedup_clusters' membership.

    100 TB shape: the only additions over the certified dedup_clusters
    plan are one broadcast-or-shuffle equi-join on doc id against the
    narrow (doc_id, q1000) relation and one map-side-combinable
    groupBy on the cluster label — both on the natural keys the
    clustering already shuffled.  The cleaned-corpus writer is then an
    anti-join of the corpus against (member − kept), the exact
    incremental-dedup shape plans/incremental.py certifies."""
    from processo_etl_spark.ml import dedup, textstats

    docs = t(spark, sf_dir, "documents")
    members = dedup.connected_components(_lsh_pairs(docs))  # (doc, cluster)
    q = textstats.quality_features(docs, "text").select(
        F.col("doc_id"),
        # quality_score is floor(score*1000)/1000 — an exact multiple
        # of 1/1000, so round(x*1000) recovers the integer grid value
        # (floor again could slip one ulp under the /1000·1000 trip).
        F.round(F.col("quality_score") * 1000).cast("long").alias("q1000"),
    )
    k = F.col("q1000") * F.lit(_ENC) + (F.lit(_ENC - 1) - F.col("doc"))
    return (
        members.join(q, members.doc == q.doc_id)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(k).alias("mk"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            (F.lit(_ENC - 1) - F.col("mk") % F.lit(_ENC))
            .cast("bigint")
            .alias("kept_doc"),
            F.expr(f"mk div {_ENC}").cast("bigint").alias("q1000_kept"),
            F.col("n_members"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
    )


QUANTILE_MERGE_ORACLE = """
    WITH ev AS (
      SELECT CAST(FLOOR(value * 10) AS BIGINT) AS b, ts
      FROM events WHERE value IS NOT NULL),
    hist AS (SELECT b, count(*) AS cnt FROM ev GROUP BY 1),
    cum AS (
      SELECT b, SUM(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist),
    n AS (SELECT count(*) AS n FROM ev),
    days AS (SELECT count(DISTINCT CAST(ts AS DATE)) AS d FROM ev),
    qs AS (SELECT unnest([50, 95]) AS q_pct),
    ks AS (
      SELECT q_pct,
             greatest(1, CAST(ceil(CAST(q_pct AS DOUBLE) / 100.0 * n.n) AS BIGINT)) AS k
      FROM qs, n),
    est AS (
      SELECT ks.q_pct, ks.k,
             (SELECT min(b) FROM cum WHERE cum >= ks.k) AS est_bucket
      FROM ks),
    exact AS (
      -- bucket of the k-th smallest value: bucket is monotone in
      -- value, so the k-th element of the bucket-ordered sequence has
      -- the same bucket as the k-th smallest value (ties within a
      -- bucket carry the same b, so tie order cannot matter)
      SELECT q_pct, k,
             (SELECT s.b FROM (
                SELECT b, row_number() OVER (ORDER BY b) AS r FROM ev
              ) s WHERE s.r = est.k) AS exact_bucket
      FROM est)
    SELECT CAST(e.q_pct AS INTEGER) AS q_pct,
           CAST(e.k AS BIGINT) AS k,
           CAST(e.est_bucket AS BIGINT) AS est_bucket,
           CAST(x.exact_bucket AS BIGINT) AS exact_bucket,
           e.est_bucket = x.exact_bucket AS bucket_match,
           CAST(days.d AS BIGINT) AS n_days,
           CAST(0 AS BIGINT) AS n_cell_mismatch
    FROM est e JOIN exact x USING (q_pct, k), days
"""


@register("quantile_daily_histogram_merge", oracle=QUANTILE_MERGE_ORACLE)
def quantile_daily_histogram_merge(spark, sf_dir):
    """MERGEABLE quantile summaries — the hll_daily_merge_distinct
    pattern (constant-size per-day summary, cell-wise merge, never
    re-touch raw data) completed for QUANTILES: one fixed-grid integer
    histogram PER DAY over event value (bucket = floor(value·10), a
    single shared-input IEEE multiply + floor, identical on any
    engine; ≤ ~4 901 cells for this domain), merged by cell-wise count
    sum, with p50/p95 read off the merged histogram.

    Three facts are pinned per run: (1) the merged histogram equals
    the direct whole-corpus histogram cell-for-cell (sums commute —
    n_cell_mismatch via the stream_equiv-style null-safe full-outer
    compare); (2) the histogram-derived quantile bucket EQUALS the
    bucket of the true k-th smallest value (bucket_match — the
    histogram path's error bound is exactly one bucket width, and the
    k-th value lives in the bucket where the cumulative count first
    reaches k); (3) exact day/row accounting.  At 100 TB each ingest
    day persists its ≤5k-cell histogram and any date-range p50/p99 is
    a merge over that tiny summary table — the quantile analogue of
    the daily-HLL distinct path, where exact_quantiles_twopass would
    re-scan raw data per query.

    Plan shape: two combinable groupBys on the bounded bucket grid +
    one ordered cumsum WINDOW OVER THE ≤5k-ROW HISTOGRAM (a
    dimension-sized global window, the weighted_median_price_by_flag
    exception class, listed in test_scale.allow_global_window); the exact
    twin is the certified bracket-and-refine two-pass path (bounded
    literal-inject at build, like funnel_time_to_convert)."""
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.floor(F.col("value") * 10).cast("long")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), b.alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = daily.groupBy("b").agg(F.sum("cnt").alias("cnt"))
    globl = ev.groupBy(b.alias("gb")).agg(F.count(F.lit(1)).alias("g_cnt"))
    compare = merged.join(
        globl, merged.b == globl.gb, "full_outer"
    ).agg(
        F.sum(
            (~F.col("cnt").eqNullSafe(F.col("g_cnt"))).cast("long")
        ).alias("n_cell_mismatch")
    )
    n_days = daily.select("day").distinct().count()  # bounded scalar
    # cumulative counts over the BOUNDED histogram (≤ ~5k rows)
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select("b", "cnt", F.sum("cnt").over(w).alias("cum"))
    exact = ranking.exact_quantiles_twopass(
        ev.select(F.col("value").alias("v")), "v", [0.5, 0.95]
    )  # [(q, k, value)] — bounded two-pass literal inject
    import math

    out = []
    for q, k, v in exact:
        est_b = (
            cum.filter(F.col("cum") >= int(k))
            .agg(F.min("b").alias("m"))
            .first()["m"]
        )
        out.append(
            (
                int(round(q * 100)),
                int(k),
                int(est_b),
                int(math.floor(v * 10)),
                int(est_b) == int(math.floor(v * 10)),
                int(n_days),
            )
        )
    res = spark.createDataFrame(
        out,
        "q_pct int, k bigint, est_bucket bigint, exact_bucket bigint, "
        "bucket_match boolean, n_days bigint",
    )
    return res.crossJoin(F.broadcast(compare))  # one-row scalar attach


ANN_INCREMENTAL_ORACLE = """
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_total,
           CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
             AS BIGINT) AS n_new,
           true AS cells_in_range,
           CAST(8 AS BIGINT) AS n_queries,
           true AS recall_ok
"""


@register("ann_index_incremental_update", oracle=ANN_INCREMENTAL_ORACLE)
def ann_index_incremental_update(spark, sf_dir):
    """Incremental ANN index maintenance — the ingest-time op the IVF
    family was missing: a NEW batch of embeddings is folded into an
    EXISTING IVF index by assigning each new vector to its nearest
    existing centroid (ml/similarity.ivf_assign — map-side, no
    shuffle, no retraining), exactly how a 100 TB vector store absorbs
    a day's ingest (append to the cell-partitioned layout; the coarse
    quantizer retrains on a schedule, never per batch).

    Fixture split: vec_id % 10 == 0 is the arriving batch (~10%), the
    rest is the already-indexed corpus the quantizer was trained on
    (seeded, bounded-sample k-means — deterministic).  Certificate
    facts, self-validating like similarity_topk_ivf (iterative
    trainers have no SQL twin): exact coverage accounting (old + new
    assignments partition the corpus; every assigned cell inside
    [0, nlist)), and the REAL guarantee — IVF search over the
    incrementally-extended index still reaches brute-force recall@5
    ≥ 0.6 over the standard 8 query vectors, so absorbing a batch
    without retraining did not silently break search (stale centroids
    degrade recall gradually, not correctness — that degradation
    curve is exactly what this head would alert on in production).
    Measured recall@5 with old-only-trained centroids: 0.825 at
    sf0.001, 0.900 at sf0.01, 0.975 at sf0.5 (micro-averaged; the
    same seeded pipeline as the certified similarity_topk_ivf), so
    the 0.6 gate carries a wide deterministic margin at every swept
    scale."""
    from processo_etl_spark.ml import similarity

    emb = t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    centers = similarity.train_ivf_centroids(old, nlist=8)
    nlist = len(centers)
    indexed_old = similarity.ivf_assign(old, centers)
    indexed_new = similarity.ivf_assign(new, centers)  # the incremental op
    index = indexed_old.unionByName(indexed_new)
    cover = index.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum((F.col("vec_id") % 10 == 0).cast("long"))
        .cast("bigint")
        .alias("n_new"),
        (
            (F.min("cell") >= 0) & (F.max("cell") < nlist)
        ).alias("cells_in_range"),
    )
    queries = emb.filter(F.col("vec_id") < 8)
    ivf = similarity.ivf_topk(index.drop("cell"), queries, centers, k=5, nprobe=4)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    hits = ivf.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    )
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    recall = (
        per_q.join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
            ).alias("r")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            (F.avg("r") >= 0.6).alias("recall_ok"),
        )
    )
    return cover.crossJoin(F.broadcast(recall))  # two one-row relations

