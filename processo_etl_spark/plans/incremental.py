"""Incremental aggregate maintenance: merge partial aggregates from a
history partition and a delta batch and certify, by driver hash against
a full-recompute oracle, that merge ≡ rebuild.

The warehouse pattern this grades (extension surface — the reference
recomputes every aggregate from scratch each monthly run, dag.py's
whole design): at 100 TB a rollup table is maintained INCREMENTALLY —
each ingest batch contributes its partial (count, sum, min, max) and
the stored rollup merges them — never re-scanning history.  That only
works for ALGEBRAIC aggregates whose partials compose associatively
(count/sum/min/max, and avg as sum÷count); it is the same mergeability
contract the HLL / CMS / Bloom / postings operators test, here for the
plain-aggregate rollup case and graded by the driver.

Oracle-parity design: partial sums run in exact DECIMAL (order- and
grouping-insensitive), cast to DOUBLE only at the output boundary
(plans/common.dec convention), so the two-level Spark merge and the
one-level DuckDB recompute agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import dec, t

# History/delta boundary: mid-corpus, so both sides are non-trivial at
# every sf (orders span 1992–1998).
_CUTOVER = "1996-01-01"


def _partial_rollup(df: DataFrame) -> DataFrame:
    """One batch's algebraic partials per priority — the rows an ingest
    job would append to the rollup's partial store."""
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).alias("s"),
        F.min(dec("o_totalprice")).alias("mn"),
        F.max(dec("o_totalprice")).alias("mx"),
    )


def merge_rollup_partials(*partials: DataFrame) -> DataFrame:
    """Fold any number of partial-rollup batches into the merged rollup
    (count/sum re-sum, min/max re-extremize; avg derived at read time).
    Associative and commutative — batches compose in any order, the
    incremental-view-maintenance contract."""
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("o_orderpriority").agg(
        F.sum("n").alias("n_orders"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


@register(
    "rollup_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS total_revenue,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             / COUNT(*) AS avg_revenue,
           CAST(MIN(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS min_revenue,
           CAST(MAX(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS max_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def rollup_incremental_merge(spark, sf_dir):
    """Incremental rollup maintenance certificate: the per-priority
    revenue rollup computed as merge(partial(history), partial(delta))
    — history = orders before 1996-01-01, delta = the rest — while the
    oracle recomputes the rollup from the FULL table in one pass.  The
    driver hash match certifies partial-aggregate merge ≡ rebuild for
    the algebraic aggregate set (count, sum, min, max, derived avg).

    Scale shape: each partial is a combinable groupBy over its own
    batch (map-side combine, one shuffle on the grain key); the merge
    shuffles only |grain| partial rows per batch.  At 100 TB the
    history partial is the STORED rollup — history is never re-scanned;
    this query re-derives it only because the certificate needs both
    paths over the same frozen inputs.
    """
    orders = t(spark, sf_dir, "orders")
    cut = F.lit(_CUTOVER).cast("timestamp_ntz")
    history = orders.filter(F.col("o_orderdate") < cut)
    delta = orders.filter(F.col("o_orderdate") >= cut)
    merged = merge_rollup_partials(
        _partial_rollup(history), _partial_rollup(delta)
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("s").cast("double").alias("total_revenue"),
        (F.col("s").cast("double") / F.col("n_orders")).alias("avg_revenue"),
        F.col("mn").cast("double").alias("min_revenue"),
        F.col("mx").cast("double").alias("max_revenue"),
    )


@register(
    "dedup_incremental_batch",
    oracle="""
    WITH fps AS (
      SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    hist AS (SELECT fp FROM fps WHERE doc_id % 5 <> 0),
    batch AS (
      SELECT doc_id, fp FROM fps WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id, fp
      FROM fps WHERE doc_id % 7 = 0),
    fresh AS (
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp))
    SELECT min(doc_id) AS doc_id, fp,
           CAST(count(*) AS BIGINT) AS n_batch_copies
    FROM fresh GROUP BY fp
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental content-dedup of an ingest batch against a historical
    fingerprint store — the PRODUCTION dedup shape at 100 TB: the full
    corpus is never re-deduped; each daily batch is (1) anti-joined
    against the persisted fingerprint table, then (2) deduped within
    itself, and survivors' fingerprints are appended to the store.

    The fixture simulates the real ingest mix deterministically at
    EVERY scale (a plain doc_id split left the anti-join
    vacuous — nothing ever straddled it): the store holds docs with
    doc_id % 5 != 0; the batch is the % 5 == 0 slice PLUS a re-crawl
    of the % 7 == 0 slice under fresh ids (+10^12).  Re-crawled docs
    whose original sits in the store are dropped by the anti-join;
    re-crawls of in-batch docs collapse in the within-batch phase
    (n_batch_copies = 2); genuinely new docs survive — all three paths
    carry rows by construction.

    Scale shape: fingerprints reuse the registry-wide
    md5-of-normalized-text definition (ml.dedup.fingerprint ⇔
    md5(lower(regexp_replace(trim(text))))); the anti-join and the
    within-batch keep-min groupBy share ONE shuffle key (fp); the
    store ships only fingerprints — the 100 TB corpus text never
    moves.  Complements dedup_exact (full-corpus, ml/dedup.py:40) and
    anti_join_new_keys (key-based insert-if-absent): this is
    content-hash-based *incremental* curation.
    """
    from processo_etl_spark.ml.textstats import doc_fingerprint

    fps = doc_fingerprint(t(spark, sf_dir, "documents"), "text", "doc_id")
    hist = fps.filter(F.col("doc_id") % 5 != 0).select("fp")
    batch = fps.filter(F.col("doc_id") % 5 == 0).unionByName(
        fps.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + F.lit(1_000_000_000_000)).alias("doc_id"),
            "fp",
        )
    )
    return (
        batch.join(hist, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_batch_copies"),
        )
        .select("doc_id", "fp", "n_batch_copies")
    )
