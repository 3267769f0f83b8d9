"""Persist-leak audit (cached relations must not pile up): caller-owned
persists must be bounded — either released inside the operator
(pagerank unpersists its edge/node/routed caches) or deduplicated by
Spark's CacheManager so that REPEATED invocations of the same query
never grow the cached-relation set (the bench's blessed sharing model:
identical plans share the SAME InMemoryRelation entry, and
``session.persist_once`` skips the persist call when the plan is
already cached, so Spark never logs "Asked to cache already cached
data").

Documented caller-owned persists that intentionally outlive their call
(one cache entry per distinct plan, session-lifetime, relied on by the
steady-pass sharing model and freed by session clearCache):

- plans/common.corpus — the shared tokenized corpus (one per sf_dir)
- ml/dedup._positional_grams     (duplicate_spans / excise share ONE
  entry: identical plan)
- ml/dedup.minhash_lsh_pairs     (the banded signature base,
  ``_minhash_base``; minhash_lsh_incremental persists its corpus and
  batch bases the same way)
- ml/dedup.boilerplate_chunk_removal (the exploded chunk rows)
- ml/dedup.simhash_dedup_pairs / simhash_dedup_pairs_banded (the
  signature base, ``_simhash_base``)
- ml/bloom.bloom_contamination   (eval_grams)
- plans/textlm.collocations_lift_topk (nab, uni)
- plans/textlm.heaps_vocab_growth     (ranked, bounds)
- ml/selection.importance_weights     (toks, bstats)
- operators/ranking.distributed_rank  (the ranked relation)
- operators/ranking.distributed_cumsum (the range-partitioned relation)
- etl/pipeline.run_pipeline  (each year's merged lane; the one-row
  five-dimension aggregate of build_star) — etl_star_pipeline writes its
  fixture to a content-addressed directory, so re-runs build the same
  plans

The audit: run a sweep of every persist-owning headline query TWICE and
assert (a) the second sweep adds ZERO cache entries — no per-call
growth, the actual leak hazard for a long-lived session — and (b) the
one-time set stays within the documented bound above.
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"

QUERIES = [
    "collocations_lift_topk",
    "heaps_vocab_growth",
    "select_importance_dsir",
    "dedup_duplicate_spans",
    "dedup_excise_spans",
    "dedup_minhash_lsh",
    "decontaminate_bloom",
    "graph_pagerank_distributed",
    "etl_star_pipeline",
]

# One entry per DISTINCT persisted plan reachable from the sweep: the
# shared corpus, the shared positional-gram relation, the minhash
# signature base, eval_grams, nab+uni, ranked+bounds, toks+bstats, plus
# small per-operator extras (dedup base relations).  The bound is
# deliberately a little loose — the invariant that matters is ZERO
# growth on re-run; the bound only catches a new unbounded persist
# pattern slipping in.
MAX_ONE_TIME_ENTRIES = 16


def _n_cached(spark) -> int:
    # SQL cache entries (one per distinct persisted PLAN) — the unit the
    # sharing model and this audit reason about.  RDD-level
    # getPersistentRDDs would also count the Pregel loops' transient
    # localCheckpoint blocks, which the ContextCleaner reclaims
    # asynchronously once their DataFrames are garbage-collected.
    return (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )


def _run_all(spark, queries) -> None:
    for name in QUERIES:
        queries[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()


def test_registry_sweep_persists_are_bounded_and_idempotent(spark):
    from processo_etl_spark import plans
    from processo_etl_spark.plans import common

    queries = plans.all_queries()
    spark.catalog.clearCache()
    # clearCache drops the CacheManager entries; the corpus module memo
    # must drop with them or its (now-uncached) DataFrame would silently
    # recompute per consumer for the rest of the session.
    common._CORPUS_CACHE.clear()
    assert _n_cached(spark) == 0

    _run_all(spark, queries)
    first = _n_cached(spark)
    assert 0 < first <= MAX_ONE_TIME_ENTRIES, (
        f"one-time persist set {first} exceeds the documented bound "
        f"{MAX_ONE_TIME_ENTRIES} — a new caller-owned persist needs a "
        "docstring + an entry in this audit's allow-list"
    )

    _run_all(spark, queries)
    second = _n_cached(spark)
    assert second == first, (
        f"re-running the same queries grew the cache {first} -> {second}: "
        "a persisted plan is not deduplicating (per-call leak)"
    )

    spark.catalog.clearCache()
    common._CORPUS_CACHE.clear()
    assert _n_cached(spark) == 0


def test_dedup_span_queries_share_one_gram_entry_without_recaching(
    spark, monkeypatch
):
    """dedup_duplicate_spans and dedup_excise_spans persist the same
    positional-gram plan.  Run back to back, the second finds it cached:
    it adds no cache entry and makes no persist call on an already
    cached plan — the call behind the CacheManager warning."""
    from pyspark import StorageLevel
    from pyspark.sql.classic.dataframe import DataFrame

    from processo_etl_spark import plans
    from processo_etl_spark.plans import common

    recached = []
    persist = DataFrame.persist

    def spy(self, *args, **kwargs):
        if self.storageLevel != StorageLevel.NONE:
            recached.append(self.columns)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", spy)
    queries = plans.all_queries()
    spark.catalog.clearCache()
    common._CORPUS_CACHE.clear()
    try:
        queries["dedup_duplicate_spans"](spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        after_first = _n_cached(spark)
        queries["dedup_excise_spans"](spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        assert recached == []
        assert _n_cached(spark) == after_first
    finally:
        spark.catalog.clearCache()
        common._CORPUS_CACHE.clear()
