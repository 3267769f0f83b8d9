"""Differential + semantic tests for the curation heads
(plans/curation): each Spark plan against its DuckDB oracle at sf0.001
(``grading.compare``, the sweep's own comparison), plus hand-computed
semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark import grading, plans
from processo_etl_spark.plans import curation

QUERIES = plans.all_queries()
ORACLES = plans.all_oracles()
NAMES = sorted(
    n for n, fn in QUERIES.items() if fn.__module__ == curation.__name__
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", NAMES)
def test_head_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF)
    srows = sdf.collect()
    con = grading.oracle_connection(SF)
    assert grading.compare(name, sdf, srows, ORACLES[name], con) == []
    assert len(srows) > 0


def test_canonical_pick_semantics(spark):
    """The kept doc is a MEMBER of its cluster, carries the cluster's
    max quality, and the drop accounting balances: every cluster keeps
    exactly one doc, so Σ n_dropped = Σ n_members − n_clusters."""
    from processo_etl_spark.ml import dedup, textstats
    from processo_etl_spark.plans.common import t

    out = curation.dedup_cluster_canonical(spark, SF)
    rows = out.collect()
    assert rows, "sf0.001 corpus has near-dup clusters"
    docs = t(spark, SF, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=8, bands=2, threshold=0.2
    )
    members = {
        (r["cluster"], r["doc"])
        for r in dedup.connected_components(pairs).collect()
    }
    q = {
        r["doc_id"]: int(round(r["quality_score"] * 1000))
        for r in textstats.quality_features(docs, "text")
        .select("doc_id", "quality_score")
        .collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for c, d in members:
        by_cluster.setdefault(c, []).append(d)
    assert len(rows) == len(by_cluster)
    for r in rows:
        group = by_cluster[r["cluster"]]
        assert (r["cluster"], r["kept_doc"]) in members
        assert r["n_members"] == len(group)
        assert r["n_dropped"] == len(group) - 1
        best = max(q[d] for d in group)
        assert r["q1000_kept"] == best == q[r["kept_doc"]]
        # deterministic tie-break: smallest doc id among the best
        assert r["kept_doc"] == min(d for d in group if q[d] == best)


def test_quantile_merge_semantics(spark):
    """On the real fixture: the merged-histogram summary is INTERNALLY
    consistent — zero cell mismatches vs the direct whole-corpus
    histogram (sums commute), and the histogram-derived bucket equals
    the true k-th value's bucket for both quantiles (the one-bucket
    error bound collapses to equality at bucket granularity)."""
    out = curation.quantile_daily_histogram_merge(spark, SF).collect()
    assert {r["q_pct"] for r in out} == {50, 95}
    for r in out:
        assert r["n_cell_mismatch"] == 0
        assert r["bucket_match"] is True
        assert r["est_bucket"] == r["exact_bucket"]
        assert r["n_days"] > 0 and r["k"] >= 1


def test_quantile_merge_hand_computed(spark, tmp_path):
    """Tiny corpus with KNOWN quantiles through the same bucket
    arithmetic: values 0.1..2.0 step 0.1 over two days -> n=20,
    p50 k=10 -> v=1.0 -> bucket 10; p95 k=19 -> v=1.9 -> bucket 19."""
    import datetime

    rows = []
    for i in range(20):
        day = datetime.datetime(2026, 1, 1 + (i % 2))
        rows.append((day, (i + 1) / 10.0))
    spark.createDataFrame(rows, "ts timestamp, value double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    out = {
        r["q_pct"]: r
        for r in curation.quantile_daily_histogram_merge(
            spark, str(tmp_path)
        ).collect()
    }
    assert out[50]["k"] == 10 and out[50]["est_bucket"] == 10
    assert out[95]["k"] == 19 and out[95]["est_bucket"] == 19
    for r in out.values():
        assert r["bucket_match"] and r["n_cell_mismatch"] == 0
        assert r["n_days"] == 2


def test_canonical_argmax_tiebreak_hand_computed(spark):
    """Hand fixture through the SAME encoding arithmetic: identical
    quality inside a cluster must keep the SMALLEST doc id; a higher
    quality member wins regardless of id order."""
    from processo_etl_spark.plans.curation import _ENC

    df = spark.createDataFrame(
        [
            # cluster 1: quality tie (700) between docs 11 and 7 -> 7
            (1, 7, 700),
            (1, 11, 700),
            (1, 20, 300),
            # cluster 2: doc 99 has the max quality -> 99
            (2, 3, 100),
            (2, 99, 900),
        ],
        "cluster long, doc long, q1000 long",
    )
    k = F.col("q1000") * F.lit(_ENC) + (F.lit(_ENC - 1) - F.col("doc"))
    got = {
        r["cluster"]: (r["kept"], r["q"])
        for r in df.groupBy("cluster")
        .agg(F.max(k).alias("mk"))
        .select(
            "cluster",
            (F.lit(_ENC - 1) - F.col("mk") % F.lit(_ENC)).alias("kept"),
            F.expr(f"mk div {_ENC}").alias("q"),
        )
        .collect()
    }
    assert got == {1: (7, 700), 2: (99, 900)}
