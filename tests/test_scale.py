"""Scale-path operators: salted joins match plain joins; bucketed tables
join without a shuffle (asserted on the physical plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.operators import skew
from processo_etl_spark.sources import bucketed


def test_salted_join_matches_plain_join(spark):
    # One hot key (90% of rows) + a tail.
    big = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)],
        ["k", "payload"],
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 102)], ["k", "attr"]
    )
    plain = big.join(small, on="k").groupBy("k").count()
    salted = skew.salted_join(big, small, on="k", n_salts=8).groupBy("k").count()
    assert {(r["k"], r["count"]) for r in plain.collect()} == {
        (r["k"], r["count"]) for r in salted.collect()
    }
    # Left join keeps unmatched big rows exactly once.
    big2 = big.union(spark.createDataFrame([(999, 0)], ["k", "payload"]))
    left = skew.salted_join(big2, small, on="k", n_salts=8, how="left")
    assert left.filter(F.col("k") == 999).count() == 1
    assert left.count() == big2.count()


def test_bucketed_join_plans_no_exchange(spark, tmp_path):
    orders = spark.createDataFrame(
        [(i, i % 50, float(i)) for i in range(1000)],
        ["o_orderkey", "o_custkey", "total"],
    )
    lines = spark.createDataFrame(
        [(i % 1000, j, float(j)) for i in range(3000) for j in (1,)],
        ["o_orderkey", "n", "qty"],
    )
    bucketed.write_bucketed(
        orders, "t_orders_b", ["o_orderkey"], n_buckets=4,
        path=str(tmp_path / "orders_b"),
    )
    bucketed.write_bucketed(
        lines, "t_lines_b", ["o_orderkey"], n_buckets=4,
        path=str(tmp_path / "lines_b"),
    )
    try:
        assert bucketed.join_is_shuffle_free(
            spark, "t_orders_b", "t_lines_b", ["o_orderkey"]
        )
        joined = spark.table("t_orders_b").join(
            spark.table("t_lines_b"), on="o_orderkey"
        )
        assert joined.count() == 3000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lines_b")


def test_plan_audit_no_cartesian_no_python_rowudf(spark):
    """Mechanical plan guard over EVERY registered batch query: no
    CartesianProduct / BroadcastNestedLoopJoin (quadratic at scale) and
    no row-at-a-time Python eval (BatchEvalPython) anywhere.  Arrow
    batches (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas) are
    the sanctioned Python boundary and remain allowed."""
    from processo_etl_spark import plans

    sf = "/root/testdata/sf0.001"
    skip_prefix = "stream_"  # streaming drains execute, not just plan
    # Brute-force ANN is DEFINITIONALLY all-pairs: corpus × broadcast
    # query set via nested loop is the intended baseline plan (the scale
    # path is similarity_topk_lsh / _ivf, which the audit does cover).
    # similarity_topk_ivf embeds one brute-force pass as the recall
    # CERTIFICATE for the driver's tolerance gate (8 fixed queries ×
    # corpus = linear in corpus, not all-pairs); the IVF side itself is
    # the cell-pruned equi-join.
    # geo_nearest_poi broadcasts a BOUNDED poi dim (|nation| rows)
    # against every point: linear in the fact, the intended spatial
    # enrichment plan — not an all-pairs blowup.
    # q11 / q22 broadcast a ONE-ROW global aggregate (the HAVING / avg
    # threshold scalar subquery) with no join condition — Spark plans a
    # condition-less broadcast join as BroadcastNestedLoopJoin, but with
    # a single-row build side it is a linear scan attaching a scalar,
    # exactly what Catalyst itself produces for a decorrelated scalar
    # subquery.  Not a quadratic smell.
    # select_importance_dsir broadcasts the ONE-ROW (nt, nr) token-total
    # aggregate under the per-bucket ratio table — the same linear
    # scalar-attach shape as q11/q22.
    # mixture_token_plan broadcasts the ONE-ROW Σ(sqrt n_s) aggregate
    # under the |sources|-row table — same scalar-attach shape.
    # cms_heavy_hitters attaches the ONE-ROW total-tokens aggregate (the
    # ε·N bound scalar) to the 20-row estimate table; similarity_topk_
    # ivfpq attaches the ONE-ROW bytes_ratio to the 1-row recall gate —
    # both the same linear scalar-attach shape (and ivfpq embeds the
    # linear brute-force recall certificate like similarity_topk_ivf).
    allow_nested_loop = {
        "select_importance_dsir",
        "mixture_token_plan",
        # one-row waterfall solution (R, k, Sc) attached to the
        # |sources|-row table — the same linear scalar-attach shape.
        "sample_unimax_budget",
        "cms_heavy_hitters",
        "similarity_topk_ivfpq",
        # one-row exact-distinct certificate attached to the one-row
        # merged-sketch estimate — linear scalar attach.
        "hll_daily_merge_distinct",
        # one-row (na, nb) totals attached under the 256-bucket
        # contingency table — the DSIR scalar-attach shape.
        "drift_chi2_sources",
        "similarity_topk_bruteforce",
        # these embed brute_force_topk's 1-row / 8-row broadcast probe
        # scan (the bruteforce entry's linear shape); fusion / voting /
        # recall scoring downstream are k-row equi-joins.
        "retrieval_hybrid_rrf",
        "knn_label_vote",
        "retrieval_eval_recall",
        # same shape: the exact-top-1 gold probe scan + LSH candidates
        "retrieval_eval_mrr",
        # one-row median / (median, mad) scalars broadcast under the
        # corpus for the deviation and fence passes — scalar attach
        "mad_outliers_totalprice",
        # one-row overall-average scalar attached to the 7-row profile
        "seasonality_weekday_profile",
        # one-row corpus-max-timestamp scalar attached under the
        # per-user RFM table — scalar attach
        "events_rfm_segments",
        # one-row bigram-total / (t_uni, t_bg) aggregates attached under
        # the vocabulary-sized stat tables — the DSIR scalar-attach shape.
        "ngram_continuation_counts",
        "collocations_lift_topk",
        # 10-row decile-boundary table nested-loop-joined under the
        # vocabulary-sized first-occurrence relation — linear scan x10.
        "heaps_vocab_growth",
        "similarity_topk_int8",
        "similarity_topk_ivf",
        # binary-hamming probe: the same broadcast linear scan as the
        # bruteforce baseline (8 fixed query word-sets × corpus — linear,
        # not all-pairs; the sub-linear tier is the banded pigeonhole).
        "similarity_topk_binary",
        # matryoshka eval embeds TWO bruteforce probe scans (full-dim
        # gold + 16-dim candidate) — both the linear certificate shape.
        "retrieval_matryoshka_recall",
        "geo_nearest_poi",
        "q11_important_parts",
        "q22_global_sales",
        # one-row n_total attach under the 9-row digit table — the
        # DSIR/q11 scalar-attach shape.
        "benford_digit_audit",
        # two ONE-ROW scalar attaches (sampled edge count + sampled
        # triangle count) under the one-row totals — linear scalar
        # attach; the triangle count itself is the equi-join wedge plan.
        "graph_triangle_estimate_sampled",
        # one-row pe_num attach under the one-row totals — everything
        # after the ≤9-row contingency groupBy is dimension-sized.
        "eval_agreement_kappa",
        # one-row n_cell_mismatch certificate attach
        # under the ≤2-row quantile relation — linear scalar attach;
        # the raw events only pass through combinable bucket groupBys.
        "quantile_daily_histogram_merge",
        # two ONE-ROW relations (coverage accounting ×
        # recall certificate) cross-attached — linear scalar attach;
        # the ANN search itself is the certified cell-equi-join plan.
        "ann_index_incremental_update",
        # the Bloom filter's dense word array as a ONE-ROW
        # relation (bloom_words_relation) cross-attached under the
        # corpus gram stream / the pruned join's left side — the same
        # linear scalar-attach shape; replaced the per-pass driver
        # collect (no collects in a query path).
        "decontaminate_bloom",
        "join_bloom_pruned_orders",
    }
    # Unpartitioned ranking/analytic windows move the WHOLE input through
    # one task (Exchange SinglePartition under a Window).  Only the
    # documented exact-parity reference twin may do that.
    allow_global_window = {
        "window_revenue_deciles_global",
        # the cum-before-group base is a global ordered window over the
        # |flags|-row TOTALS dimension (3 rows) — never the fact table;
        # the fact-table cumulative itself is distributed_cumsum.
        "weighted_median_price_by_flag",
        # ordered cumsum over the MERGED fixed-grid
        # histogram (≤ ~5k cells for this value domain) — a
        # dimension-sized global window, the weighted_median exception
        # class; the raw events only ever pass through combinable
        # groupBys on the bounded bucket grid.
        "quantile_daily_histogram_merge",
    }
    # Output-schema guard: the grading driver's pandas
    # canonicalizer throws on unhashable cells, so every registry output
    # column must be scalar — no array/map/struct — and no DecimalType
    # (the driver hashes Spark and DuckDB decimals differently).
    # The raw-double-fold guard (a fold once drifted one ULP on the
    # driver's DuckDB) rides
    # along: a multi-term float-reduction oracle may not hash a raw
    # double — ROUND on both sides or an explicit grading.py allow-list
    # entry.  One check: processo_etl_spark/grading.output_violations.
    from processo_etl_spark.grading import output_violations

    oracles = plans.all_oracles()
    bad = []
    for name, fn in plans.all_queries().items():
        if name.startswith(skip_prefix) or name == "etl_star_pipeline":
            continue
        df = fn(spark, sf)
        bad += [(name, v)
                for v in output_violations(name, df.schema, oracles.get(name, ""))]
        plan = df._jdf.queryExecution().executedPlan().toString()
        for smell in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
            if smell == "BroadcastNestedLoopJoin" and name in allow_nested_loop:
                continue
            if smell in plan:
                bad.append((name, smell))
        if name not in allow_global_window:
            for line in plan.splitlines():
                stripped = line.lstrip(" +-:*")
                # 'Window [exprs], [part], [order]' vs 'Window [exprs], [order]'.
                # With ONE bracket group after the exprs it can be either a
                # partitioned-unordered window (fine — hash-partitioned whole-
                # frame aggregate, e.g. markov's per-src total) or a global
                # ordered window (the smell).  An ordering spec always carries
                # ASC/DESC markers; a partition spec never does.
                if stripped.startswith("Window ") and stripped.count("], [") < 2:
                    tail = stripped.rsplit("], [", 1)[-1]
                    if (
                        stripped.count("], [") == 0
                        or "ASC" in tail
                        or "DESC" in tail
                    ):
                        bad.append((name, "unpartitioned-window"))
                        break
    assert not bad, f"scale smells in plans: {bad}"


def test_output_violations_flags_each_rule_once():
    """grading.output_violations: one seeded violation of each rule is
    reported, whatever the query's name, and a clean scalar schema
    passes."""
    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from processo_etl_spark.grading import output_violations

    fold = "WITH t AS (SELECT list_reduce(xs, (a, b) -> a + b) AS s FROM v) "
    schema = StructType([
        StructField("id", LongType()),
        StructField("amount", DecimalType(12, 2)),
        StructField("tags", ArrayType(StringType())),
        StructField("s", DoubleType()),
    ])
    got = output_violations("q", schema, fold + "SELECT id, amount, tags, s FROM t")
    assert len(got) == 3, got
    assert got[0].startswith("DecimalType output columns ['amount']")
    assert got[1].startswith("non-scalar output columns ['tags']")
    assert got[2].startswith("raw-double fold output columns ['s']")
    # no fold marker in the oracle (or no oracle): doubles are fine
    assert len(output_violations("q", schema, "")) == 2
    clean = StructType([StructField("id", LongType()), StructField("s", DoubleType())])
    rounded = fold + "SELECT id, ROUND(s, 6) AS s FROM t"
    assert output_violations("q", clean, rounded) == []


def test_raw_double_fold_guard_semantics():
    """Unit contract of grading.raw_double_fold_hazards: fold-marker
    oracles must ROUND every double output (checked on the LAST
    ``AS col`` alias — the final SELECT) unless (query, column) is
    allow-listed; marker-free oracles are never flagged."""
    from processo_etl_spark.grading import (
        RAW_DOUBLE_FOLD_ALLOWED,
        _last_alias_round_wrapped,
        raw_double_fold_hazards,
    )

    fold = "WITH t AS (SELECT list_reduce(list(x), (a,b) -> a+b) AS s FROM v)\n"
    # rounded final alias passes, raw fails
    assert raw_double_fold_hazards("q", fold + "SELECT ROUND(s, 6) AS s FROM t", ["s"]) == []
    assert raw_double_fold_hazards("q", fold + "SELECT s FROM t", ["s"]) == ["s"]
    # a CTE-level raw alias doesn't satisfy the check if the final
    # re-alias is raw, and an unrelated earlier ROUND doesn't either
    sql = fold + "SELECT ROUND(z, 6) AS z, s + 0.0 AS s FROM t"
    assert raw_double_fold_hazards("q", sql, ["s"]) == ["s"]
    # the LAST alias wins: CTE computes raw, final SELECT rounds
    sql = (
        "WITH t AS (SELECT list_reduce(list(x), (a,b) -> a+b) AS s FROM v)\n"
        "SELECT ROUND(s, 9) AS s FROM t"
    )
    assert _last_alias_round_wrapped(sql, "s") is True
    # marker-free oracles never flag
    assert raw_double_fold_hazards("q", "SELECT sum(x) AS s FROM v", ["s"]) == []
    # allow-listed (query, column) pairs are exempt — and every
    # allow-list entry carries a written justification
    for q, cols in RAW_DOUBLE_FOLD_ALLOWED.items():
        for c, why in cols.items():
            assert isinstance(why, str) and len(why) > 10, (q, c)
            assert raw_double_fold_hazards(q, fold + f"SELECT x AS {c} FROM t", [c]) == []
    # WITH RECURSIVE is a marker too
    rec = "WITH RECURSIVE r AS (SELECT 1.0 AS e UNION ALL SELECT e*0.5 FROM r)\n"
    assert raw_double_fold_hazards("q", rec + "SELECT e AS ewma FROM r", ["ewma"]) == ["ewma"]
    assert raw_double_fold_hazards("q", rec + "SELECT ROUND(e, 6) AS ewma FROM r", ["ewma"]) == []
    # a trailing ROUND sub-expression must NOT mask a raw fold (a
    # former false negative), in either operand order
    assert raw_double_fold_hazards("q", fold + "SELECT s + ROUND(z, 6) AS s FROM t", ["s"]) == ["s"]
    assert raw_double_fold_hazards("q", fold + "SELECT ROUND(z, 6) + s AS s FROM t", ["s"]) == ["s"]
    # ...and CAST(ROUND(...) AS type) is wrapped, not a false positive —
    # including the nested double-CAST exact-value idiom
    assert raw_double_fold_hazards(
        "q", fold + "SELECT CAST(ROUND(s, 6) AS DOUBLE) AS s FROM t", ["s"]
    ) == []
    assert raw_double_fold_hazards(
        "q", fold + "SELECT CAST(ROUND(s, 2) AS DECIMAL(12,2)) AS s FROM t", ["s"]
    ) == []
    assert raw_double_fold_hazards(
        "q",
        fold + "SELECT CAST(CAST(ROUND(s, 2) AS DECIMAL(12,2)) AS DOUBLE) AS s FROM t",
        ["s"],
    ) == []
    # a ROUND whose argument embeds a scalar subquery is still wrapped
    assert raw_double_fold_hazards(
        "q",
        fold + "SELECT ROUND((SELECT list_reduce(list(x), (a,b) -> a+b) FROM t) * s, 6) AS s FROM t",
        ["s"],
    ) == []
    # ...but a raw fold ADDED to a subquery-bearing ROUND is not
    assert raw_double_fold_hazards(
        "q",
        fold + "SELECT s + ROUND((SELECT avg(z) FROM t), 6) AS s FROM t",
        ["s"],
    ) == ["s"]


def test_sorted_layout_enables_row_group_skipping(spark, tmp_path):
    """Sort-clustered writes produce (near-)disjoint row-group min/max
    ranges, so a selective range predicate skips most groups; the same
    data written unsorted skips (almost) nothing."""
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.operators import layout

    li = catalog.load(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )

    clustered = str(tmp_path / "clustered")
    layout.write_sorted(li, clustered, ["l_extendedprice"], num_files=8)
    shuffled = str(tmp_path / "shuffled")
    li.repartition(8).write.parquet(shuffled)  # hash = value-random order

    lo, hi = 1000.0, 2000.0
    frac_sorted = layout.skipping_fraction(
        layout.row_group_ranges(clustered, "l_extendedprice"), lo, hi
    )
    frac_shuffled = layout.skipping_fraction(
        layout.row_group_ranges(shuffled, "l_extendedprice"), lo, hi
    )
    assert frac_sorted >= 0.75  # selective predicate skips most groups
    assert frac_shuffled <= 0.25  # random layout can't skip
    # Same rows either way.
    a = spark.read.parquet(clustered).filter(F.col("l_extendedprice").between(lo, hi))
    b = spark.read.parquet(shuffled).filter(F.col("l_extendedprice").between(lo, hi))
    assert a.count() == b.count()


def test_corrupt_csv_records_quarantined(spark, tmp_path):
    """PERMISSIVE scan: malformed rows land in _corrupt_record instead of
    failing the job — count them, then load clean rows only."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType)

    p = tmp_path / "dirty.csv"
    p.write_text("id;qty\n1;10\n2;not_a_number\n3;30\nbroken_line_no_sep\n")
    schema = StructType([
        StructField("id", IntegerType()),
        StructField("qty", IntegerType()),
        StructField("_corrupt_record", StringType()),
    ])
    df = (
        spark.read.schema(schema)
        .option("header", True).option("sep", ";").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    ).cache()  # SPARK-21610: corrupt-record queries need the full scan cached
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 2
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert [r["id"] for r in clean.orderBy("id").collect()] == [1, 3]
    df.unpersist()


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema reads old+new parquet batches as one table; rows from
    before the column existed surface NULL (additive evolution)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "tbl")
    spark.range(5).select(F.col("id"), F.lit("a").alias("v")).write.parquet(
        f"{base}/batch=1"
    )
    spark.range(5, 10).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1).alias("new_col")
    ).write.parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(base)
    assert set(merged.columns) >= {"id", "v", "new_col"}
    assert merged.count() == 10
    assert merged.filter(F.col("new_col").isNull()).count() == 5


def test_zorder_layout_skips_on_both_dimensions(spark, tmp_path):
    """Z-order clustering prunes row groups for selective predicates on
    EITHER interleaved column; single-column sort only prunes its own.

    Dims must be genuinely independent: two linear-congruential maps of
    the same id are correlated at row-group granularity (an x-sorted
    run is an arithmetic progression of ids, which clusters any other
    affine map of id), so hash-derive each dim with its own seed.
    Small parquet.block.size gives many row groups per file — the unit
    stats pruning actually skips — like a production 128 MB-group file."""
    import pyspark.sql.functions as F

    from processo_etl_spark.operators import layout

    n = 1 << 14
    df = (
        spark.range(n)
        .withColumn("x", F.pmod(F.xxhash64("id"), F.lit(256)))
        .withColumn("y", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(256)))
        .drop("id")
    )
    zpath = str(tmp_path / "zorder")
    layout.write_zordered(
        df, zpath, "x", "y", bits=8, num_files=4, parquet_block_bytes=16 * 1024
    )
    spath = str(tmp_path / "xsort")
    layout.write_sorted(
        df, spath, ["x"], num_files=4, parquet_block_bytes=16 * 1024
    )

    def frac(path, col):
        return layout.skipping_fraction(layout.row_group_ranges(path, col), 10, 20)

    # Z-order: meaningful pruning on BOTH dims.
    assert frac(zpath, "x") >= 0.5
    assert frac(zpath, "y") >= 0.5
    # x-sort: strong on x (bounded by row-group quantization), none on y.
    assert frac(spath, "x") >= 0.7
    assert frac(spath, "y") <= 0.15
    # Layout never changes content.
    assert spark.read.parquet(zpath).count() == n


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """DPP proof: a selective broadcast-dim filter prunes the fact's
    partition directories AT RUNTIME (the scan's PartitionFilters gains
    a dynamicpruning subquery).  At 100 TB this is the difference
    between scanning 2 date partitions and scanning 2000 — free with
    partitioned layouts + equi-joins, but worth a regression test
    because it silently degrades to a full scan if the join stops
    broadcasting or the partition column gets wrapped in an expression."""
    fact = spark.range(0, 5000).select(
        (F.col("id") % 20).alias("date_key"), F.col("id").alias("v")
    )
    fpath = str(tmp_path / "fact_part")
    fact.write.partitionBy("date_key").parquet(fpath)
    dim = spark.createDataFrame(
        [(i, "keep" if i < 2 else "drop") for i in range(20)],
        "date_key long, flag string",
    )
    f = spark.read.parquet(fpath)
    j = f.join(F.broadcast(dim).filter(F.col("flag") == "keep"), "date_key")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is the 2 surviving partitions' rows
    assert j.count() == 5000 // 20 * 2
