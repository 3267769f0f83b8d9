"""Relational core: joins, dedup determinism, union, top-k, star builders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.operators import relational, star


def test_right_outer_join_keeps_every_right_row(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "attr"])
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "val"])
    out = relational.right_outer_join(left, right, on="id").collect()
    assert len(out) == 3  # id=1 matches twice, id=2 kept with null attr
    assert any(r["id"] == 2 and r["attr"] is None for r in out)


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z"), (2, "c")], ["id", "v"]
    )
    out = relational.dedup_keep_first(df, ["id"], order_by=["v"])
    got = {(r["id"], r["v"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "c")}
    # Re-run → identical (determinism).
    assert got == {(r["id"], r["v"]) for r in out.collect()}


def test_union_by_name_not_position(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "id"])  # swapped order
    out = relational.union_all([a, b]).collect()
    assert {(r["id"], r["v"]) for r in out} == {(1, "x"), (2, "y")}


def test_value_counts_and_topk(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",), ("c",), ("a",), ("b",)], ["x"])
    vc = relational.value_counts(df, "x").collect()
    assert (vc[0]["x"], vc[0]["count"]) == ("a", 3)
    top2 = relational.top_k(df, "x", 2).collect()
    assert [r["x"] for r in top2] == ["a", "b"]


def test_build_dimension_contiguous_deterministic(spark):
    df = spark.createDataFrame(
        [("b", 1), ("a", 2), ("b", 1), ("c", 3)], ["k1", "k2"]
    )
    dim = star.build_dimension(df, ["k1", "k2"], "id")
    rows = sorted((r["id"], r["k1"]) for r in dim.collect())
    assert [r[0] for r in rows] == [1, 2, 3]          # contiguous 1..N
    assert [r[1] for r in rows] == ["a", "b", "c"]    # ordered by natural key
    # Determinism across re-evaluation.
    assert rows == sorted((r["id"], r["k1"]) for r in dim.collect())


def test_build_dimensions_equals_build_dimension(spark):
    # One aggregate for several dimensions == one build_dimension each ==
    # row_number() over the distinct natural key (ids 1..N in key order),
    # persisted or not.
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("b", 1, "x"), ("a", 2, "y"), ("b", 1, "x"), ("c", 3, "w"), ("a", 1, "y")],
        ["k1", "k2", "k3"],
    )
    keys = {"id_a": ["k1", "k2"], "id_b": ["k3"], "id_c": ["k2", "k1"]}
    for persist in (False, True):
        dims = star.build_dimensions(df, keys, persist=persist)
        assert list(dims) == list(keys)
        for id_col, key in keys.items():
            one = star.build_dimension(df, key, id_col)
            ref = df.select(*key).distinct().withColumn(
                id_col, F.row_number().over(Window.orderBy(*key))
            )
            assert dims[id_col].columns == one.columns == [*key, id_col]
            got = sorted(tuple(r) for r in dims[id_col].collect())
            assert got == sorted(tuple(r) for r in one.collect())
            assert got == sorted(tuple(r) for r in ref.collect())


def test_attach_fks_broadcast_no_loss(spark):
    fact = spark.createDataFrame([("a",), ("b",), ("a",)], ["k"])
    dim = star.build_dimension(fact, ["k"], "id_k")
    out = star.attach_fks(fact, {"id_k": (dim, ["k"])})
    assert out.count() == 3
    assert out.filter(F.col("id_k").isNull()).count() == 0


def test_surrogate_keys_scalable_contiguous(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["v"]).repartition(3)
    out = star.surrogate_keys_scalable(df, "id")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2, 3, 4]


def test_cdc_apply_changes_semantics(spark):
    from processo_etl_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 10, "U"),   # update k=1
            (1, "a1", 5, "U"),    # older update loses
            (2, None, 10, "D"),   # delete k=2
            (4, "d", 10, "I"),    # insert new key
            (5, "x", 10, "U"),    # same-seq tie:
            (5, None, 10, "D"),   #   delete wins
        ],
        ["k", "v", "seq", "op"],
    )
    out = {r["k"]: r["v"] for r in apply_changes(base, changes, ["k"], "seq").collect()}
    assert out == {1: "a2", 3: "c", 4: "d"}


def test_expectations_runner(spark):
    from processo_etl_spark.quality import expectations as ex

    df = spark.createDataFrame(
        [(1, 10, "A"), (2, 99, "A"), (2, None, "Z")], ["id", "qty", "flag"]
    )
    rules = [
        ex.expect_not_null("qty"),
        ex.expect_between("qty", 1, 50),
        ex.expect_in_set("flag", ["A", "B"]),
        ex.expect_unique("id"),
    ]
    row = ex.run(df, rules).first()
    assert row["n_rows"] == 3
    assert row["qty_not_null"] == 1
    assert row["qty_between"] == 2      # 99 out of range + NULL
    assert row["flag_in_set"] == 1
    assert row["id_unique"] == 1        # one duplicated id
    assert not ex.passed(row, [n for n, _ in rules])


def test_cdc_apply_is_idempotent_and_commutes_with_replay(spark):
    """Applying the same changeset twice equals applying it once (replay
    safety), regardless of which snapshot the replay lands on."""
    from processo_etl_spark import catalog
    from processo_etl_spark.operators.cdc import apply_changes
    from pyspark.sql import functions as F

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    base = ev.groupBy("user_id").agg(F.min("value").alias("value"))
    changes = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id", "value", F.col("event_id").alias("seq"),
        F.when(F.col("user_id") % 5 == 0, "D").otherwise("U").alias("op"),
    )
    once = apply_changes(base, changes, ["user_id"], "seq")
    twice = apply_changes(once, changes, ["user_id"], "seq")
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


# --- distributed ranking (operators/ranking.py) --------------------------------


def test_distributed_rank_matches_global_row_number(spark):
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 991).alias("v"), F.col("id").alias("k")
    )
    got = ranking.distributed_rank(df, ["v", "k"], out_col="r", num_partitions=7)
    want = df.withColumn("r", F.row_number().over(Window.orderBy("v", "k")))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_distributed_ntile_matches_sql_ntile(spark):
    """Exact NTILE parity on adversarial sizes (remainder buckets, n<k)."""
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    for n, k in [(25, 10), (1000, 7), (6, 10), (10, 10)]:
        df = spark.range(0, n).select((F.col("id") * 13 % 101).alias("v"), "id")
        got = ranking.distributed_ntile(df, ["v", "id"], k=k, out_col="b",
                                        num_partitions=5)
        want = df.withColumn("b", F.ntile(k).over(Window.orderBy("v", "id")))
        assert got.exceptAll(want).count() == 0, (n, k)
        assert want.exceptAll(got).count() == 0, (n, k)


def test_distributed_rank_plan_has_no_single_partition_exchange(spark):
    from processo_etl_spark.operators import ranking

    df = spark.range(0, 100).select(F.col("id").alias("v"), "id")
    ranked = ranking.distributed_rank(df, ["v", "id"], num_partitions=4)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_exact_quantiles_twopass_matches_sorted_list(spark):
    from processo_etl_spark.operators import ranking

    vals = [5.0, 1.0, 3.0, 3.0, 9.0, 7.0, 3.0, 2.0, 8.0, 4.0, 6.0]  # n=11, ties
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = ranking.exact_quantiles_twopass(df, "x", [0.25, 0.5, 0.9], accuracy=100)
    s = sorted(vals)
    import math

    for (q, k, v) in got:
        assert k == max(1, math.ceil(q * len(vals)))
        assert v == s[k - 1]


def test_exact_quantiles_twopass_nulls_and_even_n(spark):
    from processo_etl_spark.operators import ranking

    df = spark.createDataFrame(
        [(None,), (4.0,), (1.0,), (None,), (2.0,), (3.0,)], "x double"
    )
    got = ranking.exact_quantiles_twopass(df, "x", [0.5], accuracy=100)
    # n=4 non-null, k=ceil(2.0)=2 → second smallest
    assert got == [(0.5, 2, 2.0)]


def test_triangle_stats_hand_graph(spark):
    from processo_etl_spark.operators import graph

    # K4 on {1,2,3,4} (4 triangles, every node in 3) plus pendant 5-1
    # and an open wedge 6-7, 7-8 (no triangle).
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5), (6, 7), (7, 8)]
    e = spark.createDataFrame(edges, "a long, b long")
    out = {r["node"]: r for r in graph.triangle_stats(e).collect()}
    for n in (1, 2, 3, 4):
        assert out[n]["triangles"] == 3
    assert out[1]["degree"] == 4 and out[1]["lcc"] == 2.0 * 3 / (4 * 3)
    assert out[2]["lcc"] == 1.0  # all neighbor pairs connected
    assert out[5]["triangles"] == 0 and out[5]["lcc"] == 0.0
    assert out[7]["degree"] == 2 and out[7]["triangles"] == 0 and out[7]["lcc"] == 0.0


def test_cooccurrence_edges_bounded_and_distinct(spark):
    from processo_etl_spark.operators import graph

    rows = [(1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(rows, "g long, i string")
    got = sorted(map(tuple, graph.cooccurrence_edges(df, "g", "i").collect()))
    assert got == [("a", "b")]  # deduped across groups and within group


def test_grouped_exact_quantiles_matches_per_group_sort(spark):
    import math

    from processo_etl_spark.operators import ranking

    data = [("a", float(v)) for v in [7, 1, 5, 5, 9, 2, 8, 5]]  # ties
    data += [("b", float(v)) for v in range(1, 101)]  # bigger group
    df = spark.createDataFrame(data, "g string, x double")
    got = {
        (r["g"], r["q"]): (r["k"], r["value"])
        for r in ranking.grouped_exact_quantiles(
            df, "g", "x", [0.25, 0.5, 0.99], accuracy=100
        ).collect()
    }
    for grp in ("a", "b"):
        vals = sorted(v for g, v in data if g == grp)
        for q in (0.25, 0.5, 0.99):
            k = max(1, math.ceil(q * len(vals)))
            assert got[(grp, q)] == (k, vals[k - 1]), (grp, q)


def test_association_rules_hand_computed(spark):
    from processo_etl_spark.operators import graph

    # 4 baskets: {a,b} twice, {a,b,c} once, {c} once
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
            (3, "c"), (4, "c")]
    df = spark.createDataFrame(rows, "g long, i string")
    out = {
        (r["antecedent"], r["consequent"]): r
    for r in graph.association_rules(df, "g", "i", min_pair_count=2).collect()}
    # only (a,b) reaches the threshold; both directions present
    assert set(out) == {("a", "b"), ("b", "a")}
    r = out[("a", "b")]
    assert r["n_both"] == 3 and r["n_ant"] == 3 and r["n_cons"] == 3
    assert r["support"] == 0.75 and r["confidence"] == 1.0
    assert r["lift"] == 3.0 * 4 / 9


def test_skyline_2d_matches_not_exists(spark):
    from processo_etl_spark.operators import ranking

    rows = [
        (1, 1.0, 5.0), (2, 2.0, 3.0), (3, 3.0, 3.0),  # 3 dominated by 2
        (4, 2.0, 3.0),  # duplicate of 2 → both stay (weak dominance only)
        (5, 4.0, 1.0), (6, 1.0, 5.0),  # dup of 1
        (7, 0.5, 9.0), (8, None, 1.0), (9, 1.0, None),  # nulls excluded
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted(r["id"] for r in ranking.skyline_2d(df, "x", "y").collect())
    # brute-force strict dominance on the non-null rows
    pts = [(i, x, y) for i, x, y in rows if x is not None and y is not None]
    want = sorted(
        i
        for i, x, y in pts
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y) for _, qx, qy in pts
        )
    )
    assert got == want == [1, 2, 4, 5, 6, 7]


def test_skew_report_hand_computed(spark):
    import math

    from processo_etl_spark.operators import skew

    rows = [("hot",)] * 6 + [("a",), ("b",), ("c",)]  # counts 6,1,1,1
    df = spark.createDataFrame(rows, "k string")
    r = skew.skew_report(df, "k", top_k=2).collect()[0]
    assert r["n_rows"] == 9 and r["n_keys"] == 4 and r["max_count"] == 6
    assert r["max_key_share"] == 6 / 9
    assert r["top2_share"] == 7 / 9
    assert r["skew_factor"] == 6.0 * 4 / 9  # hottest key vs mean
    # cov = ROUND(sqrt(K*sum(c^2) - N^2)/N, 9) with sum(c^2)=39 — the
    # raw-double-fold convention: the K·Σc²−N² multiply-subtract is
    # FMA-contractible, so the emitted cov is quantized (SCALE.md)
    assert r["cov"] == round(math.sqrt(4 * 39 - 81) / 9, 9)


def test_grouped_topk_equals_window_under_skew(spark):
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    # one celebrity group (150 rows) + small groups, duplicate order
    # values to exercise the tiebreaker
    rows = [("hot", i, float(i % 9)) for i in range(150)]
    rows += [(f"g{j}", i, float(i)) for j in range(4) for i in range(3)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    fast = ranking.grouped_topk(
        df, ["g"], [F.desc("v"), F.asc("id")], k=5, salt_key="id",
        salt_buckets=8,
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("id"))
    ref = (
        df.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, ref.collect()))


def test_distributed_cumsum_matches_global_window(spark):
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    cases = {
        "deltas": [(i * 7 % 101, 1 if i % 3 else -1) for i in range(200)],
        # NULL values, some opening a range partition: SUM skips them,
        # so such a row carries the earlier partitions' running total
        "nulls": [(i, None if i % 5 == 0 else 1) for i in range(40)],
        "leading_nulls": [(i, None if i < 12 else 1) for i in range(40)],
        "empty": [],
    }
    w = Window.orderBy("t", "d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for name, rows in cases.items():
        df = spark.createDataFrame(rows, "t long, d long")
        got = ranking.distributed_cumsum(
            df, ["t", "d"], "d", num_partitions=7
        )
        ref = df.withColumn("cumsum", F.sum("d").over(w))
        assert got.columns == ref.columns, name
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        ), name
        # and no single-partition window in the distributed plan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "No Partition Defined" not in plan, name


def test_grouped_topk_default_salt_handles_sortorder_columns(spark):
    """Regression: order_by entries are often SortOrder expressions
    (F.desc), which cannot be evaluated as values — the default salt
    must never touch them (it hashes all columns instead)."""
    from pyspark.sql import Window

    from processo_etl_spark.operators import ranking

    df = spark.createDataFrame(
        [(f"g{i % 3}", i, float(i % 4)) for i in range(60)],
        "g string, id long, v double",
    )
    out = ranking.grouped_topk(
        df, ["g"], [F.desc("v"), F.asc("id")], k=3, salt_buckets=4
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("id"))
    ref = (
        df.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))


def test_grouped_topk_refuses_a_caller_rank_column(spark):
    from processo_etl_spark.operators import ranking

    df = spark.createDataFrame([("g", 1, 9)], "g string, id long, rk long")
    with pytest.raises(ValueError, match="'rk'"):
        ranking.grouped_topk(df, ["g"], [F.asc("id")], k=1)
    out = ranking.grouped_topk(df, ["g"], [F.asc("id")], k=1, rank_col="pos")
    assert [tuple(r) for r in out.collect()] == [("g", 1, 9, 1)]
