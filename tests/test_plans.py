"""Plan-quality regression tests: the scale properties SCALE.md claims
are asserted on the actual physical plans, so a refactor that silently
loses a pushdown or a broadcast fails CI."""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark import grading, plans
from processo_etl_spark.sources import readers

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = plans.all_queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Projection reaches the scan: l_orderkey/l_partkey etc. are not read.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


def test_star_join_broadcasts_all_dims(spark):
    df = plans.all_queries()["star_join_olap"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 3      # customer, nation, region
    assert "SortMergeJoin" not in plan               # fact side never shuffles


def test_fact_assembly_broadcasts_dims(spark):
    df = plans.all_queries()["star_fact_assembly"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_write_prunes(spark, tmp_path):
    from processo_etl_spark import catalog

    ev = catalog.load(spark, SF, "events")
    out = str(tmp_path / "events_by_type")
    readers.write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(back)
    # The filter becomes a partition filter (directory pruning), not a
    # row-level pushed filter.
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == n_click


def test_approx_distinct_within_tolerance(spark):
    from processo_etl_spark import catalog

    row = plans.all_queries()["approx_distinct_users"](spark, SF).first()
    ev = catalog.load(spark, SF, "events")
    exact = ev.select(F.countDistinct("user_id")).first()[0]
    assert row["exact_users"] == exact
    assert row["within_tolerance"] is True


def test_approx_quartiles_close_to_exact(spark):
    sf_dir = "/root/testdata/sf0.01"
    row = plans.all_queries()["quartiles_quantity_approx"](spark, sf_dir).first()
    exact = plans.all_queries()["quartiles_quantity"](spark, sf_dir).first()
    names = list(exact.asDict().keys())
    assert [row["q1"], row["med"], row["q3"]] == [exact[n] for n in names[:3]]
    assert row["within_tolerance"] is True


def test_registry_order_is_registration_order():
    """``all_queries()``/``all_oracles()`` return the registry as
    registered (``_PLAN_MODULES`` import order, then definition order),
    the oracles are a subset of the queries in the same relative order,
    and ``__spark_entry__.queries()`` serves that same order.
    Import-only — no Spark jobs."""
    import __spark_entry__
    from processo_etl_spark.plans import _ORACLES, _QUERIES

    queries = plans.all_queries()
    oracles = plans.all_oracles()
    assert list(queries) == list(_QUERIES)
    assert list(oracles) == list(_ORACLES)
    assert list(oracles) == [n for n in queries if n in oracles]
    assert list(__spark_entry__.queries()) == list(queries)


def test_hugeint_ban_catches_uncast_integer_sum():
    """The loss class q12 once hit: DuckDB types bare SUM(INTEGER) as
    HUGEINT and the DRIVER hasher canonicalizes int128 differently from
    Spark LongType, while the local DuckDB compare passes — so
    the grading must fail structurally on the oracle's result schema.
    A deliberately uncast SUM fixture is flagged; the BIGINT-cast twin
    is clean."""
    import duckdb

    con = duckdb.connect()
    bad = con.sql("SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)")
    assert grading.hugeint_cols(bad.columns, bad.types) == ["s"]
    ok = con.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS s, AVG(x) AS a "
        "FROM (VALUES (1), (2)) t(x)"
    )
    assert grading.hugeint_cols(ok.columns, ok.types) == []


def test_compare_rejects_cells_of_another_type(spark):
    """The comparison types every cell: a Spark bigint against a DuckDB
    double, or a Spark double against a DuckDB DECIMAL, fails on the
    values even where the numbers are equal; a HUGEINT oracle column
    fails on the schema.  The typed twin of each passes."""
    import duckdb

    con = duckdb.connect()
    sdf = spark.createDataFrame([(1, 1.5)], "k bigint, v double")
    rows = sdf.collect()

    def grade(oracle):
        return grading.compare("t", sdf, rows, oracle, con)

    assert grade("SELECT CAST(1 AS BIGINT) AS k, 1.5::DOUBLE AS v") == []
    int_vs_double = grade("SELECT 1.0::DOUBLE AS k, 1.5::DOUBLE AS v")
    assert [r.split(",")[0] for r in int_vs_double] == ["values differ"]
    dec_vs_double = grade("SELECT CAST(1 AS BIGINT) AS k, 1.5::DECIMAL(2,1) AS v")
    assert [r.split(",")[0] for r in dec_vs_double] == ["values differ"]
    huge = grade("SELECT SUM(x) AS k, 1.5::DOUBLE AS v FROM (VALUES (1)) t(x)")
    assert len(huge) == 1
    assert huge[0].startswith("oracle HUGEINT output columns ['k']")


def test_decimal_cast_hazard_skips_scale_zero():
    """An unrounded cast to a fractional-scale DECIMAL is flagged; a
    scale-0 cast of an integer count is exact and is not."""
    hazards = grading.decimal_cast_hazards
    assert hazards("SELECT CAST(c AS DECIMAL(38,0)) AS n") == []
    assert hazards("SELECT CAST(p AS DECIMAL(12,2)) AS x") == ["p"]
    assert hazards("SELECT CAST(ROUND(p, 2) AS DECIMAL(12,2)) AS x") == []


def test_registry_oracles_emit_no_hugeint_columns():
    """Registry-wide HUGEINT sweep: bind every oracle's result schema in
    DuckDB (sf0.001 views, no execution needed — .types comes from the
    bound plan) and assert none emits an int128 column.  Mirrors the
    DecimalType output ban; q12's class can never re-enter silently."""
    con = grading.oracle_connection("/root/testdata/sf0.001")
    offenders = {}
    for name, sql in plans.all_oracles().items():
        rel = con.sql(sql)
        cols = grading.hugeint_cols(rel.columns, rel.types)
        if cols:
            offenders[name] = cols
    assert not offenders, f"oracles with HUGEINT output columns: {offenders}"


def test_rollup_merge_is_order_insensitive_and_matches_direct(spark):
    """merge(partial(A), partial(B), partial(C)) equals the direct
    one-pass rollup row-for-row, in every batch order — the algebraic
    mergeability contract rollup_incremental_merge certifies against
    the driver oracle (here: three-way split + permutation)."""
    from processo_etl_spark.plans.common import t
    from processo_etl_spark.plans.incremental import (
        _partial_rollup,
        merge_rollup_partials,
    )
    from pyspark.sql import functions as F

    orders = t(spark, "/root/testdata/sf0.001", "orders")
    a = orders.filter(F.year("o_orderdate") <= 1993)
    b = orders.filter(F.year("o_orderdate").between(1994, 1995))
    c = orders.filter(F.year("o_orderdate") >= 1996)
    direct = {
        r["o_orderpriority"]: (r["n_orders"], str(r["s"]), str(r["mn"]), str(r["mx"]))
        for r in merge_rollup_partials(_partial_rollup(orders)).collect()
    }
    for perm in ((a, b, c), (c, a, b), (b, c, a)):
        merged = {
            r["o_orderpriority"]: (
                r["n_orders"], str(r["s"]), str(r["mn"]), str(r["mx"])
            )
            for r in merge_rollup_partials(
                *[_partial_rollup(x) for x in perm]
            ).collect()
        }
        assert merged == direct


def test_quantize12_multiset_tolerance():
    """--quantize12 (an sf2.5 stress finding): the 1-ulp DuckDB
    DECIMAL->DOUBLE cast artifact (70632264676.79489 vs the correctly
    rounded 70632264676.7949) hashes equal under quantization, while a
    12th-significant-digit difference still mismatches, exact mode
    still catches the ulp, and non-float cells are untouched."""
    cols = ["x", "n"]
    spark_rows = [(70632264676.7949, 7)]
    duck_rows = [(70632264676.79489, 7)]
    exact_s = grading.table_multiset(cols, spark_rows)
    exact_d = grading.table_multiset(cols, duck_rows)
    assert exact_s != exact_d                      # exact mode: ulp caught
    q_s = grading.table_multiset(cols, spark_rows, quantize=True)
    q_d = grading.table_multiset(cols, duck_rows, quantize=True)
    assert q_s == q_d                              # quantized: artifact forgiven
    # a genuine 12th-digit error is NOT forgiven
    off = grading.table_multiset(cols, [(70632264686.7949, 7)], quantize=True)
    assert off != q_s
    # integers / strings / NaN never change representation
    mixed_cols = ["a", "b", "c"]
    mixed = [(5, "x", float("nan"))]
    assert grading.table_multiset(mixed_cols, mixed, quantize=True) == \
        grading.table_multiset(mixed_cols, mixed)
    # floats NESTED in array cells get the same tolerance —
    # a 1-ulp cast artifact inside array<double> must hash equal under
    # quantization (it was a false FAIL before the recursive re-round),
    # including arrays nested two deep.
    arr_cols = ["v"]
    arr_s = [([70632264676.7949, [1.25, 70632264676.7949]],)]
    arr_d = [([70632264676.79489, [1.25, 70632264676.79489]],)]
    assert grading.table_multiset(arr_cols, arr_s) != \
        grading.table_multiset(arr_cols, arr_d)
    assert grading.table_multiset(arr_cols, arr_s, quantize=True) == \
        grading.table_multiset(arr_cols, arr_d, quantize=True)
    # a genuine nested 12th-digit error is still caught
    arr_off = [([70632264686.7949, [1.25, 70632264676.7949]],)]
    assert grading.table_multiset(arr_cols, arr_off, quantize=True) != \
        grading.table_multiset(arr_cols, arr_s, quantize=True)
