"""Unit tests for the profiling, maintenance and binary-ANN operators:
quality/profile, operators/maintenance, operators/graph.kcore_peel,
ml/similarity.sign_pack_words + hamming_topk."""

import pytest
from pyspark.sql import functions as F


def test_key_violations_holds_and_counts(spark):
    from processo_etl_spark.quality import profile

    ok = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    r = profile.key_violations(ok, ["k"]).first()
    assert (r["n_rows"], r["n_groups"], r["n_violations"], r["holds"]) == (
        3, 3, 0, True,
    )
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (2, "d"), (2, "e")], "k long, v string"
    )
    r = profile.key_violations(dup, ["k"]).first()
    assert (r["n_rows"], r["n_groups"], r["n_violations"], r["holds"]) == (
        5, 2, 3, False,
    )
    # NULL keys are a GROUP (not skipped the way count(DISTINCT) would):
    # two NULL rows = one group, one violation, key does not hold
    nul = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], "k string, v string"
    )
    r = profile.key_violations(nul, ["k"]).first()
    assert (r["n_rows"], r["n_groups"], r["n_violations"], r["holds"]) == (
        3, 2, 1, False,
    )
    with pytest.raises(ValueError):
        profile.key_violations(ok, [])


def test_fd_violations_detects_multi_valued_dependents(spark):
    from processo_etl_spark.quality import profile

    df = spark.createDataFrame(
        [("x", 1), ("x", 1), ("y", 1), ("y", 2), ("z", None)],
        "d string, dep int",
    )
    r = profile.fd_violations(df, ["d"], "dep").first()
    # y maps to {1,2}; z's NULL dep is ignored by count_distinct
    assert (r["n_groups"], r["n_violations"], r["holds"]) == (3, 1, False)
    holds = spark.createDataFrame([("x", 1), ("y", 2)], "d string, dep int")
    assert profile.fd_violations(holds, ["d"], "dep").first()["holds"] is True
    with pytest.raises(ValueError):
        profile.fd_violations(df, [], "dep")


def test_compaction_bins_next_fit_decreasing(spark):
    from processo_etl_spark.operators import maintenance

    # sizes desc: f_big=25 (own bins), f1=9, f2=8, f3=2, f4=1; target 10
    inv = spark.createDataFrame(
        [("f1", 9), ("f2", 8), ("f3", 2), ("f4", 1), ("f_big", 25)],
        "file_id string, n_bytes long",
    )
    got = {
        r["file_id"]: r["bin"]
        for r in maintenance.compaction_bins(
            inv, "n_bytes", "file_id", target_bytes=10
        ).collect()
    }
    # cum_before: f_big 0, f1 25, f2 34, f3 42, f4 44
    assert got == {"f_big": 0, "f1": 2, "f2": 3, "f3": 4, "f4": 4}
    with pytest.raises(ValueError):
        maintenance.compaction_bins(inv, "n_bytes", "file_id", target_bytes=0)


def test_kcore_peel_matches_hand_peel(spark):
    from processo_etl_spark.operators import graph

    # path 1-2-3-4-5 peels away entirely at k=2; triangle 6-7-8
    # survives; self-loop 9-9 is dropped up front
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (6, 8), (9, 9)],
        "src long, dst long",
    )
    out = sorted(
        (r["node"], r["degree"])
        for r in graph.kcore_peel(edges, k=2, rounds=4).collect()
    )
    assert out == [(6, 2), (7, 2), (8, 2)]
    # k=1 removes nothing but the self-loop
    out1 = dict(
        (r["node"], r["degree"])
        for r in graph.kcore_peel(edges, k=1, rounds=2).collect()
    )
    assert out1 == {1: 1, 2: 2, 3: 2, 4: 2, 5: 1, 6: 2, 7: 2, 8: 2}
    with pytest.raises(ValueError):
        graph.kcore_peel(edges, k=0, rounds=1)


def test_kcore_peel_broadcast_and_shuffle_modes_equal(spark):
    """The alive-set semi-joins execute as AQE runtime broadcasts when
    the alive set is small and as shuffled semi-joins when broadcasting
    is disabled; both layouts must produce IDENTICAL peel states —
    integer-exact filtering, so join strategy can never change
    output."""
    from processo_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (6, 8), (3, 6)],
        "src long, dst long",
    )
    bcast = sorted(
        (r["node"], r["degree"])
        for r in graph.kcore_peel(edges, k=2, rounds=4).collect()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = sorted(
            (r["node"], r["degree"])
            for r in graph.kcore_peel(edges, k=2, rounds=4).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bcast == shuf == [(6, 2), (7, 2), (8, 2)]


def test_sign_pack_words_and_hamming_topk(spark):
    from processo_etl_spark.ml import similarity

    # 8-dim vectors, 4-bit words: hand-check the packing and distances
    vecs = [
        (0, [1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0]),  # 0101 0011 -> w0=5, w1=3
        (1, [1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0]),   # differs in dim 8
        (2, [-1.0] * 8),                                     # w0=0, w1=0
        (3, [1.0] * 8),                                      # w0=15, w1=15
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    words = similarity.sign_pack_words(F.col("embedding"), dim=8, word_bits=4)
    packed = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in df.select(
            "vec_id", words[0].alias("w0"), words[1].alias("w1")
        ).collect()
    }
    assert packed == {0: (5, 3), 1: (5, 11), 2: (0, 0), 3: (15, 15)}
    with pytest.raises(ValueError):
        similarity.sign_pack_words(F.col("embedding"), dim=8, word_bits=33)

    # 64-dim hamming_topk: neighbor ranking is (hamming asc, id asc)
    import random

    rng = random.Random(7)
    big = [(i, [rng.choice([-1.0, 1.0]) for _ in range(64)]) for i in range(20)]
    bdf = spark.createDataFrame(big, "vec_id long, embedding array<double>")
    got = sorted(
        (
            (r["neighbor_id"], r["hamming"], r["rank"])
            for r in similarity.hamming_topk(
                bdf, bdf.filter(F.col("vec_id") == 0), k=3, dim=64
            ).collect()
        ),
        key=lambda t: t[2],
    )

    def ham(a, b):
        return sum(1 for x, y in zip(a, b) if (x > 0) != (y > 0))

    ref = sorted(
        ((ham(big[0][1], v), i) for i, v in big if i != 0),
    )[:3]
    assert [(i, h) for h, i in ref] == [(i, h) for i, h, _ in got]
    assert [r for _, _, r in got] == [1, 2, 3]


def test_categorical_gini_hand_values(spark):
    from processo_etl_spark.quality import profile

    # 4×a, 2×b, 2×NULL over 8 rows: gini = 1 - (16+4+4)/64 = 0.625
    df = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 2 + [(None,)] * 2, "v string"
    )
    r = profile.categorical_gini(df, "v").first()
    assert (r["column"], r["n_rows"], r["n_distinct"], r["top_count"]) == (
        "v", 8, 3, 4,
    )
    assert r["gini"] == 0.625
    # constant column -> 0
    const = spark.createDataFrame([("x",)] * 5, "v string")
    assert profile.categorical_gini(const, "v").first()["gini"] == 0.0


def test_linear_touch_attribution_counts_and_ties(spark):
    from processo_etl_spark.operators import temporal

    rows = [
        # (user, ts, event_id, type)
        (1, 10, 100, "view"),
        (1, 20, 101, "view"),
        (1, 20, 102, "purchase"),   # tie with a view at ts=20: counts it
        (1, 30, 103, "purchase"),   # still 2 views
        (2, 10, 200, "purchase"),   # zero-touch: NULL credit, kept
        (2, 15, 201, "click"),      # irrelevant type, filtered out
        (2, 20, 202, "view"),
        (2, 25, 203, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, event_type string")
    out = {
        r["event_id"]: (r["n_touches"], r["credit_per_touch"])
        for r in temporal.linear_touch_attribution(
            df,
            "user_id",
            ["ts"],
            touch_pred=F.col("event_type") == "view",
            conversion_pred=F.col("event_type") == "purchase",
        ).collect()
    }
    assert out[102] == (2, 0.5)
    assert out[103] == (2, 0.5)
    assert out[200] == (0, None)
    assert out[203] == (1, 1.0)


def test_with_group_fold_groups_stay_together(spark):
    from processo_etl_spark.ml import splits

    df = spark.createDataFrame(
        [(i, f"g{i % 7}") for i in range(70)], "id long, g string"
    )
    rows = splits.with_group_fold(df, "g", n_folds=5).collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["g"], set()).add(r["fold"])
    assert all(len(folds) == 1 for folds in per_group.values())
    assert all(0 <= r["fold"] < 5 for r in rows)
    with pytest.raises(ValueError):
        splits.with_group_fold(df, "g", n_folds=1)


def test_mad_outliers_hand_values(spark):
    from processo_etl_spark.quality import profile

    # values 1..9 plus a wild 1000: median 5.5, deviations
    # {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} -> MAD 2.5;
    # fence 3*1.4826*2.5 = 11.1195 -> only 1000 is outlying
    df = spark.createDataFrame(
        [(float(x),) for x in range(1, 10)] + [(1000.0,)], "x double"
    )
    r = profile.mad_outliers(df, "x").first()
    assert (r["median"], r["mad"], r["n_rows"], r["n_outliers"]) == (
        5.5, 2.5, 10, 1,
    )
    # 50% breakdown: IQR-style fences fail with 3 of 10 wild values,
    # MAD still isolates them
    df2 = spark.createDataFrame(
        [(float(x),) for x in range(1, 8)] + [(1e6,), (2e6,), (3e6,)],
        "x double",
    )
    r2 = profile.mad_outliers(df2, "x").first()
    assert r2["n_outliers"] == 3


def test_asof_forward_direction(spark):
    from processo_etl_spark.operators import temporal

    left = spark.createDataFrame([(1, 10), (1, 25), (2, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 50.0), (1, 12, 120.0), (1, 30, 300.0)], "k long, ts long, x double"
    )
    out = {
        (r["k"], r["ts"]): (r["ts_right"], r["x_right"])
        for r in temporal.asof_join(
            left, right, on=["k"], ts="ts", payload=["x"], direction="forward"
        ).collect()
    }
    assert out[(1, 10)] == (12, 120.0)
    assert out[(1, 25)] == (30, 300.0)
    assert out[(2, 5)] == (None, None)  # no right rows for k=2


def test_zorder_key_hand_computed_and_validation(spark):
    """Interleave check against hand-computed Morton codes, the wrap
    mask, and parameter validation (operators/layout.zorder_key +
    the SQL twin used by the oracle)."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from processo_etl_spark.operators import layout

    # z(x=0b101, y=0b011), bits=3, x at even positions, y at odd:
    # bit i of x -> 2i, bit i of y -> 2i+1:
    # x bits (1,0,1) -> bits 0,4 set; y bits (1,1,0) -> bits 1,3 set
    # -> 0b011011 = 27 ; plus a wrap case: x=8 (0b1000) masked to 3 bits = 0
    rows = [(5, 3), (0, 0), (7, 7), (8, 1)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", layout.zorder_key(["x", "y"], bits=3).alias("z")
        ).collect()
    }
    assert got[(5, 3)] == 27
    assert got[(0, 0)] == 0
    assert got[(7, 7)] == 63
    assert got[(8, 1)] == 2          # 8 masked to 0; y=1 -> bit 1
    # SQL twin computes the identical integers
    sql = layout.zorder_key_sql(["x", "y"], bits=3)
    for x, y in rows:
        z = duckdb.sql(
            f"SELECT {sql} AS z FROM (SELECT {x} AS x, {y} AS y)"
        ).fetchone()[0]
        assert z == got[(x, y)], (x, y)
    with pytest.raises(ValueError, match=">= 2 columns"):
        layout.zorder_key(["x"], bits=3)
    with pytest.raises(ValueError, match="must be in"):
        layout.zorder_key(["x", "y"], bits=32)     # 64 bits > 63
    with pytest.raises(ValueError, match="capacity"):
        layout.file_spans(df, ["x"], 0, ["y"])


def test_file_spans_zorder_locality_on_grid(spark):
    """On a full 16x16 grid, 16-row files under z-order have total
    per-dimension span <= the row-major layout's: row-major files span
    the whole y domain every 16 rows, while z-order files are 4x4
    quadrants (span 4 per dimension) — the locality property
    layout_zorder_gain certifies at table scale."""
    from pyspark.sql import functions as F

    from processo_etl_spark.operators import layout

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rm = layout.file_spans(grid, ["x", "y"], 16, ["x", "y"])
    zo = layout.file_spans(
        grid.withColumn("z", layout.zorder_key(["x", "y"], bits=4)),
        ["z"],
        16,
        ["x", "y"],
    )
    def spans(df):
        r = df.agg(
            F.sum(F.col("max_x") - F.col("min_x") + 1).alias("sx"),
            F.sum(F.col("max_y") - F.col("min_y") + 1).alias("sy"),
            F.count(F.lit(1)).alias("nf"),
            F.sum("n").alias("nr"),
        ).first()
        return r["sx"], r["sy"], r["nf"], r["nr"]

    sx_rm, sy_rm, nf_rm, nr_rm = spans(rm)
    sx_zo, sy_zo, nf_zo, nr_zo = spans(zo)
    assert nf_rm == nf_zo == 16 and nr_rm == nr_zo == 256
    # row-major: each file is one x row -> x span 1, y span 16
    assert (sx_rm, sy_rm) == (16, 256)
    # z-order with 16-row files = 4x4 quadrants -> span 4 each
    assert (sx_zo, sy_zo) == (64, 64)


def test_eval_agreement_kappa_hand_values(spark, tmp_path):
    """Hand-built 6-doc corpus with a fully known contingency: three
    agreements on the diagonal, balanced 2/2/2 marginals on both
    raters -> pe_num = 12, kappa = (6*3 - 12)/(36 - 12) = 0.25, i.e.
    kappa_num=6, kappa_den=24 exactly."""
    from processo_etl_spark.plans.profile import eval_agreement_kappa

    def doc(i, n_chars, n_spaces):
        return (i, "w" + " w" * n_spaces, "en", "s", n_chars)

    rows = [
        doc(1, 100, 10),   # a=0, b=0  (agree)
        doc(2, 300, 50),   # a=1, b=1  (agree)
        doc(3, 900, 150),  # a=2, b=2  (agree)
        doc(4, 100, 50),   # a=0, b=1
        doc(5, 900, 10),   # a=2, b=0
        doc(6, 300, 150),  # a=1, b=2
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = eval_agreement_kappa(spark, str(tmp_path)).first()
    assert (r["n_docs"], r["n_agree"], r["pe_num"]) == (6, 3, 12)
    assert (r["kappa_num"], r["kappa_den"]) == (6, 24)
