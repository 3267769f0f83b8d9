"""Unit tests for the tricky scalar operators (SURVEY §5.3):
C7 fase_dia boundaries, C11 dirty multilabel decode, C13 make/model
asymmetry, C12 decimal commas, C4 month names, median parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.functions import cleaning, derive, text


def test_fase_dia_boundaries(spark):
    # dag.py:106-113 boundaries: 5, 7, 12, 18, 24.
    cases = [
        (0, "Madrugada"), (4, "Madrugada"), (5, "Amanhecer"), (6, "Amanhecer"),
        (7, "Dia"), (11, "Dia"), (12, "Tarde"), (17, "Tarde"),
        (18, "Noite"), (23, "Noite"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["hora"])
    got = {r["hora"]: r["fase"] for r in
           df.select("hora", derive.fase_dia("hora").alias("fase")).collect()}
    for h, want in cases:
        assert got[h] == want, (h, got[h], want)


def test_multilabel_decode_dirty_labels(spark):
    # dag.py:167-181 + Análise.ipynb:1278+ dirt: 'Acli', 'Aclive    '.
    df = spark.createDataFrame(
        [("Reta;Aclive",), ("Acli",), ("Aclive    ",), ("Curva",), ("Reta;Curva;Ponte",)],
        ["tracado_via"],
    )
    out = text.multilabel_flags(df, "tracado_via").collect()
    by_input = {r["tracado_via"]: r for r in out}
    assert by_input["Reta;Aclive"]["Aclive"] and by_input["Reta;Aclive"]["Reta"]
    assert by_input["Acli"]["Aclive"]          # truncated token still matches
    assert by_input["Aclive    "]["Aclive"]    # padded token still matches
    assert not by_input["Curva"]["Aclive"]
    r = by_input["Reta;Curva;Ponte"]
    assert r["Reta"] and r["Curva"] and r["Ponte"] and not r["Viaduto"]


def test_split_make_model_asymmetry(spark):
    # dag.py:187-195 — modelo branch tests token=='I', marca branch tests
    # first CHAR=='I' (deliberate reference asymmetry).
    rows = [
        ("VW/GOL 1.0",),            # plain: marca=VW, modelo=GOL 1.0
        ("I/TOYOTA COROLLA XEI",),  # import: marca=TOYOTA, modelo=COROLLA XEI
        ("IVECO/DAILY 35S14",),     # first char I but token!='I':
                                    #   modelo stays DAILY 35S14, marca=DAILY
        (None,),                    # null → 'não informado'
    ]
    df = spark.createDataFrame(rows, ["marca"])
    out = {(r["marca"], r["modelo"]) for r in text.split_make_model(df, "marca").collect()}
    assert ("VW", "GOL 1.0") in out
    assert ("TOYOTA", "COROLLA XEI") in out
    assert ("DAILY", "DAILY 35S14") in out  # the asymmetry, preserved
    assert ("não informado", "não informado") in out


def test_lat_log_decimal_comma(spark):
    df = spark.createDataFrame([("-27,5945", "-48,5477")], ["latitude", "longitude"])
    got = df.select(text.lat_log("latitude", "longitude").alias("ll")).first()["ll"]
    assert got == "-27.5945,-48.5477"


def test_month_names_pt(spark):
    df = spark.createDataFrame([(m,) for m in range(1, 13)], ["m"])
    got = [r["nome"] for r in
           df.select(derive.month_name_from_num("m").alias("nome")).orderBy("m").collect()]
    assert got[0] == "Janeiro" and got[11] == "Dezembro" and got[2] == "Março"


def test_exact_median_pandas_parity(spark):
    # Even-count set: pandas/DuckDB median averages the two middle values.
    df = spark.createDataFrame([(1,), (2,), (3,), (10,)], ["v"])
    assert cleaning.exact_median(df, "v", exclude_zero=False) == 2.5
    # exclude_zero drops 0-markers before the median (dag.py:79).
    df2 = spark.createDataFrame([(0,), (0,), (5,), (7,)], ["v"])
    assert cleaning.exact_median(df2, "v", exclude_zero=True) == 6.0


def test_impute_and_domains(spark):
    df = spark.createDataFrame(
        [(None, "Chuva"), (0, "Chuvisco"), (2000, None), (2010, "Sol")],
        ["ano", "cond"],
    )
    out = cleaning.impute_median(df, ["ano"])
    vals = sorted(r["ano"] for r in out.collect())
    assert vals == [2000, 2005, 2005, 2010]  # median of {2000,2010} = 2005
    dom = cleaning.apply_domains(df, {"cond": ["Chuva", "Sol"]}).collect()
    got = {r["cond"] for r in dom}
    assert got == {"Chuva", "Sol", "não informado"}


def test_dia_util_and_recode(spark):
    df = spark.createDataFrame(
        [("sábado",), ("domingo",), ("segunda-feira",)], ["dia_semana"]
    )
    got = {r["dia_semana"]: r["u"] for r in
           df.select("dia_semana", derive.dia_util("dia_semana").alias("u")).collect()}
    assert got == {"sábado": False, "domingo": False, "segunda-feira": True}
    df2 = spark.createDataFrame([("Não",), ("Sim",), ("Outro",)], ["uso_solo"])
    got2 = {r["uso_solo"]: r["x"] for r in df2.select(
        "uso_solo",
        derive.recode("uso_solo", {"Não": "Rural", "Sim": "Urbano"}).alias("x"),
    ).collect()}
    assert got2 == {"Não": "Rural", "Sim": "Urbano", "Outro": "Outro"}


def test_national_holidays_and_flag(spark):
    import datetime as dt

    from processo_etl_spark.etl import holidays_br

    dates = {str(d) for d in holidays_br.national_holidays(2023)}
    assert "2023-01-01" in dates and "2023-12-25" in dates
    assert "2023-04-07" in dates      # Good Friday 2023 (Easter Apr 9)
    # Carnival / Corpus Christi are the holidays lib's OPTIONAL category:
    # excluded by default (matching holidays.Brazil()), opt-in flag adds them.
    assert "2023-02-21" not in dates
    opt = {str(d) for d in holidays_br.national_holidays(2023, include_optional=True)}
    assert "2023-02-21" in opt and "2023-06-08" in opt

    # The flag: set membership over the dates; a NULL date is not a holiday.
    df = spark.createDataFrame(
        [(1, dt.date(2023, 1, 1)), (2, dt.date(2023, 1, 2)), (3, None)],
        "k int, d date",
    )
    flag = derive.is_holiday("d", holidays_br.national_holidays(2023))
    got = {r["k"]: r["f"] for r in df.select("k", flag.alias("f")).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_pandas_udf_extensibility_parity(spark):
    """SURVEY §2.10: the user extension surface is Arrow-batched pandas_udf;
    each example UDF matches its JVM-native twin exactly."""
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.functions import extensibility as ext

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents").limit(100)

    both = docs.select(
        ext.byte_length_utf8("text").alias("udf_len"),
        F.octet_length("text").alias("native_len"),
    )
    assert both.filter(F.col("udf_len") != F.col("native_len")).count() == 0

    scores = docs.select((F.col("n_chars") / 1000).alias("s"))
    cmp = scores.select(
        ext.softclip_score("s").alias("u"), ext.native_softclip("s").alias("n")
    )
    assert cmp.filter(F.abs(F.col("u") - F.col("n")) > 1e-12).count() == 0

    # SQL registration path
    ext.register_example_udfs(spark)
    docs.createOrReplaceTempView("ext_docs")
    n = spark.sql(
        "SELECT count(*) AS n FROM ext_docs WHERE byte_length_utf8(text) >= length(text)"
    ).first()["n"]
    assert n == 100


def test_winsorize_robust_hand_computed(spark):
    # values 1..100: p01=1.99, p99=99.01, med=50.5, IQR=49.5
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)], ["k", "v"])
    out = {
        r["k"]: r
        for r in cleaning.winsorize_robust(df, "v", ["k"], 0.01, 0.99).collect()
    }
    assert out[1]["winsorized"] == pytest.approx(1.99)    # clipped up
    assert out[100]["winsorized"] == pytest.approx(99.01)  # clipped down
    assert out[50]["winsorized"] == 50.0                   # interior untouched
    assert out[50]["robust_z"] == pytest.approx((50 - 50.5) / 49.5)
    # robust_z uses the RAW value (winsorization doesn't distort the scale)
    assert out[100]["robust_z"] == pytest.approx((100 - 50.5) / 49.5)


def test_poisson_bootstrap_ci_brackets_and_determinism(spark):
    from processo_etl_spark.quality import audit

    df = spark.createDataFrame(
        [(i, 100.0 + (i % 7)) for i in range(400)], "k long, v double"
    )
    key = F.col("k").cast("string")
    r1 = audit.poisson_bootstrap_mean_ci(df, "v", key).collect()[0]
    r2 = audit.poisson_bootstrap_mean_ci(df, "v", key).collect()[0]
    assert r1 == r2  # hash draws: fully deterministic across runs
    assert r1["n_replicates"] == 32
    # point estimate is the exact full-sample mean
    exact = sum(100.0 + (i % 7) for i in range(400)) / 400
    assert abs(r1["point_mean"] - exact) < 1e-9
    # CI brackets the point estimate and is tight for low-variance data
    assert r1["ci_lo"] <= r1["point_mean"] <= r1["ci_hi"]
    assert r1["ci_hi"] - r1["ci_lo"] < 1.0  # sd≈2, n=400 → CI width ≈ 0.33
