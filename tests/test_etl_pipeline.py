"""End-to-end reference-parity test (SURVEY §5.2): run the full pipeline
on the dirty mini-datatran fixture and assert the notebook invariants
as code."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.etl import fixtures, pipeline, schemas
from processo_etl_spark.sources import readers


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("datatran"))
    files = fixtures.write_fixture(dest)
    return pipeline.run_pipeline(spark, files)


def test_raw_dialect_roundtrip(spark, tmp_path):
    # ';' + latin1 + explicit schema: accented values survive (dag.py:47).
    files = fixtures.write_fixture(str(tmp_path))
    df = readers.read_raw_csv(
        spark, files[2022]["ocorrencia"], schemas.OCORRENCIA_SCHEMA
    )
    assert df.count() == 36
    dias = {r["dia_semana"] for r in df.select("dia_semana").distinct().collect()}
    assert "sábado" in dias  # latin1 accent decoded correctly


def test_intermediate_csv_sink_roundtrip(spark, tmp_path):
    # S5 sink + S4 intermediate scan (',', utf-8): values survive.
    df = spark.createDataFrame(
        [(1, "são paulo", 2.5), (2, "não informado", -1.0)], ["id", "cidade", "v"]
    )
    out = str(tmp_path / "inter")
    readers.write_csv(df, out)
    back = readers.read_intermediate_csv(spark, out, schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_http_zip_ingest_local(tmp_path):
    # S1+S2 (dag.py:22-41) against a file:// URL — no network needed.
    import zipfile

    src = tmp_path / "payload.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("datatran2099.csv", "id;uf\n1;SC\n")
        zf.writestr("causas2099.csv", "id;marca\n1;VW/GOL\n")
    dest = str(tmp_path / "landing")
    files = readers.ingest_http_zip(f"file://{src}", dest)
    assert len(files) == 2
    with open(files[0], encoding="utf-8") as f:
        assert f.readline().strip() == "id;uf"


def test_clean_fused_medians_equal_two_step(spark):
    # clean() takes all three medians in one action on the pre-filter
    # frame; pessoas/veiculos must still be the medians over the rows the
    # constraint filters keep (dag.py:122-127).  Row 5 fails mortos <=
    # pessoas and holds pessoas=100 / veiculos=50, which would move both
    # medians (3 → 3.5, 2 → 2.5) if counted.
    from processo_etl_spark.functions import cleaning

    empty = pipeline.merge_year(
        spark.createDataFrame([], schemas.OCORRENCIA_SCHEMA),
        spark.createDataFrame([], schemas.CAUSAS_SCHEMA),
    )
    cols = ("id", "mortos", "feridos", "pessoas", "veiculos", "ano_fabricacao_veiculo")
    vals = [
        (1, 0, 0, 2, 1, 2000),
        (2, 0, 1, 3, 0, 2010),
        (3, 0, 0, 0, 2, None),
        (4, 0, 0, 4, 3, 0),
        (5, 200, 0, 100, 50, 2005),
        (6, 0, 0, None, 1, 2001),
    ]
    rows = [{**dict.fromkeys(empty.columns), **dict(zip(cols, v))} for v in vals]
    df = spark.createDataFrame(rows, empty.schema)

    ref = cleaning.impute_median(df, ["ano_fabricacao_veiculo"], exclude="nonzero")
    for lhs, rhs in pipeline.CONSTRAINTS:
        ref = cleaning.constraint_filter_le(ref, lhs, rhs)
    ref = cleaning.impute_median(ref, ["pessoas", "veiculos"])

    got = {r["id"]: tuple(r) for r in pipeline.clean(df).select(*cols).collect()}
    assert got == {r["id"]: tuple(r) for r in ref.select(*cols).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3][3] == 3.0 and got[2][4] == 2.0   # not 3.5 / 2.5
    # the ano median is pre-filter: {2000, 2010, 2005, 2001} → 2003.
    assert got[3][5] == got[4][5] == 2003.0


def test_run_pipeline_one_execution_per_year(spark, tmp_path):
    # The only actions run_pipeline takes are the per-lane median actions;
    # everything else stays lazy until the sinks.
    files = fixtures.write_fixture(str(tmp_path))
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    pipeline.run_pipeline(spark, files)
    bus.waitUntilEmpty()
    assert store.executionsCount() - before == len(files) == 2


def test_constraint_filters_hold(star):
    # Análise.ipynb:1140/1150: no feridos>pessoas or mortos(obitos)>pessoas rows.
    f = star.fato_acidentes
    assert f.filter(F.col("feridos") > F.col("pessoas_envolvidas")).count() == 0
    assert f.filter(F.col("obitos") > F.col("pessoas_envolvidas")).count() == 0
    # 0-markers were median-imputed (dag.py:122-127).
    assert f.filter(F.col("pessoas_envolvidas") <= 0).count() == 0
    assert f.filter(F.col("veiculos_envolvidos") <= 0).count() == 0


def test_fase_dia_consistent_with_hora(star):
    # Análise.ipynb "Erros": fase_dia recomputed from horario (dag.py:106-113).
    t = star.dim_tempo
    bad = t.filter(
        ~(
            ((F.col("hora") >= 5) & (F.col("hora") < 7) & (F.col("fase_dia") == "Amanhecer"))
            | ((F.col("hora") >= 7) & (F.col("hora") < 12) & (F.col("fase_dia") == "Dia"))
            | ((F.col("hora") >= 12) & (F.col("hora") < 18) & (F.col("fase_dia") == "Tarde"))
            | ((F.col("hora") >= 18) & (F.col("hora") < 24) & (F.col("fase_dia") == "Noite"))
            | (((F.col("hora") < 5) | (F.col("hora") >= 24)) & (F.col("fase_dia") == "Madrugada"))
        )
    )
    assert bad.count() == 0


def test_domains_within_allowlists(star):
    # C10: every domain-validated value is in-list or 'não informado'.
    t = star.dim_tempo
    assert t.filter(~F.col("dia_semana").isin(*schemas.DIAS_SEMANA, "não informado")).count() == 0
    loc = star.dim_local
    assert loc.filter(~F.col("uf").isin(*schemas.UF_LIST, "não informado")).count() == 0
    d = star.dim_descritivo
    allowed = [*schemas.DOMAINS["condicao_metereologica"], "não informado"]
    assert d.filter(~F.col("condicao_metereologica").isin(*allowed)).count() == 0
    # uso_solo was recoded to Rural/Urbano AFTER validation (dag.py:165).
    r = star.dim_rodovia
    assert r.filter(~F.col("uso_solo").isin("Rural", "Urbano", "não informado")).count() == 0


def test_fk_completeness(star):
    # J2-J6: every fact row resolves every surrogate key (imputation
    # precedes the joins, so null-key mismatch can't drop rows).
    f = star.fato_acidentes
    for c in ("id_tempo", "id_rodovia", "id_local", "id_descritivo", "id_veiculo"):
        assert f.filter(F.col(c).isNull()).count() == 0, c


def test_fact_grain_unique(star):
    # D3 (dag.py:263): PK(id_descritivo,id_tempo,id_rodovia,id_local).
    f = star.fato_acidentes
    dup = (
        f.groupBy("id_descritivo", "id_tempo", "id_rodovia", "id_local")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.count() == 0


def test_surrogate_keys_contiguous(star):
    # W1: SERIAL parity — ids are exactly 1..N for every dimension.
    for dim, id_col in (
        (star.dim_tempo, "id_tempo"),
        (star.dim_rodovia, "id_rodovia"),
        (star.dim_local, "id_local"),
        (star.dim_descritivo, "id_descritivo"),
        (star.dim_veiculo, "id_veiculo"),
    ):
        ids = sorted(r[id_col] for r in dim.select(id_col).collect())
        assert ids == list(range(1, len(ids) + 1)), id_col


def test_holiday_and_weekend_flags(star):
    t = star.dim_tempo
    # Jan 1 and Sep 7 are national holidays in the fixture dates.
    jan1 = t.filter((F.col("dia") == 1) & (F.col("mes") == "Janeiro"))
    assert jan1.count() > 0
    assert all(r["feriado"] for r in jan1.collect())
    sep7 = t.filter((F.col("dia") == 7) & (F.col("mes") == "Setembro"))
    assert all(r["feriado"] for r in sep7.collect())
    # dia_util is False exactly on weekends.
    weekend = t.filter(F.col("dia_semana").isin("sábado", "domingo"))
    assert all(not r["dia_util"] for r in weekend.collect())


def test_vehicle_make_model_and_import_form(star):
    v = star.dim_veiculo
    marcas = {r["marca"] for r in v.select("marca").distinct().collect()}
    assert "VW" in marcas and "TOYOTA" in marcas      # I/ import form split
    assert "não informado" in marcas                   # null marca filled
    modelos = {r["modelo"] for r in v.select("modelo").distinct().collect()}
    assert "COROLLA XEI" in modelos                    # tokens[1:] join


def test_multilabel_flags_in_dim_rodovia(star):
    r = star.dim_rodovia
    # Dirty labels 'Acli' / 'Aclive    ' still set the aclive flag.
    assert r.filter(F.col("aclive")).count() > 0
    assert r.filter(F.col("tunel")).count() > 0
    flags = set(pipeline.TRACADO_RENAMES.values())
    assert flags.issubset(set(r.columns))


def test_lat_log_normalized(star):
    ll = star.dim_local.select("lat_log").first()["lat_log"]
    assert "," in ll and ll.count(",") == 1            # 'lat,lon' composite
    lat, lon = ll.split(",")
    float(lat), float(lon)                             # decimal points, parseable


def test_two_years_unioned(star):
    anos = {r["ano"] for r in star.dim_tempo.select("ano").distinct().collect()}
    assert anos == {2022, 2023}


def test_jsonl_and_orc_roundtrip(spark, tmp_path):
    """S5-family extensions: JSON-lines and ORC sinks round-trip with an
    enforced schema (jsonl) / self-describing footer (orc)."""
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.sources import readers

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents").limit(50)

    jp = str(tmp_path / "docs_jsonl")
    readers.write_jsonl(docs, jp)
    back_j = readers.read_jsonl(spark, jp, docs.schema)
    assert back_j.schema == docs.schema
    assert back_j.exceptAll(docs).count() == 0 and back_j.count() == 50

    op = str(tmp_path / "docs_orc")
    readers.write_orc(docs, op)
    back_o = readers.read_orc(spark, op)
    assert back_o.exceptAll(docs).count() == 0 and back_o.count() == 50
    # ORC scans still get predicate pushdown: filter appears in the scan node.
    plan = back_o.filter(F.col("n_chars") > 100)._jdf.queryExecution().executedPlan().toString()
    assert "n_chars" in plan


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Overwriting a slice replaces only its partitions; others survive."""
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.sources import readers

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    path = str(tmp_path / "by_type")
    readers.write_parquet_partitioned(ev, path, ["event_type"])
    n_total = ev.count()
    n_click = ev.filter(F.col("event_type") == "click").count()

    # Reprocess ONLY the click slice with doubled values.
    clicks2 = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    readers.write_parquet_partitioned(clicks2, path, ["event_type"])

    back = spark.read.parquet(path)
    assert back.count() == n_total  # non-click partitions untouched
    assert back.filter(F.col("event_type") == "click").count() == n_click


def test_incremental_high_watermark(spark, tmp_path):
    from pyspark.sql import functions as F

    from processo_etl_spark import catalog
    from processo_etl_spark.etl import incremental

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    state = str(tmp_path / "state.json")
    cutoff = F.lit("2024-01-15").cast("timestamp_ntz")

    # Run 1: only the first half is available.
    first = ev.filter(F.col("ts") < cutoff)
    inc1 = incremental.select_increment(first, "ts", state)
    n1 = incremental.commit_increment(inc1, "ts", state)
    assert n1 == first.count()

    # Run 2: full source visible — selects exactly the new tail.
    inc2 = incremental.select_increment(ev, "ts", state)
    n2 = incremental.commit_increment(inc2, "ts", state)
    assert n1 + n2 == ev.count()

    # Run 3: nothing new — empty increment, watermark untouched.
    wm_before = incremental.read_watermark(state)
    assert incremental.commit_increment(
        incremental.select_increment(ev, "ts", state), "ts", state) == 0
    assert incremental.read_watermark(state) == wm_before


def test_compaction_reduces_file_count(spark, tmp_path):
    import glob

    from processo_etl_spark import catalog
    from processo_etl_spark.operators import maintenance

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    small = str(tmp_path / "small")
    docs.repartition(16).write.parquet(small)  # 16 tiny files
    assert len(glob.glob(f"{small}/*.parquet")) == 16

    out = str(tmp_path / "compacted")
    n = maintenance.compact_parquet(spark, small, out, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0


def test_read_jsonl_robust_quarantines_bad_lines(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from processo_etl_spark.sources import readers

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "another good"}\n'
        '{"doc_id": 3, "text": "unterminated\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    good, bad = readers.read_jsonl_robust(spark, str(p), schema)
    g = {r["doc_id"]: r["text"] for r in good.collect()}
    assert g == {1: "good one", 2: "another good"}
    assert good.columns == ["doc_id", "text"]       # quarantine col dropped
    b = sorted(r["raw_line"] for r in bad.collect())
    assert len(b) == 2
    assert b[0] == "this is not json at all"
    assert b[1].startswith('{"doc_id": 3')
