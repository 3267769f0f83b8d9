"""The reference ETL DAG as ONE lazy Spark program.

Reference shape (dag.py): per-year merge → clean → transform, 5 CSV
materializations per lane, union, star schema, row-wise Postgres load.
Spark shape: the whole chain is a single DataFrame lineage per year,
unioned lazily.  Each piece of shared work runs once per run:

- each year's raw CSVs are scanned, joined and deduplicated once: the
  merged lane is persisted, and everything downstream of it (clean,
  transform) is narrow, so its consumers recompute it cheaply;
- the only actions are one median action per year lane (the three
  imputed columns, ``clean``) and the sink writes;
- one aggregation builds all five dimensions; it is persisted, and the
  dimension writes and the fact's five broadcast joins all read it.

Stage map (SURVEY §2 ids in parens):

  merge_year      J1 right join + D1 dedup + P2 drops       (dag.py:44-57)
                  — persisted by run_pipeline
  clean           C9 imputation, C10 domains, F1-F3 filters (dag.py:59-129)
                  — the lane's one median action
  transform       C1-C8, C11-C14 derivations; C5 holiday    (dag.py:131-202)
                  flag as an IN-list expression (no join)
  union_years     U1                                        (dag.py:204-213)
  build_star      D2/D3, W1, J2-J6, C18/C19: one persisted  (dag.py:215-287)
                  multi-dimension aggregate feeds dims + fact
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processo_etl_spark.etl import holidays_br, schemas
from processo_etl_spark.functions import cleaning, derive, text
from processo_etl_spark.operators import relational, star
from processo_etl_spark.sources import readers

# dim_rodovia label→column renames, accents stripped (dag.py:265-280, C18).
TRACADO_RENAMES = {
    "Aclive": "aclive", "Declive": "declive", "Curva": "curva",
    "Em Obras": "em_obras", "Viaduto": "viaduto", "Reta": "reta",
    "Ponte": "ponte", "Rotatória": "rotatoria",
    "Interseção de Vias": "intersecao_vias",
    "Desvio Temporário": "desvio_temporario",
    "Retorno Regulamentado": "retorno_regulamentado", "Túnel": "tunel",
}

DIM_TEMPO_KEY = [
    "hora", "dia", "mes", "ano", "trimestre", "fase_dia", "dia_semana",
    "feriado", "dia_util",
]
DIM_RODOVIA_KEY = ["rodovia", "posicao_rodovia", "sentido_via", "uso_solo",
                   "tipo_pista", *TRACADO_RENAMES.values()]
DIM_LOCAL_KEY = ["uf", "municipio", "delegacia", "lat_log"]
DIM_DESCRITIVO_KEY = [
    "causa_acidente", "tipo_acidente", "classificacao_acidente",
    "condicao_metereologica",
]
DIM_VEICULO_KEY = ["tipo_veiculo", "marca", "modelo", "ano_fabricacao_veiculo"]
# Surrogate id column → natural key, in the fact's FK order.
DIM_KEYS = {
    "id_tempo": DIM_TEMPO_KEY,
    "id_rodovia": DIM_RODOVIA_KEY,
    "id_local": DIM_LOCAL_KEY,
    "id_descritivo": DIM_DESCRITIVO_KEY,
    "id_veiculo": DIM_VEICULO_KEY,
}

# F1/F2 (dag.py:116-119): (lhs, rhs) pairs, keep rows where lhs <= rhs.
CONSTRAINTS = (("mortos", "pessoas"), ("feridos", "pessoas"))


@dataclass
class StarSchema:
    dim_tempo: DataFrame
    dim_rodovia: DataFrame
    dim_local: DataFrame
    dim_descritivo: DataFrame
    dim_veiculo: DataFrame
    fato_acidentes: DataFrame


def merge_year(ocorrencia: DataFrame, causas: DataFrame) -> DataFrame:
    """J1+D1+P2 (dag.py:44-57): project causas, right join on id, dedup, drop."""
    merged = relational.right_outer_join(
        causas,
        ocorrencia,
        on="id",
        project_left=["id", "tipo_veiculo", "marca", "ano_fabricacao_veiculo"],
    )
    deduped = relational.dedup_keep_first(merged, ["id"], order_by=["tipo_veiculo", "marca"])
    return deduped.drop(*schemas.DROP_AFTER_MERGE)


def clean(df: DataFrame) -> DataFrame:
    """dag.py:59-129: parse, impute, validate domains, filter constraints.

    All three medians come from ONE action over the input (the persisted
    merged lane).  The pessoas/veiculos medians are taken over the rows
    the constraint filters keep (dag.py:122-127): those filters read only
    raw mortos/feridos/pessoas, which nothing before them changes, so
    their predicate can be evaluated up front as a ``FILTER`` clause.
    The imputed values are still applied at the reference's two
    positions: imputing pessoas before the filters would change which
    rows survive them.
    """
    kept = " AND ".join(f"{lhs} <= {rhs}" for lhs, rhs in CONSTRAINTS)
    medians = cleaning.exact_medians(
        df,
        {
            # The reference's ano median excludes != 0 (dag.py:79).
            "ano_fabricacao_veiculo": "ano_fabricacao_veiculo <> 0",
            "pessoas": f"{kept} AND pessoas > 0",
            "veiculos": f"{kept} AND veiculos > 0",
        },
    )
    out = df.withColumn("data_inversa", F.to_date("data_inversa"))
    out = out.withColumn("hora", F.hour(F.to_timestamp("horario", "HH:mm:ss")))
    # C9/A1: null/0 → median (two-pass literal injection).
    out = out.withColumn(
        "ano_fabricacao_veiculo",
        cleaning.impute_null_or_zero(
            "ano_fabricacao_veiculo", medians["ano_fabricacao_veiculo"]
        ),
    )
    # C9: null sentinels.
    out = cleaning.fill_sentinels(
        out,
        numeric_minus1=["br"],
        text_not_informed=[*schemas.TEXT_FILL_COLS, "tipo_veiculo"],
    )
    out = out.fillna({"km": "-1"})
    # C10/F5: 7 domain allow-lists.
    out = cleaning.apply_domains(out, schemas.DOMAINS)
    # F1/F2: cross-field constraints.
    for lhs, rhs in CONSTRAINTS:
        out = cleaning.constraint_filter_le(out, lhs, rhs)
    # dag.py:122-127: 0-markers in pessoas/veiculos → median of >0 subset.
    return out.withColumns(
        {c: cleaning.impute_null_or_zero(c, medians[c]) for c in ("pessoas", "veiculos")}
    )


def transform(df: DataFrame, holidays: Sequence[dt.date]) -> DataFrame:
    """dag.py:131-202: derive, decode, split; drop consumed source cols.

    ``holidays``: the national holiday dates of the run's years (C5).
    """
    parts = derive.date_parts("data_inversa")
    out = df.withColumns(
        {
            "dia": parts["dia"],
            "ano": parts["ano"],
            "trimestre": parts["trimestre"],
            "mes": derive.month_name_pt("data_inversa"),
            "fase_dia": derive.fase_dia("hora"),
            "feriado": derive.is_holiday("data_inversa", holidays),
            "dia_util": derive.dia_util("dia_semana"),
            "uso_solo": derive.recode("uso_solo", {"Não": "Rural", "Sim": "Urbano"}),
            "lat_log": text.lat_log("latitude", "longitude"),
        }
    )
    out = text.multilabel_flags(out, "tracado_via")
    out = text.split_make_model(out, "marca")
    out = out.withColumnsRenamed({"br": "rodovia", "km": "posicao_rodovia"})
    out = out.withColumnsRenamed(TRACADO_RENAMES)
    # P3 (dag.py:198): consumed source columns exit the lineage here.
    return out.drop(
        "data_inversa", "horario", "latitude", "longitude", "tracado_via", "id"
    )


def union_years(dfs: list[DataFrame]) -> DataFrame:
    """U1 (dag.py:204-213)."""
    return relational.union_all(dfs)


def build_star(unioned: DataFrame) -> StarSchema:
    """dag.py:215-287: 5 dims (distinct + surrogate) + fact via broadcast joins.

    The five dimensions come from ONE persisted aggregate over
    ``unioned`` (caller-owned, session-lifetime: one cache entry per
    distinct input plan); the dimension writes and the fact's broadcast
    joins all read it, so ``unioned`` is scanned twice — once by that
    aggregate, once by the fact.  Write the dimensions before the fact
    (the reference's FK load order): the first dimension write fills the
    aggregate's cache.  A fact computed first starts its five broadcasts
    at once, and more than one of them may compute the aggregate before
    the cache is filled (measured: twice).
    ``id_veiculo`` is kept in the fact although the reference DDL omits it
    (dag.py:372-381 vs 261) — documented deviation, FIXTURES.md.
    """
    dims = star.build_dimensions(unioned, DIM_KEYS, persist=True)
    fact = star.attach_fks(
        unioned, {id_col: (dims[id_col], key) for id_col, key in DIM_KEYS.items()}
    )
    fact = fact.select(
        "id_descritivo", "id_tempo", "id_rodovia", "id_local", "id_veiculo",
        F.col("pessoas").cast("int").alias("pessoas_envolvidas"),
        F.col("veiculos").cast("int").alias("veiculos_envolvidos"),
        F.col("feridos").cast("int").alias("feridos"),
        F.col("mortos").cast("int").alias("obitos"),
    )
    fact = star.fact_grain_dedup(
        fact,
        ["id_descritivo", "id_tempo", "id_rodovia", "id_local"],
        order_by=["id_veiculo"],
    )
    return StarSchema(
        dim_tempo=dims["id_tempo"],
        dim_rodovia=dims["id_rodovia"],
        dim_local=dims["id_local"],
        dim_descritivo=dims["id_descritivo"],
        dim_veiculo=dims["id_veiculo"],
        fato_acidentes=fact,
    )


def run_pipeline(
    spark: SparkSession, year_files: dict[int, dict[str, str]]
) -> StarSchema:
    """End-to-end: raw CSVs → star schema, one lazy program + one median
    action per year.

    ``year_files``: {year: {'ocorrencia': path, 'causas': path}} — the
    urls.json analogue (dag.py:449-466).  Each year's merged lane is
    persisted here (caller-owned, session-lifetime: one cache entry per
    distinct input plan, released by ``spark.catalog.clearCache``).
    """
    holidays = [d for y in sorted(year_files) for d in holidays_br.national_holidays(y)]
    lanes = []
    for year in sorted(year_files):
        paths = year_files[year]
        ocorr = readers.read_raw_csv(spark, paths["ocorrencia"], schemas.OCORRENCIA_SCHEMA)
        causas = readers.read_raw_csv(spark, paths["causas"], schemas.CAUSAS_SCHEMA)
        merged = merge_year(ocorr, causas).persist()
        lanes.append(transform(clean(merged), holidays))
    return build_star(union_years(lanes))
