"""Scalar-function plans (SURVEY.md §2.8 C1–C19) — date parts, map
lookups, case expressions, recodes, median imputation, multi-label
decode, string surgery.  Each exercises the engine's functions library
and carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.functions import cleaning, derive, text
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import dec, t

# --- C1/C3: date parse + date parts -------------------------------------------
@register(
    "date_parts",
    oracle="""
    SELECT year(o_orderdate) AS ano, quarter(o_orderdate) AS trimestre,
           month(o_orderdate) AS mes_num, day(o_orderdate) AS dia,
           date_part('dow', o_orderdate) + 1 AS dow,
           count(*) AS n
    FROM orders GROUP BY 1,2,3,4,5
    """,
)
def date_parts(spark, sf_dir):
    """C1/C3 (dag.py:66,156-160): full date-part derivation + group count.

    dow mapping: Spark dayofweek is 1=Sunday; DuckDB dow is 0=Sunday (+1).
    """
    o = t(spark, sf_dir, "orders")
    parts = derive.date_parts("o_orderdate")
    return (
        o.select(
            parts["ano"].alias("ano"),
            parts["trimestre"].alias("trimestre"),
            parts["mes_num"].alias("mes_num"),
            parts["dia"].alias("dia"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .groupBy("ano", "trimestre", "mes_num", "dia", "dow")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- C4: month number → Portuguese name ----------------------------------------
@register(
    "month_names_pt",
    oracle="""
    SELECT CASE month(o_orderdate)
      WHEN 1 THEN 'Janeiro' WHEN 2 THEN 'Fevereiro' WHEN 3 THEN 'Março'
      WHEN 4 THEN 'Abril' WHEN 5 THEN 'Maio' WHEN 6 THEN 'Junho'
      WHEN 7 THEN 'Julho' WHEN 8 THEN 'Agosto' WHEN 9 THEN 'Setembro'
      WHEN 10 THEN 'Outubro' WHEN 11 THEN 'Novembro' WHEN 12 THEN 'Dezembro'
      END AS mes, count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def month_names_pt(spark, sf_dir):
    """C4 (dag.py:140-157): deterministic map literal, no locale dependence."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(derive.month_name_pt("o_orderdate").alias("mes"))
        .groupBy("mes")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- C7 (+C17): 5-way case expression over derived hour --------------------------
@register(
    "fase_dia_histogram",
    oracle="""
    SELECT CASE
      WHEN hour(ts) >= 5 AND hour(ts) < 7 THEN 'Amanhecer'
      WHEN hour(ts) >= 7 AND hour(ts) < 12 THEN 'Dia'
      WHEN hour(ts) >= 12 AND hour(ts) < 18 THEN 'Tarde'
      WHEN hour(ts) >= 18 AND hour(ts) < 24 THEN 'Noite'
      ELSE 'Madrugada' END AS fase_dia,
      count(*) AS n
    FROM events GROUP BY 1
    """,
)
def fase_dia_histogram(spark, sf_dir):
    """C7 (dag.py:106-113): day-phase case expression (replaces row apply)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(derive.fase_dia(F.hour("ts")).alias("fase_dia"))
        .groupBy("fase_dia")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- C8: value recode map ----------------------------------------------------------
@register(
    "recode_event_type",
    oracle="""
    SELECT CASE event_type WHEN 'click' THEN 'Clique'
                           WHEN 'view' THEN 'Visualização'
                           ELSE event_type END AS tipo,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def recode_event_type(spark, sf_dir):
    """C8 (dag.py:165): uso_solo-style recode map, unmatched passthrough."""
    ev = t(spark, sf_dir, "events")
    tipo = derive.recode("event_type", {"click": "Clique", "view": "Visualização"})
    return ev.select(tipo.alias("tipo")).groupBy("tipo").agg(F.count(F.lit(1)).alias("n"))


# --- C9 + A1: two-pass median imputation ----------------------------------------------
@register(
    "impute_median_discount",
    oracle="""
    WITH m AS (
      SELECT quantile_cont(CAST(l_discount AS DOUBLE), 0.5) AS med
      FROM lineitem WHERE l_discount > 0)
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(CASE WHEN l_discount IS NULL OR l_discount = 0
                              THEN med ELSE l_discount END, 4) AS DECIMAL(12,4)))
                AS DOUBLE) AS sum_disc_imputed,
           count(*) AS n
    FROM lineitem, m GROUP BY l_returnflag
    """,
)
def impute_median_discount(spark, sf_dir):
    """C9/A1 (dag.py:79-81,122-127): null/zero markers → exact median.

    Two-pass: tiny median job → literal-injected impute (re-plans with a
    constant; cheaper at scale than a windowed median or cross join).
    The imputed double (interpolated median is at most 3dp, so never near
    a scale-4 tie) is ROUNDed at scale 4 before the decimal cast on the
    ORACLE side to pin the driver's DuckDB version; Spark's own cast is
    already tie-free for this data.  Exact decimal sum internally, DOUBLE
    out (see plans/common.dec).
    """
    li = t(spark, sf_dir, "lineitem")
    med = cleaning.exact_median(li, "l_discount", exclude_zero=True)
    imputed = cleaning.impute_null_or_zero("l_discount", med).cast("decimal(12,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(imputed).cast("double").alias("sum_disc_imputed"),
        F.count(F.lit(1)).alias("n"),
    )


# --- winsorization + robust scaling ----------------------------------------------------
@register(
    "winsorize_price_robust",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01) AS lo,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS hi,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)  AS med,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS value,
           least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi) AS winsorized,
           (CAST(l_extendedprice AS DOUBLE) - med) / (q3 - q1) AS robust_z
    FROM lineitem, q
    """,
)
def winsorize_price_robust(spark, sf_dir):
    """Outlier-resistant feature scaling: clip l_extendedprice to its
    exact [p01, p99] and robust-z by median/IQR
    (functions/cleaning.winsorize_robust).  One tiny quantile job, then
    a literal-injected scan-speed map — the module's two-pass-scalar
    pattern; no global window, no scalar cross join."""
    return cleaning.winsorize_robust(
        t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        lower=0.01,
        upper=0.99,
    )


# --- C10/F5: domain allow-list recode ----------------------------------------------------
@register(
    "domain_recode_priority",
    oracle="""
    SELECT CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
                  OR o_orderpriority IS NULL
                THEN 'não informado' ELSE o_orderpriority END AS prioridade,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def domain_recode_priority(spark, sf_dir):
    """C10 (dag.py:92-103): outside-allow-list → 'não informado'."""
    o = t(spark, sf_dir, "orders")
    col = cleaning.domain_recode("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
    return o.select(col.alias("prioridade")).groupBy("prioridade").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- C11: multi-label decode → boolean flags ----------------------------------------------
@register(
    "multilabel_decode",
    oracle="""
    WITH ml AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:4], ';') AS labels
      FROM documents)
    SELECT doc_id,
      len(list_filter(string_split(labels, ';'),
          tk -> instr('table', substr(tk, 1, 3)) > 0)) > 0 AS flag_table,
      len(list_filter(string_split(labels, ';'),
          tk -> instr('scan', substr(tk, 1, 3)) > 0)) > 0 AS flag_scan,
      len(list_filter(string_split(labels, ';'),
          tk -> instr('spark', substr(tk, 1, 3)) > 0)) > 0 AS flag_spark,
      len(list_filter(string_split(labels, ';'),
          tk -> instr('window', substr(tk, 1, 3)) > 0)) > 0 AS flag_window
    FROM ml
    """,
)
def multilabel_decode(spark, sf_dir):
    """C11 (dag.py:167-181): ';'-multi-label → flags via higher-order exists.

    The fuzzy first-3-chars prefix match tolerates the reference's dirty
    labels ('Acli', 'Aclive    ').  Here the multi-label string is
    synthesized from the documents table (first 4 space-tokens).
    """
    docs = t(spark, sf_dir, "documents")
    ml = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 4), ";").alias("labels"),
    )
    flagged = text.multilabel_flags(
        ml, "labels", labels=("table", "scan", "spark", "window"), sep=";"
    )
    return flagged.select(
        "doc_id",
        F.col("table").alias("flag_table"),
        F.col("scan").alias("flag_scan"),
        F.col("spark").alias("flag_spark"),
        F.col("window").alias("flag_window"),
    )


# --- C12: decimal-comma normalize + composite lat,lon --------------------------------------
@register(
    "latlon_normalize",
    oracle="""
    WITH raw AS (
      SELECT c_custkey,
             replace(CAST(CAST(ROUND(c_acctbal, 2) AS DECIMAL(12,2)) AS VARCHAR), '.', ',') AS lat_br,
             replace(CAST(CAST(-c_acctbal AS DECIMAL(12,2)) AS VARCHAR), '.', ',') AS lon_br
      FROM customer)
    SELECT c_custkey,
           concat(replace(lat_br, ',', '.'), ',', replace(lon_br, ',', '.')) AS lat_log
    FROM raw
    """,
)
def latlon_normalize(spark, sf_dir):
    """C12 (dag.py:184): ','→'.' via translate + concat_ws composite.

    Decimal-comma inputs are synthesized from acctbal (the testdata has
    no comma-decimal column); the round-trip proves the operator.
    """
    c = t(spark, sf_dir, "customer")
    raw = c.select(
        "c_custkey",
        F.translate(dec("c_acctbal").cast("string"), ".", ",").alias("lat_br"),
        F.translate((-dec("c_acctbal")).cast("decimal(12,2)").cast("string"), ".", ",").alias("lon_br"),
    )
    return raw.select("c_custkey", text.lat_log("lat_br", "lon_br").alias("lat_log"))


# --- C13/C14/C16: make/model split with the 'I/' special case -------------------------------
@register(
    "split_make_model",
    oracle="""
    WITH veic AS (
      SELECT p_partkey,
             CASE WHEN p_partkey % 13 = 0 THEN NULL
                  WHEN p_partkey % 7 = 0 THEN concat('I/', upper(p_name))
                  ELSE concat(p_brand, '/', upper(p_name)) END AS marca
      FROM part),
    sp AS (
      SELECT p_partkey, marca,
             string_split(marca, '/')[1] AS antes,
             string_split(marca, '/')[2] AS depois
      FROM veic)
    SELECT p_partkey,
      COALESCE(CASE WHEN substr(antes, 1, 1) = 'I'
                    THEN string_split(depois, ' ')[1] ELSE antes END,
               'não informado') AS marca,
      COALESCE(CASE WHEN antes = 'I'
                    THEN array_to_string(string_split(depois, ' ')[2:], ' ')
                    ELSE depois END,
               'não informado') AS modelo
    FROM sp
    """,
)
def split_make_model(spark, sf_dir):
    """C13 (dag.py:187-195): 'MARCA/MODELO' split incl. the 'I/' import form.

    Preserves the reference's asymmetry: modelo branch tests the first
    token == 'I' (dag.py:188), marca branch tests first *char* == 'I'
    (dag.py:190).  Inputs synthesized from part (brand/name); every 13th
    row NULL exercises the post-split fill (C14, dag.py:194-195).
    """
    p = t(spark, sf_dir, "part")
    marca = (
        F.when(F.col("p_partkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("p_partkey") % 7 == 0, F.concat(F.lit("I/"), F.upper("p_name")))
        .otherwise(F.concat("p_brand", F.lit("/"), F.upper("p_name")))
    )
    veic = p.select("p_partkey", marca.alias("marca"))
    return text.split_make_model(veic, "marca").select("p_partkey", "marca", "modelo")


# --- C15/F9: upper + membership validity ------------------------------------------------------
@register(
    "region_name_valid",
    oracle="""
    SELECT bool_and(upper(r_name) IN
      ('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST')) AS all_valid
    FROM region
    """,
)
def region_name_valid(spark, sf_dir):
    """C15/F9/A9 (Análise.ipynb:1128-1131): upper().isin() + bool_and."""
    r = t(spark, sf_dir, "region")
    valid = F.upper(F.col("r_name")).isin(
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    )
    return r.select(F.bool_and(valid).alias("all_valid"))


# --- C17: arithmetic on time parts --------------------------------------------------------------
@register(
    "hour_decimal_avg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(hour(ts) + minute(ts) / 60.0 AS DECIMAL(12,6)))
                AS DOUBLE) AS sum_hour_dec,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def hour_decimal_avg(spark, sf_dir):
    """C17 (Análise.ipynb:~1113): hour + minute/60 arithmetic — exact
    decimal sums internally, DOUBLE out (the driver hashes decimals
    differently from DuckDB's)."""
    ev = t(spark, sf_dir, "events")
    hd = derive.hour_decimal("ts").cast("decimal(12,6)")
    return ev.groupBy("event_type").agg(
        F.sum(hd).cast("double").alias("sum_hour_dec"),
        F.count(F.lit(1)).alias("n"),
    )


# --- C18/C19: renames + sink casts ---------------------------------------------------------------
@register(
    "rename_cast_fact",
    oracle="""
    SELECT l_orderkey AS id_ocorrencia,
           CAST(l_quantity AS INT) AS pessoas_envolvidas,
           CAST(l_linenumber AS BIGINT) AS veiculos_envolvidos,
           l_returnflag AS situacao
    FROM lineitem
    """,
)
def rename_cast_fact(spark, sf_dir):
    """C18/C19 (dag.py:262-280,441): bulk rename + int casts at the sink.

    Casts only integral-valued doubles (double→int truncation vs rounding
    differs across engines for fractional values — documented).
    """
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("id_ocorrencia"),
        F.col("l_quantity").cast("int").alias("pessoas_envolvidas"),
        F.col("l_linenumber").cast("bigint").alias("veiculos_envolvidos"),
        F.col("l_returnflag").alias("situacao"),
    )
