"""Star-schema plans (SURVEY.md §2.6 W1, §2.3 J2-J6, §3 EP3).

The reference derives 5 dimensions via distinct + sequential surrogate
keys and assembles the fact with 5 left joins back on natural keys
(reference dag.py:215-287).  Here the same machinery runs over the
driver's TPC-H-ish tables; the real pipeline lives in etl/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.operators import star
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import dec, t


# --- end-to-end reference-parity pipeline ------------------------------------
# The fixture input is deterministic, so the full pipeline output is a
# 66-row constant: the oracle is the golden table itself (regenerate with
# the snippet in tests/test_etl_pipeline.py if the fixture ever changes).
_ETL_GOLDEN = """
    SELECT * FROM (VALUES
      (1, 1, 20, 1, 9, 3, 2, 1, 0, 2022, 'Janeiro', 'Madrugada', true, false),
      (1, 2, 23, 7, 10, 3, 2, 1, 0, 2022, 'Janeiro', 'Madrugada', true, false),
      (10, 20, 9, 9, 26, 3, 2, 1, 0, 2023, 'Maio', 'Amanhecer', false, false),
      (10, 9, 7, 3, 20, 3, 2, 1, 0, 2023, 'Maio', 'Amanhecer', false, false),
      (11, 18, 33, 6, 19, 3, 2, 1, 0, 2022, 'Novembro', 'Amanhecer', false, false),
      (12, 18, 33, 6, 19, 3, 2, 1, 0, 2023, 'Novembro', 'Amanhecer', false, true),
      (13, 26, 19, 7, 8, 3, 2, 1, 0, 2022, 'Janeiro', 'Dia', true, false),
      (13, 7, 22, 1, 6, 3, 2, 1, 0, 2022, 'Janeiro', 'Dia', true, false),
      (14, 26, 19, 7, 8, 3, 2, 1, 0, 2023, 'Janeiro', 'Dia', true, false),
      (14, 7, 22, 1, 6, 3, 2, 1, 0, 2023, 'Janeiro', 'Dia', true, false),
      (15, 16, 14, 4, 9, 3, 2, 1, 0, 2022, 'Julho', 'Dia', false, false),
      (15, 28, 17, 10, 4, 3, 2, 1, 0, 2022, 'Julho', 'Dia', false, false),
      (16, 16, 14, 4, 9, 3, 2, 1, 0, 2023, 'Julho', 'Dia', false, false),
      (16, 28, 17, 10, 4, 3, 2, 1, 0, 2023, 'Julho', 'Dia', false, false),
      (17, 32, 27, 11, 15, 3, 2, 1, 0, 2022, 'Março', 'Dia', false, false),
      (18, 32, 27, 11, 15, 3, 2, 1, 0, 2023, 'Março', 'Dia', false, false),
      (19, 24, 3, 8, 12, 3, 2, 1, 0, 2022, 'Setembro', 'Dia', true, true),
      (19, 5, 5, 2, 23, 3, 2, 1, 0, 2022, 'Setembro', 'Dia', true, true),
      (2, 1, 20, 1, 9, 3, 2, 1, 0, 2023, 'Janeiro', 'Madrugada', true, false),
      (2, 2, 23, 7, 10, 3, 2, 1, 0, 2023, 'Janeiro', 'Madrugada', true, false),
      (20, 24, 3, 8, 12, 3, 2, 1, 0, 2023, 'Setembro', 'Dia', true, true),
      (20, 5, 5, 2, 23, 3, 2, 1, 0, 2023, 'Setembro', 'Dia', true, true),
      (21, 12, 10, 3, 29, 3, 2, 1, 0, 2022, 'Maio', 'Tarde', false, false),
      (21, 23, 12, 9, 28, 3, 2, 1, 0, 2022, 'Maio', 'Tarde', false, false),
      (22, 12, 10, 3, 29, 3, 2, 1, 0, 2023, 'Maio', 'Tarde', false, false),
      (22, 23, 12, 9, 28, 3, 2, 1, 0, 2023, 'Maio', 'Tarde', false, false),
      (23, 31, 32, 12, 27, 3, 2, 1, 0, 2022, 'Novembro', 'Tarde', false, false),
      (24, 14, 29, 6, 25, 3, 2, 1, 0, 2022, 'Novembro', 'Tarde', false, true),
      (25, 14, 29, 6, 25, 3, 2, 1, 0, 2023, 'Novembro', 'Tarde', false, true),
      (26, 31, 32, 12, 27, 3, 2, 1, 0, 2023, 'Novembro', 'Tarde', false, true),
      (27, 10, 24, 1, 5, 3, 2, 1, 0, 2022, 'Janeiro', 'Tarde', true, false),
      (27, 21, 21, 7, 2, 3, 2, 1, 0, 2022, 'Janeiro', 'Tarde', true, false),
      (28, 10, 24, 1, 5, 3, 2, 1, 0, 2023, 'Janeiro', 'Tarde', true, false),
      (28, 21, 21, 7, 2, 3, 2, 1, 0, 2023, 'Janeiro', 'Tarde', true, false),
      (29, 19, 16, 4, 7, 3, 2, 1, 0, 2022, 'Julho', 'Tarde', false, false),
      (29, 29, 13, 10, 1, 3, 2, 1, 0, 2022, 'Julho', 'Tarde', false, false),
      (3, 3, 18, 4, 8, 3, 2, 1, 0, 2022, 'Julho', 'Madrugada', false, false),
      (3, 4, 15, 10, 3, 3, 2, 1, 0, 2022, 'Julho', 'Madrugada', false, false),
      (30, 19, 16, 4, 7, 3, 2, 1, 0, 2023, 'Julho', 'Tarde', false, false),
      (30, 29, 13, 10, 1, 3, 2, 1, 0, 2023, 'Julho', 'Tarde', false, false),
      (31, 17, 25, 5, 17, 3, 2, 1, 0, 2022, 'Março', 'Noite', false, false),
      (32, 17, 25, 5, 17, 3, 2, 1, 0, 2023, 'Março', 'Noite', false, false),
      (33, 27, 6, 8, 13, 3, 2, 1, 0, 2022, 'Setembro', 'Noite', true, true),
      (33, 8, 2, 2, 21, 3, 2, 1, 0, 2022, 'Setembro', 'Noite', true, true),
      (34, 27, 6, 8, 13, 3, 2, 1, 0, 2023, 'Setembro', 'Noite', true, true),
      (34, 8, 2, 2, 21, 3, 2, 1, 0, 2023, 'Setembro', 'Noite', true, true),
      (35, 25, 8, 9, 24, 3, 2, 1, 0, 2022, 'Maio', 'Noite', false, false),
      (35, 6, 11, 3, 18, 3, 2, 1, 0, 2022, 'Maio', 'Noite', false, false),
      (36, 25, 8, 9, 24, 3, 2, 1, 0, 2023, 'Maio', 'Noite', false, false),
      (36, 6, 11, 3, 18, 3, 2, 1, 0, 2023, 'Maio', 'Noite', false, false),
      (37, 15, 31, 6, 22, 3, 2, 1, 0, 2022, 'Novembro', 'Noite', false, false),
      (37, 33, 30, 12, 28, 3, 2, 1, 0, 2022, 'Novembro', 'Noite', false, false),
      (38, 15, 31, 6, 22, 3, 2, 1, 0, 2023, 'Novembro', 'Noite', false, true),
      (38, 33, 30, 12, 28, 3, 2, 1, 0, 2023, 'Novembro', 'Noite', false, true),
      (4, 3, 18, 4, 8, 3, 2, 1, 0, 2023, 'Julho', 'Madrugada', false, false),
      (4, 4, 15, 10, 3, 3, 2, 1, 0, 2023, 'Julho', 'Madrugada', false, false),
      (5, 13, 26, 5, 11, 3, 2, 1, 0, 2022, 'Março', 'Amanhecer', false, false),
      (5, 30, 28, 11, 16, 3, 2, 1, 1, 2022, 'Março', 'Amanhecer', false, false),
      (6, 13, 26, 5, 11, 3, 2, 1, 0, 2023, 'Março', 'Amanhecer', false, false),
      (6, 30, 28, 11, 16, 3, 2, 1, 1, 2023, 'Março', 'Amanhecer', false, false),
      (7, 11, 4, 2, 19, 3, 2, 1, 0, 2022, 'Setembro', 'Amanhecer', true, true),
      (7, 22, 1, 8, 14, 3, 2, 1, 0, 2022, 'Setembro', 'Amanhecer', true, true),
      (8, 11, 4, 2, 19, 3, 2, 1, 0, 2023, 'Setembro', 'Amanhecer', true, true),
      (8, 22, 1, 8, 14, 3, 2, 1, 0, 2023, 'Setembro', 'Amanhecer', true, true),
      (9, 20, 9, 9, 26, 3, 2, 1, 0, 2022, 'Maio', 'Amanhecer', false, false),
      (9, 9, 7, 3, 20, 3, 2, 1, 0, 2022, 'Maio', 'Amanhecer', false, false)
    ) AS t(id_tempo, id_rodovia, id_local, id_descritivo, id_veiculo, pessoas_envolvidas, veiculos_envolvidos, feridos, obitos, ano, mes, fase_dia, feriado, dia_util)
"""


def _fixture_files() -> dict[int, dict[str, str]]:
    """The fixture CSVs in a content-addressed directory (same bytes →
    same path).  Every call then builds the same scan plans, so the
    pipeline's persists (one merged lane per year + the dimension
    aggregate) dedup into the CacheManager's existing entries instead of
    adding new ones per call."""
    import hashlib
    import os
    import shutil
    import tempfile

    from processo_etl_spark.etl import fixtures

    tmp = tempfile.mkdtemp(prefix="datatran_fixture_")
    files = fixtures.write_fixture(tmp)
    digest = hashlib.sha256()
    for name in sorted(os.listdir(tmp)):
        with open(os.path.join(tmp, name), "rb") as f:
            digest.update(name.encode() + b"\0" + f.read())
    dest = os.path.join(
        tempfile.gettempdir(), f"datatran_fixture_{digest.hexdigest()[:16]}"
    )
    try:
        os.rename(tmp, dest)
    except OSError:
        if not os.path.isdir(dest):
            raise
        shutil.rmtree(tmp)  # written by an earlier (or a concurrent) call
    return {
        year: {kind: os.path.join(dest, os.path.basename(p)) for kind, p in paths.items()}
        for year, paths in files.items()
    }


@register("etl_star_pipeline", oracle=_ETL_GOLDEN)
def etl_star_pipeline(spark, sf_dir):
    """The FULL reference pipeline (dag.py end-to-end): dirty raw CSVs →
    merge → clean → transform → union → star schema; returns the fact
    joined to dim_tempo (proves FK integrity in the returned frame).

    Inputs are the deterministic mini-datatran fixture (etl/fixtures.py),
    not the sf tables, so the result is constant across scale factors and
    the oracle is its golden table; the 11 notebook invariants are
    asserted in tests/test_etl_pipeline.py.
    """
    from processo_etl_spark.etl import pipeline

    ss = pipeline.run_pipeline(spark, _fixture_files())
    return (
        ss.fato_acidentes.join(F.broadcast(ss.dim_tempo), on="id_tempo")
        .select(
            "id_tempo", "id_rodovia", "id_local", "id_descritivo", "id_veiculo",
            "pessoas_envolvidas", "veiculos_envolvidos", "feridos", "obitos",
            "ano", "mes", "fase_dia", "feriado", "dia_util",
        )
        .orderBy("id_tempo", "id_rodovia", "id_local", "id_descritivo")
    )


# --- SQL-text interface (notebook/BI entry point, SURVEY §3 EP2/EP3) ------------
_SQL_DEMO = """
SELECT r_name AS region, o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, o_orderpriority
"""


@register("sql_interface_star_join", oracle=_SQL_DEMO)
def sql_interface_star_join(spark, sf_dir):
    """The engine's SQL-text entry point: register catalog views, run a
    SQL string (SURVEY §3 — the notebook/dashboard workload is SQL).
    The SAME text is the DuckDB oracle — dialect-shared by design."""
    from processo_etl_spark import catalog

    catalog.register_views(spark, sf_dir)
    return spark.sql(_SQL_DEMO)


# --- W1: surrogate-key dimension build ----------------------------------------
@register(
    "dim_build_priority",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(row_number() OVER (ORDER BY o_orderpriority, o_orderstatus) AS INT)
             AS id_dim
    FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
    """,
)
def dim_build_priority(spark, sf_dir):
    """W1 (dag.py:220-237): distinct + contiguous deterministic surrogate.

    row_number over the natural key replaces pandas reset_index+1 —
    deterministic at any partitioning (the global window is fine: a
    dimension is its distinct domain, small by construction).
    """
    return star.build_dimension(
        t(spark, sf_dir, "orders"),
        natural_key=["o_orderpriority", "o_orderstatus"],
        id_col="id_dim",
    )


# --- W1+J2-J6+D3: full star assembly -------------------------------------------
@register(
    "star_fact_assembly",
    oracle="""
    WITH dim_prio AS (
      SELECT o_orderpriority,
             CAST(row_number() OVER (ORDER BY o_orderpriority) AS INT) AS id_prio
      FROM (SELECT DISTINCT o_orderpriority FROM orders)),
    dim_status AS (
      SELECT o_orderstatus,
             CAST(row_number() OVER (ORDER BY o_orderstatus) AS INT) AS id_status
      FROM (SELECT DISTINCT o_orderstatus FROM orders))
    SELECT o.o_orderkey, p.id_prio, s.id_status,
           CAST(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(12,2)) AS DOUBLE) AS total
    FROM orders o
    LEFT JOIN dim_prio p ON o.o_orderpriority = p.o_orderpriority
    LEFT JOIN dim_status s ON o.o_orderstatus = s.o_orderstatus
    """,
)
def star_fact_assembly(spark, sf_dir):
    """J2-J6+W1 (dag.py:241-263): dims built, FKs attached via broadcast
    left joins on natural keys — the fact table never shuffles."""
    o = t(spark, sf_dir, "orders")
    dim_prio = star.build_dimension(o, ["o_orderpriority"], "id_prio")
    dim_status = star.build_dimension(o, ["o_orderstatus"], "id_status")
    fact = star.attach_fks(
        o,
        {
            "id_prio": (dim_prio, ["o_orderpriority"]),
            "id_status": (dim_status, ["o_orderstatus"]),
        },
    )
    return fact.select(
        "o_orderkey",
        "id_prio",
        "id_status",
        dec("o_totalprice").cast("double").alias("total"),
    )


# --- EP3: the BI star-join aggregate ---------------------------------------------
@register(
    "star_join_olap",
    oracle="""
    SELECT r.r_name, year(o.o_orderdate) AS ano,
           CAST(SUM(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE)
             AS receita,
           count(*) AS n_pedidos
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, ano
    """,
)
def star_join_olap(spark, sf_dir):
    """§3 EP3 (Looker workload): fact ⋈ dims → group → sum.

    Dims broadcast; the only shuffle is the final group-by (map-side
    partial aggregation first).
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").alias("ano"))
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("receita"),
            F.count(F.lit(1)).alias("n_pedidos"),
        )
    )


# --- snowflake: two-hop joins from the line-level fact -----------------------------
@register(
    "snowflake_parts_suppliers",
    oracle="""
    SELECT p.p_brand, s.s_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
                    * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))))
                AS DOUBLE) AS receita,
           count(*) AS n
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY p.p_brand, s.s_name
    """,
)
def snowflake_parts_suppliers(spark, sf_dir):
    """Line-grain fact joined to two dims at once (broadcast both)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    receita = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            F.sum(receita).cast("double").alias("receita"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- multi-join analytics (TPC-H Q3/Q5 shapes): join ordering + AQE ----------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
                    * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → fact join chain → top-10.

    The segment-filtered customer side broadcasts into orders; only the
    surviving orders shuffle against lineitem.  Filters reach both
    parquet scans (PushedFilters on o_orderdate / l_shipdate); the final
    top-10 is TakeOrderedAndProject, never a global sort.  Tie-broken by
    l_orderkey so the LIMIT is deterministic on both engines.
    """
    cutoff = F.lit("1997-06-01").cast("timestamp_ntz")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o_raw = t(spark, sf_dir, "orders")
    o = o_raw.filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    # Explicit broadcast of the doubly-filtered orders⨝customer side:
    # post-filter size estimates made the planner broadcast the
    # ~6× larger shipdate-filtered lineitem side instead (guide §3.1 —
    # estimates are often wrong after filters; hint the side you know
    # is small).  Scale gate: a blanket hint bypasses
    # autoBroadcastJoinThreshold and would OOM on a huge orders table,
    # so it only applies while a conservative bound on the broadcast
    # side fits the threshold — raw orders scan bytes (file-size
    # statistics, exact, no job) × 0.25, which over-states the real
    # side (~9 % of rows at TPC-H date×segment selectivity × 3 of 9
    # columns ≈ 0.03 of the scan, × a generous 8× parquet→in-memory
    # inflation).  Past the gate the planner keeps its own choice and
    # AQE can still rewrite to broadcast from TRUE materialized sizes.
    oc = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    try:
        thresh = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except ValueError:
        thresh = 10 * 1024 * 1024
    raw_bytes = int(
        o_raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if thresh > 0 and raw_bytes * 0.25 <= thresh:
        oc = F.broadcast(oc)
    return (
        li.join(
            oc,
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
                    * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join with a non-FK equality
    (customer nation = supplier nation).  Every dim side broadcasts;
    the only shuffles are fact-fact (orders ⋈ lineitem) and the final
    25-group aggregate — the plan a 1000-executor cluster wants.
    """
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
                    * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           CAST(CAST(ROUND(c.c_acctbal, 2) AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal,
           n.n_name, c.c_mktsegment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c_acctbal, n.n_name, c.c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): one quarter of orders,
    returned lineitems only, revenue per customer, top 20.

    The only wide exchange is fact-fact (lineitem ⋈ orders, both sides
    pre-filtered so the shuffle carries a quarter × returnflag slice);
    customer and nation broadcast.  Filters sit on the scan side of the
    joins so parquet row-group pruning sees them.
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            dec("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
    WITH j AS (
      SELECT CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
               * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))) AS rev,
             p.p_type LIKE 'PROMO%' AS promo
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
    SELECT CAST(SUM(CASE WHEN promo THEN rev ELSE 0 END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           (100.0 * CAST(CAST(SUM(CASE WHEN promo THEN rev ELSE 0 END)
                              AS DOUBLE) AS DOUBLE))
             / CAST(CAST(SUM(rev) AS DOUBLE) AS DOUBLE)
             AS promo_revenue_pct
    FROM j
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): one month of lineitem joined
    to part, conditional revenue ratio.

    part is a dim → broadcast hash join, zero shuffle on the fact; the
    aggregate is a single global row (partial-combined).  The percentage
    is emitted as a raw IEEE division of the two exact decimal sums —
    identical operands and operation order on both engines, so the
    double is bit-stable without any rounding convention.
    """
    p = t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("promo")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    zero = F.lit(0).cast("decimal(12,2)") * F.lit(1).cast("decimal(12,2)")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("promo"), rev).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (
            (F.lit(100.0) * F.col("promo_revenue").cast("double"))
            / F.col("total_revenue").cast("double")
        ).alias("promo_revenue_pct"),
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))
                    * CAST(ROUND(l_discount, 2) AS DECIMAL(12,2)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure scan-side filters,
    single global decimal aggregate — zero joins, zero wide shuffles.

    The year + discount-band + quantity predicates all push to the
    parquet scan (row-group stats prune whole chunks on l_shipdate);
    what remains is a partial-aggregated one-row reduce.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2))
                    * (1 - CAST(ROUND(l.l_discount, 2) AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive mixed-table predicates over a part
    join.

    part is broadcast; the disjunction splits into the part-only prefix
    (p_brand ∈ {12,23,34} — applied BEFORE the broadcast, shrinking the
    hash table) and the residual mixed predicate evaluated post-join.
    No shuffle touches lineitem.
    """
    p = t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    ).select("p_partkey", "p_brand", "p_size")
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
