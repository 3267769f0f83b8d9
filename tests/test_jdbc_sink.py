"""S8/S9 integration: DDL emitter + a REAL JDBC round-trip.

Uses Apache Derby in embedded in-memory mode — it ships on Spark's own
classpath (metastore dependency), so the append + insert-if-absent flow
(sources/jdbc.py) runs against an actual enforcing database with the
PK/FK DDL from sources/ddl.py, no external service needed.  This is the
engine-side equivalent of the reference's whole load stage
(dag.py:289-445: psycopg2 CREATE TABLEs + per-row ON CONFLICT loop).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from processo_etl_spark.sources import ddl, jdbc

DERBY_URL = "jdbc:derby:memory:etl_rt;create=true"
DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby(spark):
    """JVM-side Derby connection, or skip when the driver isn't shipped."""
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        return jvm.java.sql.DriverManager.getConnection(DERBY_URL)
    except Exception:  # noqa: BLE001 - driver absent → skip, not fail
        pytest.skip("embedded Derby JDBC driver not on Spark classpath")


def _specs():
    dim_status = T.StructType(
        [
            T.StructField("id_status", T.IntegerType(), False),
            T.StructField("o_orderstatus", T.StringType(), True),
        ]
    )
    fact = T.StructType(
        [
            T.StructField("id_status", T.IntegerType(), False),
            T.StructField("o_orderkey", T.LongType(), False),
            T.StructField("o_totalprice", T.DoubleType(), True),
        ]
    )
    return [
        ddl.TableSpec("dim_status", dim_status, primary_key=["id_status"]),
        ddl.TableSpec(
            "fact_orders",
            fact,
            primary_key=["id_status", "o_orderkey"],
            foreign_keys=[ddl.ForeignKey("id_status", "dim_status", "id_status")],
        ),
    ]


def test_ddl_reference_star_shape():
    """The emitter reproduces the reference star's constraint shape
    (dag.py:304-387): SERIAL dim PKs, composite fact PK, one FK per dim."""
    dims = {
        "tempo": T.StructType(
            [
                T.StructField("id_tempo", T.IntegerType(), False),
                T.StructField("hora", T.IntegerType(), True),
                T.StructField("mes", T.StringType(), True),
                T.StructField("feriado", T.BooleanType(), True),
            ]
        ),
        "local": T.StructType(
            [
                T.StructField("id_local", T.IntegerType(), False),
                T.StructField("uf", T.StringType(), True),
            ]
        ),
    }
    fact = T.StructType(
        [
            T.StructField("id_tempo", T.IntegerType(), False),
            T.StructField("id_local", T.IntegerType(), False),
            T.StructField("obitos", T.IntegerType(), True),
        ]
    )
    specs = ddl.star_schema_specs(dims, "fato_acidentes", fact)
    stmts = ddl.star_ddl(specs)
    assert stmts[0].startswith("CREATE TABLE dim_")
    assert "SERIAL PRIMARY KEY" in stmts[0]
    fact_sql = stmts[-1]
    assert "PRIMARY KEY (id_tempo, id_local)" in fact_sql
    assert "FOREIGN KEY (id_tempo) REFERENCES dim_tempo(id_tempo)" in fact_sql
    assert "FOREIGN KEY (id_local) REFERENCES dim_local(id_local)" in fact_sql
    drops = ddl.drop_ddl(specs)
    assert drops[0] == "DROP TABLE IF EXISTS fato_acidentes"  # fact first


def test_ddl_rejects_fk_cycle():
    s = T.StructType([T.StructField("id", T.IntegerType(), False)])
    a = ddl.TableSpec("a", s, foreign_keys=[ddl.ForeignKey("id", "b", "id")])
    b = ddl.TableSpec("b", s, foreign_keys=[ddl.ForeignKey("id", "a", "id")])
    with pytest.raises(ValueError, match="cycle"):
        ddl.star_ddl([a, b])


def test_jdbc_roundtrip_upsert_insert_only(spark):
    """CREATE via emitted DDL → bulk append → anti-join upsert → verify:
    overlapping keys skipped, new keys landed, FK order respected."""
    conn = _derby(spark)
    st = conn.createStatement()
    specs = _specs()
    for stmt in ddl.star_ddl(specs, dialect="derby"):
        st.execute(stmt)

    dim = spark.createDataFrame(
        [(1, "O"), (2, "F"), (3, "P")], ["id_status", "o_orderstatus"]
    )
    fact_v1 = spark.createDataFrame(
        [(1, 100, 10.0), (2, 200, 20.0)],
        ["id_status", "o_orderkey", "o_totalprice"],
    )
    jdbc.write_append(dim, DERBY_URL, "dim_status", DERBY_PROPS)
    jdbc.write_append(fact_v1, DERBY_URL, "fact_orders", DERBY_PROPS)

    # Second batch: one duplicate key (1,100) + two new rows.
    fact_v2 = spark.createDataFrame(
        [(1, 100, 99.0), (2, 201, 21.0), (3, 300, 30.0)],
        ["id_status", "o_orderkey", "o_totalprice"],
    )
    jdbc.upsert_insert_only(
        fact_v2, DERBY_URL, "fact_orders",
        key_cols=["id_status", "o_orderkey"], properties=DERBY_PROPS,
    )

    back = spark.read.jdbc(DERBY_URL, "fact_orders", properties=DERBY_PROPS)
    rows = {(r.ID_STATUS, r.O_ORDERKEY): r.O_TOTALPRICE for r in back.collect()}
    assert len(rows) == 4
    assert rows[(1, 100)] == 10.0  # conflict row NOT overwritten
    assert rows[(2, 201)] == 21.0 and rows[(3, 300)] == 30.0

    # FK is genuinely enforced: inserting a fact with an unknown dim fails.
    with pytest.raises(Exception, match="(?i)foreign key|constraint"):
        st.execute(
            "INSERT INTO fact_orders VALUES (99, 999, 1.0)"
        )
    for stmt in ddl.drop_ddl(specs, if_exists=False):
        st.execute(stmt)
    conn.close()


def test_jdbc_roundtrip_live_postgres(spark):
    """The SAME S8/S9 flow against a LIVE PostgreSQL — the reference's
    actual target (dag.py:293-299 psycopg2) — gated on availability
    so the real sink is exercised wherever one exists: runs only when
    SPARK_GRAFT_PG_URL names a reachable server
    (e.g. jdbc:postgresql://host:5432/db?user=u&password=p) AND the
    Postgres JDBC driver is on Spark's classpath.  This container ships
    neither, so the default run records an environment skip — the
    Derby roundtrip above proves the engine-side semantics (DDL order,
    append, anti-join insert-if-absent, FK enforcement) unconditionally;
    this test closes the dialect fidelity gap wherever a Postgres
    exists."""
    import os

    url = os.environ.get("SPARK_GRAFT_PG_URL")
    if not url:
        pytest.skip("SPARK_GRAFT_PG_URL not set (no live PostgreSQL)")
    props = {"driver": "org.postgresql.Driver"}
    try:
        spark._jvm.java.lang.Class.forName(props["driver"])
    except Exception:  # noqa: BLE001
        pytest.skip("PostgreSQL JDBC driver not on Spark classpath")

    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    specs = _specs()
    for stmt in ddl.drop_ddl(specs, if_exists=True):
        st.execute(stmt)
    for stmt in ddl.star_ddl(specs, dialect="postgresql"):
        st.execute(stmt)

    dim = spark.createDataFrame(
        [(1, "O"), (2, "F"), (3, "P")], ["id_status", "o_orderstatus"]
    )
    fact_v1 = spark.createDataFrame(
        [(1, 100, 10.0), (2, 200, 20.0)],
        ["id_status", "o_orderkey", "o_totalprice"],
    )
    jdbc.write_append(dim, url, "dim_status", props)
    jdbc.write_append(fact_v1, url, "fact_orders", props)
    fact_v2 = spark.createDataFrame(
        [(1, 100, 99.0), (2, 201, 21.0), (3, 300, 30.0)],
        ["id_status", "o_orderkey", "o_totalprice"],
    )
    jdbc.upsert_insert_only(
        fact_v2, url, "fact_orders",
        key_cols=["id_status", "o_orderkey"], properties=props,
    )
    back = spark.read.jdbc(url, "fact_orders", properties=props)
    rows = {(r.id_status, r.o_orderkey): r.o_totalprice for r in back.collect()}
    assert len(rows) == 4
    assert rows[(1, 100)] == 10.0  # conflict row NOT overwritten
    assert rows[(2, 201)] == 21.0 and rows[(3, 300)] == 30.0
    with pytest.raises(Exception, match="(?i)foreign key|constraint"):
        st.execute("INSERT INTO fact_orders VALUES (99, 999, 1.0)")
    for stmt in ddl.drop_ddl(specs, if_exists=False):
        st.execute(stmt)
    conn.close()
