"""Source catalog: named parquet tables in a scale-factor directory.

Mirrors the reference's config-driven source registry (urls.json →
year→file map, reference dag.py:449-466) as a table→path catalog over the
driver testdata layout (``TESTDATA.md``).  Reads are plain
``spark.read.parquet`` so Catalyst gets scan-level column pruning and
predicate pushdown for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a lazy DataFrame.

    ``events.ts`` has shipped in two physical forms across testdata
    generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    reader surfaces only as a nanosecond long via ``nanosAsLong`` — and
    plain TIMESTAMP_NTZ.  The shim branches on the dtype actually read:
    only a ``bigint`` ts is rebuilt as a microsecond
    TIMESTAMP_NTZ (integer division, no double round-trip — ns epoch >
    2^53); a native timestamp passes through untouched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
