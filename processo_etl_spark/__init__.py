"""processo_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference pipeline ``gustavokf2003/Processo-ETL``
(an Airflow+pandas batch ETL; see ``SURVEY.md``).  Everything here is a
declarative DataFrame / Spark SQL program so Catalyst + Tungsten pick the
physical plan: predicate pushdown, column pruning, broadcast joins, AQE.

Layout
------
- ``session``    — SparkSession factory tuned for local[N] and cluster use.
- ``catalog``    — loaders / temp-view registry over a testdata directory.
- ``columns``    — the reserved prefix for engine-internal column names.
- ``sources``    — CSV (both reference dialects), JDBC upsert, HTTP landing.
- ``functions``  — scalar column library (cleaning, derivation, text surgery).
- ``operators``  — relational building blocks (joins, dedup, star schema).
- ``quality``    — the EDA/data-quality workload as an API (null audit,
                   value_counts, histograms, quantiles, constraint probes).
- ``etl``        — the end-to-end reference-parity pipeline (clean →
                   transform → union → star schema).
- ``ml``         — scale extensions: dedup (exact/MinHash-LSH/SimHash),
                   similarity search, text stats, multimodal plumbing.
- ``streaming``  — Structured Streaming jobs over the events table.
- ``plans``      — the registry binding every operator to a (PySpark,
                   oracle-SQL) pair consumed by ``__spark_entry__.py``.
"""

__version__ = "0.1.0"
