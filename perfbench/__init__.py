"""Benchmark of the processo_etl_spark engine; see run.py."""
