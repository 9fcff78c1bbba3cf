"""Benchmark of the datalake_spark engine: see README.md."""
