"""Benchmark of the spark_validate engine; see README.md."""
