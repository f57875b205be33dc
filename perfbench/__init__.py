"""Benchmark for the parquetaivectorsearch_spark engine; see README.md."""
