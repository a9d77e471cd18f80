"""Benchmark of openaleph_search_spark: see README.md."""
