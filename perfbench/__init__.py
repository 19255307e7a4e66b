"""Benchmark for tantivy_search_spark; run perfbench/run.py."""
