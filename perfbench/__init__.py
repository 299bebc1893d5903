"""Benchmark of the oscar_spark engine; see BENCHMARK.json and run.py."""
