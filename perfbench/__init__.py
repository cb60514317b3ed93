"""Benchmark for csp_spark: see run.py and BENCHMARK.json."""
