"""Benchmark of csvplus_spark; run ``python3 perfbench/run.py --help``."""
