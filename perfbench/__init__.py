"""Benchmark of flume_spark: ``python3 perfbench/run.py --help``."""
