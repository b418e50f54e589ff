"""Benchmark of the pyspark_engine driver contract and keyed streaming
operators; run with ``python3 perfbench/run.py --help``."""
