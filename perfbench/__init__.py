"""Benchmark of the apache_arrow_spark engine; run with ``python3 perfbench/run.py``."""
