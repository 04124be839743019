"""Benchmark of the database_transportor_spark engine; run ``perfbench/run.py``."""
