"""Benchmark of alphalens_spark: see run.py."""
