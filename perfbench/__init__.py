"""Benchmark for openie_spark: see run.py."""
