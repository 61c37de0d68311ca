"""Benchmark for the etl_instagram_spark engine; see run.py."""
