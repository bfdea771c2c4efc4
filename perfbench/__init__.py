"""Benchmark of the streamprocess_spark engine; entry point: run.py."""
