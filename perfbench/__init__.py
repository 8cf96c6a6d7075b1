"""Benchmark of dcc_validate_metadata_spark; run ``perfbench/run.py``."""
