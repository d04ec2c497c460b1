"""Benchmark for the orc_spark encode/decode engine (see run.py)."""
