"""Benchmark for zerox_spark: see perfbench/run.py."""
