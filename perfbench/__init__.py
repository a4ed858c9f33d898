"""Benchmark for the Delta engine; run perfbench/run.py (see README.md)."""
