"""Benchmark for the full-text engine; run perfbench/run.py."""
