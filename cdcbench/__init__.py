"""Benchmark of the CDC engine: see run.py."""
