"""Benchmark of the transit engine: see run.py."""
