"""Benchmark of the CDC engine: see NOTE.md and run.py."""
