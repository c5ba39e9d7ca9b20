"""Benchmark harness of the tiled store (see run.py)."""
