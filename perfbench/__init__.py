"""Benchmark of the mosaic engine; see ``run.py``."""
