"""Benchmark of the query catalog: see ``run.py``."""
