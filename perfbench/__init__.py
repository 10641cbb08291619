"""Benchmark of the recommender pipeline (see run.py)."""
