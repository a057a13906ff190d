"""Layered benchmark of the pagerank_spark engine (see run.py)."""
