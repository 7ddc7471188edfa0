"""Benchmark of the knowledge-graph engine: see README.md."""
