"""Benchmark of the WAL consumer and the query engine; see run.py."""
