"""Benchmark harness for the search engine (see run.py)."""
