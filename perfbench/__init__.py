"""Benchmark of the reconciliation engine (see README.md)."""
