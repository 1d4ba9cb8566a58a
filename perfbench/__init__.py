"""Benchmark of the replication lifecycle and the query registry (see run.py)."""
