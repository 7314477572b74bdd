"""Benchmark of the replication night, warehouse SQL and curation/graph
queries; see ``run.py``."""
