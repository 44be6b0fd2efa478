"""Benchmark: the ingest and search workloads, and a traced tour of every
layer including ops.dedup; see README.md."""
