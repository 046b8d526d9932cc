"""Benchmark of the miekki dedup engine; see README.md."""
