"""Benchmark for the street-network engine; see README.md."""
