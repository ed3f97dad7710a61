"""Benchmark harness for the dedup pipeline (see README.md)."""
