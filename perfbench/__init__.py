"""Benchmark of the batch and streaming paths (see README.md)."""
