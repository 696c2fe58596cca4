"""Benchmark of the streaming job and the analytics query catalog (see README.md)."""
