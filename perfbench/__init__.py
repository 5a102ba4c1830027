"""Benchmark of the CDC-to-serving path and of cold/warm declared queries."""
