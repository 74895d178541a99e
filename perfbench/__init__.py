"""Benchmark of the quad store and operator library; see README.md."""
