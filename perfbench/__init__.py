"""Benchmark of the PySpark engine: see README.md in this directory."""
