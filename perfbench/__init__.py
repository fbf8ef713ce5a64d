"""Benchmark of the medallion engine: see ``perfbench/README.md``."""
