"""Benchmark of record for the analytics engine (see perfbench/README.md)."""
