"""Workload benchmark for deimos_spark: see perfbench/README.md."""
