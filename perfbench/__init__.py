"""Benchmark of the wrangling library: see METRICS.md."""
