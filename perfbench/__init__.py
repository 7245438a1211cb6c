"""Benchmark harness: see METRICS.md and run.py."""
