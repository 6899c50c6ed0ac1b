"""Benchmark of the engine: workloads, tracing and metrics (see DESIGN.md)."""
