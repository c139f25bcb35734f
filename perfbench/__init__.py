"""Benchmark for the engine: seeded workloads, timing and tracing (see README.md)."""
