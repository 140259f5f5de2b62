"""Benchmark for the package: four workloads timing what callers wait for, layer by layer."""
