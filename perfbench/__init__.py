"""Benchmark of curies_spark: workloads, generators, checks and tracing."""
