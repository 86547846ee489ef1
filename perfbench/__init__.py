"""Benchmark of the tsprofiler_spark engine; see README.md."""
