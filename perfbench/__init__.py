"""Benchmark of the engine's pipelines; see README.md."""
