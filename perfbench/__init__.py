"""Benchmark of the copy, sketch, maintenance and query layers."""
