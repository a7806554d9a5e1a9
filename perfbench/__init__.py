"""Benchmark for the toyocr_spark extraction engine (see README.md)."""
