"""Benchmark for fastlink_spark: see README.md in this directory."""
