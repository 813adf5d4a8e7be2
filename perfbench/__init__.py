"""Benchmark for the gstored_spark store lifecycles (see README.md)."""
