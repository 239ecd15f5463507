"""Benchmark harness for the datafusion_uwheel_spark package (see README.md)."""
