"""Benchmark for the etl_adsbx_spark engine; see perfbench/README.md."""
