"""Benchmark harness for victor_spark: `python3 vbench/run.py --help`."""
