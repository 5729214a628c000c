"""Benchmark harness for distributed_computing_spark; see run.py."""
