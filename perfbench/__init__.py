"""Benchmark of the transcript pipeline; entry point ``perfbench/run.py``."""
