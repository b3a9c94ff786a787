"""Benchmark for frizbee-spark; entry point ``perfbench/run.py``."""
