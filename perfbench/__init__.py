"""Benchmark for spark-amadeus; the entry point is ``perfbench/run.py``."""
