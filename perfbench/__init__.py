"""Benchmark for the transcript extraction engine; run ``python3 perfbench/run.py --help``."""
