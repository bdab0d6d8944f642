"""Benchmark for the ETL engine; run ``python3 perfbench/run.py --help``."""
