"""Crawl-engine benchmark: three workloads, an independent oracle and a
traced per-layer run.  Entry point: ``python3 perfbench/run.py``."""
