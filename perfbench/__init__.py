"""Benchmark of legal_ner_spark's KG construction: three workloads run
through the package's public entry points, end-to-end metrics from
untraced runs and per-layer metrics from traced runs.  Entry point:
``python3 perfbench/run.py --help``."""
