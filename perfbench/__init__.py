"""End-to-end benchmark and per-layer tracing for web_scraper_spark.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads and metrics.
"""
