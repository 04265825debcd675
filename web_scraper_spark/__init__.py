"""web_scraper_spark — a PySpark-native URL-frontier & fetch-scheduler engine.

A from-scratch, Spark-first re-expression of the semantics of the C crawler
``luckys-lnz/web-scraper`` (reference read-only at /root/reference): the
per-URL fetch/extract/cache pipeline becomes distributed set operators over
snapshot-committed tables:

- partition-sharded URL-seen set over canonicalized+SHA1 URLs with one
  bloom per shard (operators/seen.py),
- host-bucketed politeness priority queue with robots.txt caching and
  per-host crawl-delay budgets (operators/scheduler.py, operators/robots.py),
- link / image / caption extraction as vectorized pandas/Arrow UDFs
  (functions/textops.py, functions/imageops.py),
- Iceberg-style checkpoint tables with per-partition lineage + metrics and
  byte-identical resume (catalog.py, crawl.py).

No RDDs, no row-at-a-time Python UDFs: everything is DataFrame/SQL plus
Arrow-vectorized pandas UDFs (pandas_udf / applyInPandas / mapInPandas).
"""

__version__ = "0.1.0"
