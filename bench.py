#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "urls_per_sec": ...}

The headline mix covers the engine's two surfaces:
- crawl-side: a generation-shaped stand-in over a synthetic frontier
  (identity → plain seen anti-join → politeness admission), the
  fetch+extract stage, and the engine's seen-membership probe
  (filter_unseen over a bucket-pure seen table) — the primary
  BASELINE.json metric (URLs fetched+deduped per second) comes from these;
- pipeline-side: relational/agg/window queries + dedup/similarity/text ops
  at the given scale factor.

Scaling evidence (local[8] vs local[32]) is produced by
scripts/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Bench-only: tmpfs shuffle scratch (see session.get_spark) — keeps bench
# numbers free of host-disk contention; library consumers don't inherit it.
os.environ.setdefault("WSS_SHM_LOCAL_DIR", "1")

FRONTIER_URLS = int(os.environ.get("WSS_BENCH_FRONTIER", "2000000"))
SEEN_URLS = int(os.environ.get("WSS_BENCH_SEEN", "1000000"))


def synthetic_frontier(spark, n: int, partitions: int):
    """n virtual URLs spread over 1000 hosts with a hot host (~30%) —
    generated, never materialized driver-side (the 10^10 pattern)."""
    r = spark.range(0, n, 1, partitions)
    host = (
        F.when(F.pmod("id", 10) < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), 997) + 1)
    )
    return r.select(
        F.concat(
            F.lit("http://h"), host.cast("string"), F.lit(".bench.test/p/"), F.col("id").cast("string")
        ).alias("url_canon"),
        F.lit(1).alias("priority"),
    )


def bench_crawl_generation(spark):
    """One generation-shaped pass: identity → seen anti-join (bloom path
    skipped at this scale: plain sort-merge anti) → admission → count."""
    from web_scraper_spark.functions.urlops import host_expr, sha1_expr, shard_expr
    from web_scraper_spark.operators.scheduler import admit_batch

    fr = synthetic_frontier(spark, FRONTIER_URLS, CPUS * 2)
    fr = (
        fr.withColumn("url_sha1", sha1_expr(F.col("url_canon")))
        .withColumn("host", host_expr(F.col("url_canon")))
        .withColumn("shard", shard_expr(F.col("url_sha1"), 4096))
    )
    seen = (
        spark.range(0, SEEN_URLS, 1, CPUS * 2)
        .select(
            F.sha1(
                F.concat(
                    F.lit("http://h"),
                    (F.when(F.pmod("id", 10) < 3, F.lit(0)).otherwise(F.pmod(F.xxhash64("id"), 997) + 1)).cast("string"),
                    F.lit(".bench.test/p/"),
                    F.col("id").cast("string"),
                )
            ).alias("url_sha1")
        )
    )
    candidates = fr.join(seen, "url_sha1", "left_anti")
    state = spark.createDataFrame([], "host string, min_delay double, current_delay double, last_fetch double, consecutive_errors int")
    admitted = admit_batch(candidates, state, t0=0.0, horizon=8.0, salt=16)
    return admitted.count()


FETCH_URLS = int(os.environ.get("WSS_BENCH_FETCH", "40000"))


def bench_crawl_fetch_extract(spark, n: int | None = None):
    """The generation's Arrow/Python stage: synthetic fetch (mapInPandas)
    → title/links extraction → canonicalize → sha1. This is where real
    crawl time goes (network+parse in production); Python workers are
    separate processes, so this stage scales with cores independent of
    JVM memory-bandwidth limits."""
    from web_scraper_spark import synth
    from web_scraper_spark.functions import textops
    from web_scraper_spark.functions.urlops import canonicalize, sha1_expr
    from web_scraper_spark.sources import fetch as fetch_src

    n = n or FETCH_URLS
    web = synth.SynthWebConfig(n_hosts=64, pages_per_host=max(n // 64, 1))
    urls = spark.range(0, n, 1, CPUS * 2).select(
        F.concat(
            F.lit("http://h"),
            F.pmod("id", 64).cast("string"),
            F.lit(".example.test/p/"),
            (F.col("id") / 64).cast("long").cast("string"),
        ).alias("url_canon")
    )
    fetched = fetch_src.fetch_pages(urls, web)
    # the crawl's actual extract stage: ONE combined analyze UDF (single
    # Arrow transfer + single robust parse per doc), links exploded from
    # the struct — not per-column UDFs
    links = fetched.withColumn("_an", textops.analyze_udf("content")).select(
        "url_canon",
        F.col("_an.title").alias("title"),
        F.explode(F.col("_an.links")).alias("href"),
    )
    from web_scraper_spark.functions.urlops import junk_href

    out = links.filter(~junk_href(F.col("href"))).select(
        sha1_expr(canonicalize(F.col("url_canon"), F.col("href"))).alias("sha1")
    )
    return out.count()


def make_bench_seen_bucketed(spark):
    """Seen membership (filter_unseen): 400k candidate keys against a
    200k-key seen table committed bucket-pure over 64 shards — per-shard
    bloom probe, then an exact check that reads only the touched shards'
    files. Table + sketches are built once during setup (untimed — they
    are crawl-commit costs, not per-probe costs); the timed thunk is the
    per-generation probe."""
    import atexit
    import shutil
    import tempfile

    from web_scraper_spark.catalog import Catalog
    from web_scraper_spark.functions.urlops import shard_expr
    from web_scraper_spark.operators import seen as seen_ops

    n_seen, n_cand, shards = 200_000, 400_000, 64
    root = tempfile.mkdtemp(prefix="wss_bench_seen_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    seen = (
        spark.range(0, n_seen, 1, CPUS)
        .select(F.sha1(F.col("id").cast("string")).alias("url_sha1"))
        .withColumn("shard", shard_expr(F.col("url_sha1"), shards))
    )
    cat = Catalog(spark, root)
    cat.stage_append_cow("seen", seen, "shard")
    cat.commit(generation=0, t0=0.0)
    bf = cat.bucket_files("seen")
    sk = seen_ops.build_sketches(seen, capacity=1 << 14).persist()
    sk.count()
    cand = (
        spark.range(0, n_cand, 1, CPUS)
        .select(F.sha1(F.col("id").cast("string")).alias("url_sha1"))
        .withColumn("shard", shard_expr(F.col("url_sha1"), shards))
    )

    def thunk():
        return seen_ops.filter_unseen(cand, None, sk, bucket_files=bf).count()

    return thunk


def bench_queries(spark):
    """Name → thunk returning a row count (forces full execution)."""
    import __spark_entry__ as em

    Q = em.queries()

    def run(name):
        return lambda: Q[name](spark, SF_DIR).count()

    return {
        "crawl_generation": lambda: bench_crawl_generation(spark),
        "crawl_fetch_extract": lambda: bench_crawl_fetch_extract(spark),
        "seen_bucketed_dedup": make_bench_seen_bucketed(spark),
        "pricing_summary": run("pricing_summary"),
        "trend_topk": run("trend_topk"),
        "link_2hop": run("link_2hop"),
        "frontier_admission": run("frontier_admission"),
        "priority_reorder": run("priority_reorder"),
        "host_authority": run("host_authority"),
        "url_quality": run("url_quality"),
        "sentiment": run("sentiment"),
        "meta_pairs": run("meta_pairs"),
        "lang_id": run("lang_id"),
        "quality_score": run("quality_score"),
        "simhash": run("simhash"),
        "simhash_pairs": run("simhash_pairs"),
        "dedup_keep_set": run("dedup_keep_set"),
        "corpus_clean": run("corpus_clean"),
        "dup_clusters": run("dup_clusters"),
        "cluster_reps": run("cluster_reps"),
        "cosine_dup_pairs": run("cosine_dup_pairs"),
        "ann_brute_topk": run("ann_brute_topk"),
        "embedding_sig_neardup": run("embedding_sig_neardup"),
        "hard_negatives": run("hard_negatives"),
        "pair_hard_negatives": run("pair_hard_negatives"),
        "image_invariants": run("image_invariants"),
        "image_quality": run("image_quality"),
        "pair_corpus_report": run("pair_corpus_report"),
        "pair_batch_sample": run("pair_batch_sample"),
        "image_neardup_lsh": run("image_neardup_lsh"),
        "image_batch_buckets": run("image_batch_buckets"),
        "pair_keep_set": run("pair_keep_set"),
        "pair_corpus_clean": run("pair_corpus_clean"),
        "pair_corpus_clean_quality": run("pair_corpus_clean_quality"),
        "pair_corpus_clean_aligned": run("pair_corpus_clean_aligned"),
        "pair_corpus_clean_lang": run("pair_corpus_clean_lang"),
        "pair_corpus_clean_safe": run("pair_corpus_clean_safe"),
        "image_bucket_resize": run("image_bucket_resize"),
        "image_augment": run("image_augment"),
        "dedup_keep_set_incremental": run("dedup_keep_set_incremental"),
        "pair_keep_set_incremental": run("pair_keep_set_incremental"),
        "frame_neardup": run("frame_neardup"),
        "audio_keep_set": run("audio_keep_set"),
        "doc_repetition": run("doc_repetition"),
        "token_budget_sample": run("token_budget_sample"),
        "pack_sequences": run("pack_sequences"),
        "mixture_sample": run("mixture_sample"),
        "temperature_mixture": run("temperature_mixture"),
        "decontaminate": run("decontaminate"),
        "pii_scrub": run("pii_scrub"),
        "boilerplate_scrub": run("boilerplate_scrub"),
        "blocklist_filter": run("blocklist_filter"),
        "lm_score": run("lm_score"),
        "vocab_topk": run("vocab_topk"),
        "oov_rate": run("oov_rate"),
        "tfidf_topk": run("tfidf_topk"),
        "corpus_drift": run("corpus_drift"),
        "vocab_drift": run("vocab_drift"),
        "pair_alignment": run("pair_alignment"),
        "semdedup": run("semdedup"),
        "curation_pipeline": run("curation_pipeline"),
        "curation_pipeline_lm": run("curation_pipeline_lm"),
        "shard_positions": run("shard_positions"),
        "corpus_split": run("corpus_split"),
        "curated_shard_manifest": run("curated_shard_manifest"),
        "pair_shard_manifest": run("pair_shard_manifest"),
        "chunk_docs": run("chunk_docs"),
    }


RUNS = int(os.environ.get("WSS_BENCH_RUNS", "3"))


def main():
    from web_scraper_spark.session import get_spark

    spark = get_spark("wss-bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # n>=3 runs per query, report MEDIANS + spread (round-2 verdict item 2:
    # a single run cannot distinguish a real regression from machine load).
    # `value` = sum of per-query medians — comparable to the old single-run
    # suite time, minus warmup/load noise.
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    from web_scraper_spark.functions.dedupops import unpersist_op_caches

    for name, thunk in bench_queries(spark).items():
        ts = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            counts[name] = thunk()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        timings[name] = round(ts[len(ts) // 2], 3)
        spread[name] = [round(ts[0], 3), round(ts[-1], 3)]
        # release every operator-registered persist between queries so the
        # suite's executor storage stays flat (repeat runs of ONE query
        # still share caches — the within-query reuse the persists exist
        # for; only cross-query accumulation is dropped)
        unpersist_op_caches()
    total = round(sum(timings.values()), 3)
    urls_per_sec = round((FRONTIER_URLS) / timings["crawl_generation"], 1)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full record first (spread/row_counts are diagnostics for humans), then
    # a COMPACT line LAST so a tail-capture of bounded size always ends with
    # a parseable summary (round-3 verdict item 3: BENCH_r03 `parsed` was
    # null because the single line outgrew the driver's tail buffer).
    print(
        json.dumps(
            {
                "metric": "headline suite time, sum of per-query medians over "
                f"{RUNS} runs (crawl generation + dedup + pipeline ops)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "runs": RUNS,
                "sf": sf_val,
                "urls_per_sec": urls_per_sec,
                "frontier_urls": FRONTIER_URLS,
                "cpus": CPUS,
                "row_counts": counts,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline suite time, sum of per-query medians over "
                f"{RUNS} runs (crawl generation + dedup + pipeline ops)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": RUNS,
                "sf": sf_val,
                "urls_per_sec": urls_per_sec,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
