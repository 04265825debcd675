"""dedup_index maintenance by the crawl loop (r4 verdict item 1).

The contract: every generation appends (id=url, fp, sh, shard) rows for
the pages it commits, bucket-pure; an incremental "train on new data only"
pass over a later batch consumes the index (dedup_keep_ids_incremental
old_index=...) and NEVER rescans shipped pages' content — proven here at
the plan level via DataFrame.inputFiles().
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def two_phase_cat(spark, tmp_path_factory):
    """Phase A: 2-host crawl to drain (index maintained). Phase B: reseed
    2 more hosts against the 4-host web, resume to drain."""
    from web_scraper_spark import synth
    from web_scraper_spark.config import CrawlConfig
    from web_scraper_spark.crawl import reseed_crawl, resume_crawl, run_crawl

    web_a = synth.SynthWebConfig(n_hosts=2, pages_per_host=4)
    web_b = synth.SynthWebConfig(n_hosts=4, pages_per_host=4)
    cfg = CrawlConfig(
        max_pages=0, max_depth=32, horizon=30.0, num_shards=8, num_host_buckets=8
    )
    root = str(tmp_path_factory.mktemp("dedup_index") / "cat")
    seeds_a = spark.createDataFrame(
        [("http://h0.example.test/p/0", 1), ("http://h1.example.test/p/0", 1)],
        ["url", "priority"],
    )
    cat = run_crawl(spark, root, seeds_a, cfg, web_a, max_generations=20)
    s1 = cat.current_snapshot()
    seeds_b = spark.createDataFrame(
        [("http://h2.example.test/p/0", 1), ("http://h3.example.test/p/0", 1)],
        ["url", "priority"],
    )
    reseed_crawl(cat, seeds_b, cfg)
    resume_crawl(cat, cfg, web_b, max_generations=20)
    return cat, cfg, s1


class TestDedupIndexMaintained:
    def test_index_rows_track_pages_and_values_match(self, spark, two_phase_cat):
        from web_scraper_spark.crawl import _dedup_index_rows

        cat, cfg, _s1 = two_phase_cat
        snap = cat.current_snapshot()
        assert snap.tables["dedup_index"]["rows"] == snap.tables["pages"]["rows"]
        # bucket-pure lineage (O(delta) appends + prunable reads)
        assert "buckets" in snap.tables["dedup_index"]
        # values = exactly what the shared kernel derives from pages
        idx = {
            (r["id"], r["fp"], r["sh"])
            for r in cat.read("dedup_index").collect()
        }
        want = {
            (r["id"], r["fp"], r["sh"])
            for r in _dedup_index_rows(cat.read("pages"), cfg.num_shards).collect()
        }
        assert idx == want

    def test_incremental_keepset_never_opens_old_pages_files(
        self, spark, two_phase_cat
    ):
        """The lineage proof: the keep-set plan's input files contain the
        phase-B pages delta + the phase-A INDEX files — and not one
        phase-A pages file (old content never rescanned)."""
        from web_scraper_spark.functions import dedupops

        cat, _cfg, s1 = two_phase_cat
        new_pages = cat.read_incremental("pages", s1)
        assert new_pages is not None
        old_index = cat.read("dedup_index", s1)
        # the consumed old side IS the S1 index table and nothing else
        # (checked on the fresh read: the operator persists it, and
        # inputFiles() does not see through InMemoryRelation)
        s1_idx_files = {
            f["path"].split("/")[-1] for f in s1.tables["dedup_index"]["files"]
        }
        idx_scanned = {p.split("/")[-1] for p in old_index.inputFiles()}
        assert idx_scanned and idx_scanned <= s1_idx_files
        new_docs = new_pages.select(
            F.col("url"), F.col("content").cast("string").alias("text")
        )
        keep = dedupops.dedup_keep_ids_incremental(
            None, new_docs, max_hamming=3, id_col="url", old_index=old_index
        )
        # every UNCACHED scan in the keep-set plan reads post-S1 files
        # only — in particular not one phase-A pages file (old content
        # never rescanned). A regression that re-reads old pages would
        # surface here as a fresh FileScan of an S1-era file.
        s1_all_files = {
            f["path"].split("/")[-1]
            for t in s1.tables.values()
            for f in t["files"]
        }
        scanned = {p.split("/")[-1] for p in keep.inputFiles()}
        assert scanned, "expected at least the new-pages delta scan"
        assert not (scanned & s1_all_files), scanned & s1_all_files
        assert new_pages.count() > 0
        assert keep.count() > 0
        dedupops.unpersist_op_caches()
