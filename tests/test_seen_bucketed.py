"""Shard-aligned seen membership over a bucket-pure table.

- exactness: filter_unseen ≡ the pure anti-join on every input, with
  and without sketches;
- locality: a shard with no candidates (or whose candidates are all
  bloom-certain-new) NEVER opens a seen file — proven by poisoning the
  untouched shards' manifest paths;
- lineage: the crawl commits seen bucket-pure, per-generation deltas add
  files ONLY under the touched shards, and compaction/clear_url keep the
  bucket lineage alive.
"""

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.catalog import Catalog
from web_scraper_spark.functions.urlops import with_url_identity
from web_scraper_spark.operators import seen as seen_ops

NUM_SHARDS = 8


@pytest.fixture(scope="module")
def urls(spark):
    df = spark.createDataFrame(
        [(f"http://h{i % 5}.test/p/{i}",) for i in range(400)], ["url"]
    )
    return with_url_identity(df, num_shards=NUM_SHARDS).cache()


def _bucketed_seen(spark, tmpdir, keys_df):
    """Commit a seen table bucket-pure via the real catalog machinery and
    return (catalog, bucket_files)."""
    cat = Catalog(spark, str(tmpdir))
    cat.stage_append_cow("seen", keys_df.select("url_sha1", "shard"), "shard")
    cat.commit(generation=0, t0=0.0)
    return cat, cat.bucket_files("seen")


class TestExactness:
    def test_equals_antijoin_with_sketch(self, spark, urls, tmp_path):
        half = urls.filter("pmod(crc32(url), 2) = 0")
        seen = half.select("url_sha1", "shard")
        _, bf = _bucketed_seen(spark, tmp_path / "c1", seen)
        sk = seen_ops.build_sketches(seen, capacity=1024)
        got = {
            r["url"]
            for r in seen_ops.filter_unseen(urls, None, sk, bucket_files=bf).collect()
        }
        want = {
            r["url"]
            for r in urls.join(seen.select("url_sha1"), "url_sha1", "left_anti").collect()
        }
        assert got == want

    def test_equals_antijoin_without_sketch(self, spark, urls, tmp_path):
        third = urls.filter("pmod(crc32(url), 3) = 0")
        seen = third.select("url_sha1", "shard")
        _, bf = _bucketed_seen(spark, tmp_path / "c2", seen)
        got = {
            r["url"]
            for r in seen_ops.filter_unseen(urls, None, None, bucket_files=bf).collect()
        }
        want = {
            r["url"]
            for r in urls.join(seen.select("url_sha1"), "url_sha1", "left_anti").collect()
        }
        assert got == want

    def test_multi_delta_append(self, spark, urls, tmp_path):
        """Two stage_append_cow generations → per-shard file lists with >1
        file; the probe must union them."""
        a = urls.filter("pmod(crc32(url), 4) = 0").select("url_sha1", "shard")
        b = urls.filter("pmod(crc32(url), 4) = 1").select("url_sha1", "shard")
        cat = Catalog(spark, str(tmp_path / "c3"))
        cat.stage_append_cow("seen", a, "shard")
        cat.commit(generation=0, t0=0.0)
        cat.stage_append_cow("seen", b, "shard")
        cat.commit(generation=1, t0=0.0)
        bf = cat.bucket_files("seen")
        assert any(len(v) > 1 for v in bf.values()), "expected multi-file shards"
        seen_all = a.unionByName(b)
        got = {
            r["url"]
            for r in seen_ops.filter_unseen(urls, None, None, bucket_files=bf).collect()
        }
        want = {
            r["url"]
            for r in urls.join(seen_all.select("url_sha1"), "url_sha1", "left_anti").collect()
        }
        assert got == want


class TestLocality:
    def test_untouched_shards_never_opened(self, spark, urls, tmp_path):
        """Candidates restricted to a subset of shards: every other
        shard's manifest path is poisoned — if the probe opened it, the
        job would fail. This is the file-level proof that a generation
        reads O(candidate shards) of seen, not the table."""
        half = urls.filter("pmod(crc32(url), 2) = 0")
        seen = half.select("url_sha1", "shard")
        _, bf = _bucketed_seen(spark, tmp_path / "c4", seen)
        touched = {"0", "1", "2"}
        cand = urls.filter(F.col("shard").isin([0, 1, 2]))
        poisoned = {
            b: (paths if b in touched else ["/nonexistent/poisoned.parquet"])
            for b, paths in bf.items()
        }
        got = {
            r["url"]
            for r in seen_ops.filter_unseen(
                cand, None, None, bucket_files=poisoned
            ).collect()
        }
        want = {
            r["url"]
            for r in cand.join(seen.select("url_sha1"), "url_sha1", "left_anti").collect()
        }
        assert got == want

    def test_bloom_negative_shard_skips_file_read(self, spark, urls, tmp_path):
        """With sketches, a shard whose candidates are ALL bloom-negative
        (here: a shard with a sketch row but candidates certainly new —
        poison its path and give it only-new candidates) must not read its
        files: the bloom proof of absence suffices."""
        seen_half = urls.filter("pmod(crc32(url), 2) = 0").select("url_sha1", "shard")
        _, bf = _bucketed_seen(spark, tmp_path / "c5", seen_half)
        sk = seen_ops.build_sketches(seen_half, capacity=4096)
        # candidates = genuinely new urls only (never inserted); poison ALL
        # paths — with fpp≈0 at this fill factor, no shard should need a file.
        # If a bloom false positive DOES occur the read fails loudly, so keep
        # the url count tiny to make fp probability negligible.
        new = spark.createDataFrame(
            [(f"http://brandnew{i}.test/x",) for i in range(5)], ["url"]
        )
        new = with_url_identity(new, num_shards=NUM_SHARDS)
        poisoned = {b: ["/nonexistent/poisoned.parquet"] for b in bf}
        got = seen_ops.filter_unseen(new, None, sk, bucket_files=poisoned).count()
        assert got == 5

    def test_absent_sketch_shard_is_certainly_new(self, spark, tmp_path):
        """A shard with NO sketch row was never written: rows pass through
        without touching files (missing-shard ⇒ empty, num_shards pinned)."""
        one = spark.createDataFrame([("http://h1.test/p/1",)], ["url"])
        one = with_url_identity(one, num_shards=NUM_SHARDS)
        seen = one.select("url_sha1", "shard")
        _, bf = _bucketed_seen(spark, tmp_path / "c6", seen)
        sk = seen_ops.build_sketches(seen, capacity=64)
        other = spark.createDataFrame(
            [(f"http://other{i}.test/q",) for i in range(20)], ["url"]
        )
        other = with_url_identity(other, num_shards=NUM_SHARDS)
        poisoned = {str(s): ["/nonexistent/poisoned.parquet"] for s in range(NUM_SHARDS)}
        shard_of_seen = seen.select("shard").first()["shard"]
        cand = other.filter(F.col("shard") != shard_of_seen)
        assert (
            seen_ops.filter_unseen(cand, None, sk, bucket_files=poisoned).count()
            == cand.count()
        )


class TestCrawlLineage:
    def test_generation_deltas_touch_only_new_shards(self, spark, tmp_path):
        """Real crawl: every committed seen version is bucket-pure, and the
        files a generation ADDS belong exactly to the shards of the keys it
        marked seen."""
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import init_crawl, run_generation
        from web_scraper_spark.synth import SynthWebConfig, seed_url_rows

        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_pages=30, max_depth=2, horizon=6.0, num_shards=NUM_SHARDS)
        seeds = spark.createDataFrame(
            [(r["url"], r["priority"]) for r in seed_url_rows(web)], ["url", "priority"]
        )
        cat = init_crawl(spark, str(tmp_path / "crawl"), seeds, cfg)
        prev_files: set[str] = set()
        prev_keys: set[tuple] = set()
        for _ in range(3):
            res = run_generation(cat, cfg, web)
            snap = cat.current_snapshot()
            if "seen" not in snap.tables:
                continue
            entry = snap.tables["seen"]
            assert "buckets" in entry, "seen lost bucket lineage"
            cur = {f["path"] for f in entry["files"]}
            added = cur - prev_files
            prev_files = cur
            # shards of the added files (path component _b=<shard>)
            added_shards = {int(p.split("_b=")[1].split("/")[0]) for p in added}
            cur_keys = {
                (r["url_sha1"], r["shard"]) for r in cat.read("seen").collect()
            }
            delta_shards = {s for _, s in cur_keys - prev_keys}
            prev_keys = cur_keys
            # file-level lineage matches the data-level delta exactly:
            # a generation writes files ONLY under the shards it marked seen
            assert added_shards == delta_shards
            if res.done:
                break
        # final: bucket reading returns the same table as the plain read
        bf = cat.bucket_files("seen")
        via_buckets = spark.read.parquet(
            *[p for ps in bf.values() for p in ps]
        )
        plain = cat.read("seen")
        assert sorted(
            (r["url_sha1"], r["shard"]) for r in via_buckets.collect()
        ) == sorted((r["url_sha1"], r["shard"]) for r in plain.collect())

    def test_clear_url_keeps_lineage(self, spark, tmp_path):
        from web_scraper_spark import api
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import run_crawl
        from web_scraper_spark.synth import SynthWebConfig, seed_url_rows

        web = SynthWebConfig(n_hosts=2, pages_per_host=6)
        cfg = CrawlConfig(max_pages=8, max_depth=1, horizon=6.0, num_shards=NUM_SHARDS)
        seeds = spark.createDataFrame(
            [(r["url"], r["priority"]) for r in seed_url_rows(web)], ["url", "priority"]
        )
        cat = run_crawl(spark, str(tmp_path / "crawl2"), seeds, cfg, web, max_generations=6)
        url = cat.read("pages").select("url").first()["url"]
        api.clear_url(cat, url, cfg.num_shards)
        snap0 = cat.current_snapshot()
        cat.commit(generation=snap0.generation, t0=snap0.t0, metrics=dict(snap0.metrics))
        assert cat.bucket_files("seen") is not None, "clear_url dropped lineage"
