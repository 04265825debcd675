"""Bucket-pure host_state + robots commits (r3 verdict items 1-2).

Evidence, at FILE level via the manifest, that per-generation commits of
the two host-keyed state tables are O(touched buckets), never O(hosts ever
seen) / O(rules ever fetched):

- host_state: a generation's commit rewrites ONLY the buckets of hosts
  whose state actually changed (the batch hosts); every other bucket's
  parquet files carry forward with identical paths (the COW analog of
  rate_limiter.c's O(1) per-domain update).
- robots: between compactions the rules table is append-only at file
  level (parent paths survive verbatim), new files land only in fetched
  hosts' buckets, and the per-generation read is manifest-pruned to the
  batch hosts' buckets (robots_parser.c:398-408 reads only the batch's
  per-domain keys).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.config import CrawlConfig
from web_scraper_spark.crawl import init_crawl, run_generation, reseed_crawl
from web_scraper_spark.synth import SynthWebConfig


def py_host_bucket(host: str, num_buckets: int) -> int:
    """Pure-python twin of urlops.host_bucket_expr (first 8 hex chars of
    sha1(host) mod B) — used to derive expected touched buckets."""
    return int(hashlib.sha1(host.encode()).hexdigest()[:8], 16) % num_buckets


N_HB = 64


@pytest.fixture(scope="module")
def crawl3(spark, tmp_path_factory):
    """A 3-generation crawl from ONE seed host, with enough host buckets
    that bucket == host almost surely (8 hosts over 64 buckets).
    Module-scoped: the mutating test (single-host reseed) runs LAST in
    file order."""
    tmp_path = tmp_path_factory.mktemp("hostbuckets")
    web = SynthWebConfig(n_hosts=8, pages_per_host=8)
    cfg = CrawlConfig(
        max_depth=3, horizon=3.0, num_shards=8, num_host_buckets=N_HB,
        compact_every=0,  # no compaction: pure append/COW window
    )
    seeds = spark.createDataFrame(
        [("http://h0.example.test/p/0", 1)], ["url", "priority"]
    )
    cat = init_crawl(spark, str(tmp_path / "cat"), seeds, cfg)
    snaps = [cat.current_snapshot()]
    for _ in range(3):
        run_generation(cat, cfg, web)
        snaps.append(cat.current_snapshot())
    return cat, cfg, web, snaps


def _bucket_paths(snap, table):
    entry = snap.tables.get(table)
    if entry is None or "buckets" not in entry:
        return None
    return {b: tuple(f["path"] for f in fs) for b, fs in entry["buckets"].items()}


def _hs_rows(cat, snap):
    hs = cat.read("host_state", snap)
    return {
        r["host"]: (r["min_delay"], r["current_delay"], r["last_fetch"],
                    r["consecutive_errors"])
        for r in hs.collect()
    } if hs is not None else {}


class TestHostStateBucketCOW:
    def test_rewrite_scope_equals_changed_hosts_buckets(self, spark, crawl3):
        """File-level rewrite granularity == row-level change granularity:
        a bucket's files change between consecutive snapshots iff some
        host in it changed state (was in the batch); all other buckets'
        paths are carried VERBATIM from the parent manifest."""
        cat, cfg, web, snaps = crawl3
        assert cat.bucket_files("host_state", snaps[-1]) is not None
        checked_pairs = 0
        for k in (2, 3):
            prev, cur = snaps[k - 1], snaps[k]
            hs_prev, hs_cur = _bucket_paths(prev, "host_state"), _bucket_paths(cur, "host_state")
            if hs_prev is None:
                continue
            rows_prev, rows_cur = _hs_rows(cat, prev), _hs_rows(cat, cur)
            changed_hosts = {
                h for h in set(rows_prev) | set(rows_cur)
                if rows_prev.get(h) != rows_cur.get(h)
            }
            want = {str(py_host_bucket(h, cfg.num_host_buckets)) for h in changed_hosts}
            got = {
                b for b in set(hs_prev) | set(hs_cur)
                if hs_prev.get(b) != hs_cur.get(b)
            }
            # no bucket outside the changed-host set was rewritten ...
            assert got <= want, (k, got - want)
            # ... and every bucket with no changed host carried its
            # parent's files VERBATIM (no read, no rewrite)
            for b in set(hs_prev) - want:
                assert hs_cur.get(b) == hs_prev[b], (k, b)
            checked_pairs += 1
        assert checked_pairs >= 1

    def test_host_state_rows_match_full_fold(self, spark, crawl3):
        """Bucketed delta commit == the full-table fold it replaced: one
        row per host ever seen, no dups, no drops."""
        cat, cfg, web, snaps = crawl3
        hs = cat.read("host_state")
        rows = hs.collect()
        hosts = [r["host"] for r in rows]
        assert len(hosts) == len(set(hosts)), "duplicate host rows"
        pages_hosts = {r["host"] for r in cat.read("pages").select("host").distinct().collect()}
        assert pages_hosts <= set(hosts)
        # persisted bucket column matches the python twin
        for r in rows:
            assert r["host_bucket"] == py_host_bucket(r["host"], cfg.num_host_buckets)


class TestRobotsBucketAppend:
    def test_append_only_at_file_level_between_compactions(self, spark, crawl3):
        cat, cfg, web, snaps = crawl3
        assert cat.bucket_files("robots", snaps[-1]) is not None
        for k in (2, 3):
            prev, cur = snaps[k - 1], snaps[k]
            if "robots" not in prev.tables:
                continue
            prev_files = {f["path"] for f in prev.tables["robots"]["files"]}
            cur_files = {f["path"] for f in cur.tables["robots"]["files"]}
            # parent files survive verbatim — no rewrite of old rules
            assert prev_files <= cur_files, (k, prev_files - cur_files)

    def test_new_rule_files_live_in_fetched_hosts_buckets(self, spark, crawl3):
        cat, cfg, web, snaps = crawl3
        for k in (2, 3):
            prev, cur = snaps[k - 1], snaps[k]
            rb_prev = _bucket_paths(prev, "robots") or {}
            rb_cur = _bucket_paths(cur, "robots") or {}
            grown = {b for b in rb_cur if set(rb_cur[b]) - set(rb_prev.get(b, ()))}
            if not grown:
                continue
            # hosts with NEW rules this generation
            robots_now = cat.read("robots", cur)
            new_hosts = {
                r["host"]
                for r in robots_now.filter(F.col("fetch_seq") == k)
                .select("host").distinct().collect()
            }
            want = {str(py_host_bucket(h, cfg.num_host_buckets)) for h in new_hosts}
            assert grown <= want, (k, grown, want)

    def test_bucket_pruned_read_sees_exactly_batch_rules(self, spark, crawl3):
        """The pruned read path (bucket_files of the batch hosts' buckets)
        returns every rule for those hosts — equivalent to the full scan
        it replaced, from a fraction of the files."""
        cat, cfg, web, snaps = crawl3
        files = cat.bucket_files("robots")
        assert files is not None
        full = cat.read("robots")
        some_hosts = [r["host"] for r in full.select("host").distinct().limit(2).collect()]
        want_bkts = {str(py_host_bucket(h, cfg.num_host_buckets)) for h in some_hosts}
        paths = [p for b in want_bkts for p in files.get(b, [])]
        assert paths and len(paths) < sum(len(v) for v in files.values())
        sliced = spark.read.parquet(*paths).filter(F.col("host").isin(some_hosts))
        full_rows = {
            tuple(r) for r in full.filter(F.col("host").isin(some_hosts))
            .select("host", "rule_type", "path_pattern", "fetched_at").collect()
        }
        slice_rows = {
            tuple(r) for r in sliced
            .select("host", "rule_type", "path_pattern", "fetched_at").collect()
        }
        assert slice_rows == full_rows


class TestSingleHostGenerationCarriesRest:
    """LAST in file order — mutates the module-scoped crawl."""

    def test_single_host_batch_rewrites_exactly_one_bucket(self, spark, crawl3):
        """The decisive COW evidence: reseed ONE url of one host
        (force_rescrape) and run a generation whose batch is that host
        alone — exactly its bucket is rewritten; every other host_state
        bucket's files carry forward with identical manifest paths."""
        import dataclasses

        cat, cfg, web, snaps = crawl3
        # surgically empty the frontier first (the 3-gen crawl is not
        # drained; leftover urls would widen the batch beyond one host)
        snap0 = cat.current_snapshot()
        cat.stage_cow("frontier", cat.read("frontier").limit(0), "shard", None, snap0)
        for t in snap0.tables:
            if t != "frontier":
                cat.stage_keep(t, snap0)
        cat.commit(generation=snap0.generation, t0=snap0.t0,
                   metrics=dict(snap0.metrics))

        url = "http://h3.example.test/p/1"
        seeds = spark.createDataFrame([(url, 0)], ["url", "priority"])
        cfg_force = dataclasses.replace(cfg, force_rescrape=True, max_pages=None)
        reseed_crawl(cat, seeds, cfg_force)
        before = cat.current_snapshot()
        run_generation(cat, cfg_force, web)
        after = cat.current_snapshot()

        hs_b, hs_a = _bucket_paths(before, "host_state"), _bucket_paths(after, "host_state")
        assert hs_b is not None and hs_a is not None
        target = str(py_host_bucket("h3.example.test", cfg.num_host_buckets))
        changed = {b for b in set(hs_b) | set(hs_a) if hs_b.get(b) != hs_a.get(b)}
        assert changed == {target}, (changed, target)
        carried = [b for b in hs_b if b != target]
        assert carried, "need >1 populated bucket for the carry evidence"
        for b in carried:
            assert hs_a[b] == hs_b[b], b
        # state of untouched hosts is bit-identical too
        rows_b, rows_a = _hs_rows(cat, before), _hs_rows(cat, after)
        for h, v in rows_b.items():
            if h != "h3.example.test":
                assert rows_a[h] == v, h
