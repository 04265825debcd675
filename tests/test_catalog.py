"""Snapshot catalog: atomicity, append-only deltas, lineage, time travel.

The MULTI/EXEC analog (redis_helper.c:235-253) as table commits: staged
writes are invisible until the CURRENT swap; appends are O(delta); every
snapshot is readable forever by id."""

import json
import os

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.catalog import Catalog


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def df_of(spark, n, tag=""):
    return spark.range(n).select(
        F.col("id"), F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")
    )


class TestRetention:
    def test_automated_retention_bounds_state(self, spark, tmp_path):
        """Automated snapshot retention on the compaction cadence (r3
        verdict missing #2 — the Redis EXPIRE analog): a multi-generation
        crawl keeps a BOUNDED manifest window, superseded version dirs are
        physically removed, and resume + time travel WITHIN the retention
        window stay exact."""
        import dataclasses

        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import resume_crawl, run_crawl
        from web_scraper_spark.synth import SynthWebConfig, seed_url_rows

        web = SynthWebConfig(n_hosts=2, pages_per_host=8)
        cfg = CrawlConfig(
            max_depth=2, horizon=2.0, num_shards=8,
            compact_every=2, retention_keep_last=2, max_pages=8,
        )
        seeds = spark.createDataFrame(
            [(r["url"], r["priority"]) for r in seed_url_rows(web)],
            ["url", "priority"],
        )
        cat = run_crawl(spark, str(tmp_path / "cat"), seeds, cfg, web,
                        max_generations=12)
        snap_mid = cat.current_snapshot()
        assert int(snap_mid.metrics["urls_processed"]) >= 8

        def manifests():
            return sorted(
                f for f in os.listdir(cat._manifest_dir)
                if f.startswith("s") and f.endswith(".json")
            )

        # resume with a raised budget CONTINUES after expiry ran mid-crawl
        cfg2 = dataclasses.replace(cfg, max_pages=None)
        cat = resume_crawl(cat, cfg2, web, max_generations=12)
        snap_end = cat.current_snapshot()
        assert int(snap_end.metrics["urls_processed"]) > int(
            snap_mid.metrics["urls_processed"]
        )

        # bounded window: at most keep_last + compact_every manifests ever
        # accumulate between expiry points (+1 slack for the final commit)
        kept = manifests()
        assert len(kept) <= cfg.retention_keep_last + cfg.compact_every + 1, kept

        # version dirs referenced by NO kept manifest are gone from disk
        # (one explicit expiry first: the final drained-frontier commit
        # happens on the early-exit path, after the last cadence firing)
        cat.expire_snapshots(keep_last=cfg.retention_keep_last)
        kept = manifests()
        import json as _json

        live = set()
        for name in kept:
            with open(os.path.join(cat._manifest_dir, name)) as f:
                man = _json.load(f)
            for t, entry in man["tables"].items():
                for fi in entry["files"]:
                    live.add((t, fi["path"].split("/")[0]))
        for t in os.listdir(cat.root):
            tdir = os.path.join(cat.root, t)
            if t == "_manifests" or not os.path.isdir(tdir):
                continue
            for vdir in os.listdir(tdir):
                if os.path.isdir(os.path.join(tdir, vdir)):
                    assert (t, vdir) in live, f"orphan version dir {t}/{vdir}"

        # time travel WITHIN the window: the oldest kept snapshot reads
        # exactly (pages rows == its recorded urls_processed)
        oldest_id = int(kept[0][1:-5])
        old_snap = cat.snapshot(oldest_id)
        pages_then = cat.read("pages", old_snap)
        n_then = pages_then.count() if pages_then is not None else 0
        assert n_then == int(old_snap.metrics.get("urls_processed", 0))


class TestCommit:
    def test_staged_invisible_until_commit(self, spark, cat):
        cat.stage("t", df_of(spark, 5))
        assert cat.current_snapshot() is None
        assert cat.read("t") is None
        cat.commit(generation=0, t0=0.0)
        assert cat.read("t").count() == 5

    def test_abort_discards(self, spark, cat):
        cat.stage("t", df_of(spark, 5))
        cat.commit(generation=0, t0=0.0)
        cat.stage("t", df_of(spark, 99))
        cat.abort()
        cat.stage_keep("t", cat.current_snapshot())
        cat.commit(generation=1, t0=1.0)
        assert cat.read("t").count() == 5

    def test_crash_between_stage_and_commit_is_invisible(self, spark, cat):
        cat.stage("t", df_of(spark, 5))
        cat.commit(generation=0, t0=0.0)
        # simulate a crash: stage a new version, never commit, "restart"
        cat.stage("t", df_of(spark, 50))
        cat2 = Catalog(spark, cat.root)
        assert cat2.read("t").count() == 5  # uncommitted files not referenced


class TestConcurrentStaging:
    def test_no_staged_table_is_lost_across_threads(self, tmp_path):
        """Tables staged from more threads than cores at once, with a tiny
        interpreter switch interval, all reach the next commit and leave
        nothing staged behind (run_generation stages its tables from a
        thread pool)."""
        import sys
        import threading

        from web_scraper_spark.catalog import Snapshot

        cat = Catalog(None, str(tmp_path / "cat"))  # stage_keep/commit need no Spark
        n_threads, per_thread = 16, 200
        source = Snapshot(0, None, 0, 0.0, {
            f"t{i}_{j}": {"files": [], "rows": j}
            for i in range(n_threads) for j in range(per_thread)
        })

        def stage(i):
            for j in range(per_thread):
                cat.stage_keep(f"t{i}_{j}", source)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=stage, args=(i,)) for i in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        snap = cat.commit(generation=1, t0=0.0)
        assert snap.tables == source.tables
        assert cat._staged == {}


class TestAppend:
    def test_append_is_delta_only(self, spark, cat):
        cat.stage("t", df_of(spark, 10, "a"))
        s0 = cat.commit(generation=0, t0=0.0)
        n_files_0 = len(s0.tables["t"]["files"])
        cat.stage_append("t", df_of(spark, 3, "b"), s0)
        s1 = cat.commit(generation=1, t0=1.0)
        assert cat.read("t").count() == 13
        # parent files are reused verbatim, only the delta is new
        f0 = {f["path"] for f in s0.tables["t"]["files"]}
        f1 = {f["path"] for f in s1.tables["t"]["files"]}
        assert f0 <= f1
        assert len(f1) > len(f0)
        assert n_files_0 == len(f0)

    def test_lineage_rowcounts(self, spark, cat):
        cat.stage("t", df_of(spark, 10))
        snap = cat.commit(generation=0, t0=0.0)
        entry = snap.tables["t"]
        assert entry["rows"] == 10
        assert sum(f["rows"] for f in entry["files"]) == 10
        assert all(f["bytes"] > 0 for f in entry["files"])


class TestCommitCarryForward:
    def test_unstaged_tables_survive_commits_and_gc(self, spark, cat):
        """A commit never implicitly drops a table: an auxiliary table a
        user staged into the catalog carries through later commits that
        never mention it, and expire_snapshots keeps its files live."""
        cat.stage("aux", df_of(spark, 7, "x"))
        cat.commit(generation=0, t0=0.0)
        for gen in range(1, 8):
            cat.stage("t", df_of(spark, gen, "t"))
            cat.commit(generation=gen, t0=float(gen))
        assert cat.read("aux").count() == 7
        cat.expire_snapshots(keep_last=2)
        assert cat.read("aux").count() == 7  # files not GC'd


class TestIncrementalRead:
    def test_incremental_is_exactly_the_appended_delta(self, spark, cat):
        cat.stage("t", df_of(spark, 5, "a"))
        cat.commit(generation=0, t0=0.0)
        s1 = cat.current_snapshot()
        cat.stage_append("t", df_of(spark, 3, "b"))
        cat.commit(generation=1, t0=1.0)
        s2 = cat.current_snapshot()
        cat.stage_append("t", df_of(spark, 2, "c"))
        cat.commit(generation=2, t0=2.0)
        inc = cat.read_incremental("t", since=s1)
        assert sorted(r["v"] for r in inc.collect()) == sorted(
            [f"b{i}" for i in range(3)] + [f"c{i}" for i in range(2)]
        )
        # bounded window: (s1, s2]
        inc12 = cat.read_incremental("t", since=s1, until=s2)
        assert sorted(r["v"] for r in inc12.collect()) == [f"b{i}" for i in range(3)]
        # nothing added since CURRENT
        assert cat.read_incremental("t", since=cat.current_snapshot()) is None

    def test_incremental_conservative_across_compaction(self, spark, cat):
        """A rewrite gives files new paths, so the increment may re-include
        old rows (documented Iceberg-CDC-over-rewrite caveat) — but never
        MISSES a new row."""
        cat.stage("t", df_of(spark, 4, "a"))
        cat.commit(generation=0, t0=0.0)
        s1 = cat.current_snapshot()
        cat.stage_append("t", df_of(spark, 2, "b"))
        cat.commit(generation=1, t0=1.0)
        cat.stage("t", cat.read("t"))  # compaction: rewrite the live rows
        cat.commit(generation=2, t0=2.0)
        got = {r["v"] for r in cat.read_incremental("t", since=s1).collect()}
        assert {f"b{i}" for i in range(2)} <= got  # superset, never a miss


class TestIncrementalReadOnCrawl:
    def test_pages_increment_between_generations(self, spark, tmp_path):
        """The primitive on real crawl output: read_incremental('pages')
        between two generation snapshots is EXACTLY the pages that
        generation fetched (the pages table is append-only — never
        rewritten mid-crawl), so a per-generation training pipeline
        touches only the new rows."""
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import resume_crawl, run_crawl
        from web_scraper_spark.synth import SynthWebConfig, page_url

        web = SynthWebConfig(n_hosts=2, pages_per_host=6)
        seeds = spark.createDataFrame(
            [(page_url(h, 0), 1) for h in range(2)], ["url", "priority"]
        )
        cfg = CrawlConfig()
        cat = run_crawl(spark, str(tmp_path / "c"), seeds, cfg, web, max_generations=1)
        s1 = cat.current_snapshot()
        urls1 = {r["url"] for r in cat.read("pages").select("url").collect()}
        resume_crawl(cat, cfg, web, max_generations=1)
        urls2 = {r["url"] for r in cat.read("pages").select("url").collect()}
        inc = {
            r["url"]
            for r in cat.read_incremental("pages", since=s1).select("url").collect()
        }
        assert inc == urls2 - urls1 and len(inc) > 0


class TestTimeTravel:
    def test_read_old_snapshot(self, spark, cat):
        cat.stage("t", df_of(spark, 10))
        s0 = cat.commit(generation=0, t0=0.0)
        cat.stage_append("t", df_of(spark, 5), s0)
        cat.commit(generation=1, t0=1.0)
        assert cat.read("t").count() == 15
        assert cat.read("t", cat.snapshot(s0.snapshot_id)).count() == 10

    def test_parent_chain_and_metrics(self, spark, cat):
        cat.stage("t", df_of(spark, 1))
        s0 = cat.commit(generation=0, t0=0.0, metrics={"urls_processed": 1})
        cat.stage_keep("t", s0)
        s1 = cat.commit(generation=1, t0=9.5, metrics={"urls_processed": 3})
        assert s1.parent_id == s0.snapshot_id
        assert cat.snapshot(s0.snapshot_id).metrics["urls_processed"] == 1
        assert s1.t0 == 9.5

    def test_manifest_is_valid_json_on_disk(self, spark, cat):
        cat.stage("t", df_of(spark, 2))
        s0 = cat.commit(generation=0, t0=0.0)
        path = os.path.join(cat.root, "_manifests", f"s{s0.snapshot_id:06d}.json")
        with open(path) as f:
            d = json.load(f)
        assert d["tables"]["t"]["rows"] == 2


class TestMaintenance:
    def test_compact_reduces_files_preserves_rows(self, spark, cat):
        cat.stage("t", df_of(spark, 10, "a"), partitions=4)
        s = cat.commit(generation=0, t0=0.0)
        for g in range(1, 5):
            cat.stage_append("t", df_of(spark, 5, f"g{g}"), partitions=2)
            s = cat.commit(generation=g, t0=float(g))
        n_files_before = len(s.tables["t"]["files"])
        rows_before = sorted(map(tuple, cat.read("t").collect()))
        cat.stage("t", cat.read("t"), partitions=2)
        s2 = cat.commit(generation=99, t0=99.0)
        assert len(s2.tables["t"]["files"]) < n_files_before
        assert sorted(map(tuple, cat.read("t").collect())) == rows_before
        # time travel to the pre-compaction snapshot still works
        assert cat.read("t", cat.snapshot(s.snapshot_id)).count() == 30

    def test_expire_snapshots_gc(self, spark, cat):
        import os

        cat.stage("t", df_of(spark, 10), partitions=2)
        s0 = cat.commit(generation=0, t0=0.0)
        cat.stage("t", df_of(spark, 20), partitions=2)  # overwrite → s0 orphaned
        cat.commit(generation=1, t0=1.0)
        stats = cat.expire_snapshots(keep_last=1)
        assert stats["snapshots_removed"] >= 1
        assert stats["files_removed"] >= 1
        assert cat.read("t").count() == 20  # live data untouched
        assert not os.path.exists(
            os.path.join(cat._manifest_dir, f"s{s0.snapshot_id:06d}.json")
        )


class TestCopyOnWrite:
    """Partition-level COW (stage_cow): unchanged buckets carry forward at
    FILE level; changed buckets are replaced (or emptied); bucket-local
    content equals a full rewrite."""

    def _rows(self, spark, items):
        return spark.createDataFrame(items, "url_canon string, shard int, v int")

    def test_cow_carries_unchanged_buckets(self, spark, cat):
        full = self._rows(spark, [(f"u{i}", i % 4, 0) for i in range(40)])
        cat.stage_cow("t", full, "shard", None)
        s0 = cat.commit(generation=0, t0=0.0)
        files0 = {f["path"] for f in s0.tables["t"]["files"]}

        # update bucket 1 only: replace its rows with two new ones
        delta = self._rows(spark, [("n1", 1, 7), ("n2", 1, 7)])
        cat.stage_cow("t", delta, "shard", [1], s0)
        s1 = cat.commit(generation=1, t0=0.0)
        files1 = {f["path"] for f in s1.tables["t"]["files"]}

        # every non-bucket-1 file is literally the same path (no rewrite)
        carried = {p for p in files0 if "_b=1/" not in p}
        assert carried <= files1
        assert all("_b=1/" not in p or p not in files0 for p in files1)

        got = {(r["url_canon"], r["shard"], r["v"]) for r in cat.read("t").collect()}
        want = {(f"u{i}", i % 4, 0) for i in range(40) if i % 4 != 1} | {
            ("n1", 1, 7), ("n2", 1, 7)
        }
        assert got == want

    def test_cow_empties_changed_bucket(self, spark, cat):
        full = self._rows(spark, [(f"u{i}", i % 3, 0) for i in range(12)])
        cat.stage_cow("t", full, "shard", None)
        s0 = cat.commit(generation=0, t0=0.0)
        empty = self._rows(spark, [])
        cat.stage_cow("t", empty, "shard", [2], s0)
        cat.commit(generation=1, t0=0.0)
        got = {r["shard"] for r in cat.read("t").collect()}
        assert got == {0, 1}

    def test_cow_rejects_undeclared_buckets(self, spark, cat):
        full = self._rows(spark, [(f"u{i}", i % 3, 0) for i in range(12)])
        cat.stage_cow("t", full, "shard", None)
        s0 = cat.commit(generation=0, t0=0.0)
        bad = self._rows(spark, [("x", 0, 1), ("y", 2, 1)])
        with pytest.raises(ValueError, match="undeclared"):
            cat.stage_cow("t", bad, "shard", [0], s0)

    def test_cow_fallback_without_lineage(self, spark, cat):
        """A stage()-written parent has no bucket lineage: stage_cow with
        changed_buckets=None rewrites fully and establishes it."""
        full = self._rows(spark, [(f"u{i}", i % 2, 0) for i in range(8)])
        cat.stage("t", full)
        s0 = cat.commit(generation=0, t0=0.0)
        assert cat.bucket_files("t", s0) is None
        cat.stage_cow("t", full, "shard", None, s0)
        s1 = cat.commit(generation=1, t0=0.0)
        assert cat.bucket_files("t", s1) is not None
        assert cat.read("t").count() == 8


class TestFrontierCow:
    def test_crawl_frontier_carries_files_across_generations(self, spark, tmp_path_factory):
        """With more shards than per-generation churn, a mid-crawl frontier
        manifest must reference files from MORE THAN ONE version dir —
        proof that untouched shards carry at file level instead of being
        rewritten (and results stay sim-exact, covered by test_crawl)."""
        import sys

        sys.path.insert(0, "tests")
        from web_scraper_spark import synth
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import run_crawl

        web = synth.SynthWebConfig(n_hosts=6, pages_per_host=30)
        cfg = CrawlConfig(max_pages=12, max_depth=2, horizon=3.0, num_shards=64)
        seeds = spark.createDataFrame(
            [(r["url"], r["priority"]) for r in synth.seed_url_rows(web)],
            ["url", "priority"],
        )
        cat = run_crawl(
            spark, str(tmp_path_factory.mktemp("cow_crawl")), seeds, cfg, web,
            max_generations=6,
        )
        multi = 0
        for sid in range(2, cat.current_snapshot().snapshot_id + 1):
            sn = cat.snapshot(sid)
            e = sn.tables.get("frontier", {})
            if "buckets" in e:
                vers = {f["path"].split("/")[0] for f in e["files"]}
                multi = max(multi, len(vers))
        assert multi >= 2, "no frontier files were carried across versions"


class TestSchemaGuard:
    def test_legacy_catalog_raises(self, spark, tmp_path):
        """A catalog whose pages/robots predate SCHEMA_V (simulated by
        stripping the marker and the new columns) must refuse to resume
        with a clear error — NOT silently stage_append mixed-schema files."""
        import pytest as _pytest

        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import run_crawl, run_generation
        from web_scraper_spark.synth import SynthWebConfig, seed_url_rows

        web = SynthWebConfig(n_hosts=2, pages_per_host=6)
        cfg = CrawlConfig(max_pages=6, max_depth=1, horizon=6.0, num_shards=8)
        seeds = spark.createDataFrame(
            [(r["url"], r["priority"]) for r in seed_url_rows(web)], ["url", "priority"]
        )
        cat = run_crawl(spark, str(tmp_path / "cat"), seeds, cfg, web, max_generations=4)
        snap = cat.current_snapshot()

        # simulate a pre-v3 catalog: drop the marker and rewrite pages
        # without 'meta' / robots without 'fetch_seq'
        pages_old = cat.read("pages").drop("meta")
        robots_old = cat.read("robots").drop("fetch_seq")
        cat.stage("pages", pages_old)
        cat.stage("robots", robots_old)
        for t in snap.tables:
            if t not in ("pages", "robots"):
                cat.stage_keep(t, snap)
        m = dict(snap.metrics)
        m.pop("schema_v", None)
        cat.commit(generation=snap.generation, t0=snap.t0, metrics=m)

        with _pytest.raises(ValueError, match="schema_v.*re-crawled"):
            run_generation(cat, cfg, web)


class TestRetentionManifestOrder:
    def test_expire_sorts_manifests_numerically(self, spark, cat):
        """Manifests are s{id:06d}.json — past id 999999 the name grows a
        digit and lexicographic order INVERTS ('s1000000' < 's999999'),
        which would make automated retention expire the newest snapshots.
        The keep window must be numeric."""
        cat.stage("t", df_of(spark, 3))
        cat.commit(generation=0, t0=0.0)
        snap = cat.current_snapshot()
        # forge two high-id manifests around the rollover, newest = CURRENT
        import json as _json

        for sid in (999999, 1000000, 1000001):
            d = _json.loads(snap.to_json())
            d["snapshot_id"] = sid
            with open(
                os.path.join(cat._manifest_dir, f"s{sid:06d}.json"), "w"
            ) as f:
                f.write(_json.dumps(d))
        with open(os.path.join(cat._manifest_dir, "CURRENT"), "w") as f:
            f.write("s1000001.json")
        cat.expire_snapshots(keep_last=2)
        left = sorted(
            f for f in os.listdir(cat._manifest_dir) if f.endswith(".json")
        )
        # numeric window: the two NEWEST ids survive; lexicographic order
        # would instead have kept s999999 and dropped s1000001's sibling
        assert "s1000000.json" in left and "s1000001.json" in left, left
        assert "s999999.json" not in left, left
