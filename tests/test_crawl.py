"""End-to-end crawl: engine vs pure-Python oracle simulator + resume.

The north-rule gates (BASELINE.json):
- oracle mode: engine crawl order == simulator pop sequence EXACTLY
  (the C ZSET contract, redis_helper.c:274-276);
- batched mode: seen set, metrics, host_state and per-generation order
  match the batched simulator (politeness-window contract, SURVEY.md §3.4);
- politeness invariant: per-host consecutive fetch times >= delay apart;
- resume: killing after any generation and resuming yields identical state.
"""

import math
import time
import uuid

import pytest
from pyspark.sql import functions as F

from oracle_sim import HostState, sha1_hex, simulate
from web_scraper_spark.catalog import Catalog
from web_scraper_spark.config import CrawlConfig
from web_scraper_spark.crawl import (
    init_crawl,
    reseed_crawl,
    resume_crawl,
    run_crawl,
    run_generation,
)
from web_scraper_spark.synth import SynthWebConfig, seed_url_rows


def _seeds_df(spark, web):
    rows = seed_url_rows(web)
    return spark.createDataFrame([(r["url"], r["priority"]) for r in rows], ["url", "priority"])


def _seed_list(web):
    return [(r["url"], r["priority"]) for r in seed_url_rows(web)]


def cached_rdds(spark) -> set[int]:
    """Ids of the RDDs whose blocks the executors hold."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def engine_state(cat):
    pages = cat.read("pages")
    order = [
        (r["url"], r["host"], r["crawl_rank"])
        for r in pages.orderBy("crawl_rank").collect()
    ]
    seen = {r["url_sha1"] for r in cat.read("seen").collect()} if cat.read("seen") is not None else set()
    hs = {
        r["host"]: (
            round(r["min_delay"], 9),
            round(r["current_delay"], 9),
            round(r["last_fetch"], 9),
            r["consecutive_errors"],
        )
        for r in cat.read("host_state").collect()
    }
    m = cat.current_snapshot().metrics
    return order, seen, hs, m


class TestOracleMode:
    """Batch-of-1 generations == the C pop sequence."""

    @pytest.fixture(scope="class")
    def setup(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_pages=12, max_depth=2, oracle_mode=True, num_shards=8)
        root = str(tmp_path_factory.mktemp("oracle_crawl"))
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=60)
        sim = simulate(_seed_list(web), cfg, web)
        return cat, sim

    def test_crawl_order_exact(self, setup):
        cat, sim = setup
        order, _, _, _ = engine_state(cat)
        sim_order = [(u, h) for _, u, h, _ in sim.crawl_order]
        assert [(u, h) for u, h, _ in order] == sim_order
        assert [r for _, _, r in order] == list(range(len(sim_order)))

    def test_seen_set_exact(self, setup):
        cat, sim = setup
        _, seen, _, _ = engine_state(cat)
        assert seen == sim.seen

    def test_metrics_match(self, setup):
        cat, sim = setup
        _, _, _, m = engine_state(cat)
        for k in ("urls_processed", "urls_skipped", "urls_disallowed", "bytes_downloaded"):
            assert m[k] == sim.metrics[k], k

    def test_host_state_match(self, setup):
        cat, sim = setup
        _, _, hs, _ = engine_state(cat)
        sim_hs = {
            h: (
                round(s.min_delay, 9),
                round(s.current_delay, 9),
                round(s.last_fetch, 9),
                s.errors,
            )
            for h, s in sim.host_state.items()
        }
        assert hs == sim_hs


class TestBatchedMode:
    """Politeness-window batches: same sets, same per-generation order."""

    @pytest.fixture(scope="class")
    def setup(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=5, pages_per_host=12)
        cfg = CrawlConfig(
            max_pages=40, max_depth=3, horizon=6.0, num_shards=8,
            hot_host_salt=4,
        )
        root = str(tmp_path_factory.mktemp("batched_crawl"))
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=40)
        sim = simulate(_seed_list(web), cfg, web)
        return cat, sim, cfg

    def test_crawl_order_and_seen(self, setup):
        cat, sim, _ = setup
        order, seen, _, m = engine_state(cat)
        assert [u for u, _, _ in order] == [u for _, u, _, _ in sim.crawl_order]
        assert seen == sim.seen
        for k in ("urls_processed", "urls_skipped", "urls_disallowed", "bytes_downloaded"):
            assert m[k] == sim.metrics[k], k

    def test_politeness_invariant(self, setup):
        """No host fetched twice within its current_delay window."""
        cat, _, _ = setup
        pages = cat.read("pages").select("host", "fetch_time").collect()
        by_host = {}
        for r in pages:
            by_host.setdefault(r["host"], []).append(r["fetch_time"])
        for h, times in by_host.items():
            times.sort()
            gaps = [b - a for a, b in zip(times, times[1:])]
            # delays only shrink to 0.8x per gen, floor MIN_DELAY=1; the
            # minimum legal gap is the smallest delay ever in effect >= 0.8
            assert all(g >= 0.799 for g in gaps), (h, gaps)

    def test_host_state_match(self, setup):
        cat, sim, _ = setup
        _, _, hs, _ = engine_state(cat)
        sim_hs = {
            h: (round(s.min_delay, 9), round(s.current_delay, 9), round(s.last_fetch, 9), s.errors)
            for h, s in sim.host_state.items()
        }
        assert hs == sim_hs


class TestResume:
    def test_resume_is_identical(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=4, pages_per_host=8)
        cfg = CrawlConfig(max_pages=20, max_depth=2, horizon=5.0, num_shards=8)

        root_a = str(tmp_path_factory.mktemp("crawl_a"))
        cat_a = run_crawl(spark, root_a, _seeds_df(spark, web), cfg, web, max_generations=30)

        # "killed" run: stop after 2 generations, then resume to completion
        root_b = str(tmp_path_factory.mktemp("crawl_b"))
        cat_b = init_crawl(spark, root_b, _seeds_df(spark, web), cfg)
        for _ in range(2):
            run_generation(cat_b, cfg, web)
        cat_b = resume_crawl(cat_b, cfg, web, max_generations=30)

        oa, sa, ha, ma = engine_state(cat_a)
        ob, sb, hb, mb = engine_state(cat_b)
        assert oa == ob
        assert sa == sb
        assert ha == hb
        assert ma == mb

        # frontier remainder identical too
        fa = cat_a.read("frontier")
        fb = cat_b.read("frontier")
        ra = sorted(map(tuple, fa.collect())) if fa is not None else []
        rb = sorted(map(tuple, fb.collect())) if fb is not None else []
        assert ra == rb

        # and the seen sketch, byte for byte
        def sketch_rows(cat):
            return sorted(
                (r["shard"], bytes(r["bloom"]), r["n"])
                for r in cat.read("seen_sketch").select("shard", "bloom", "n").collect()
            )

        assert sketch_rows(cat_a) == sketch_rows(cat_b)


class TestCompaction:
    def test_compacted_crawl_state_identical(self, spark, tmp_path_factory):
        """compact_every=2 must change file layout only, never results."""
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        base = dict(max_pages=15, max_depth=2, horizon=5.0, num_shards=8)

        cat_a = run_crawl(
            spark, str(tmp_path_factory.mktemp("nc")), _seeds_df(spark, web),
            CrawlConfig(**base, compact_every=0), web, max_generations=25,
        )
        cat_b = run_crawl(
            spark, str(tmp_path_factory.mktemp("cc")), _seeds_df(spark, web),
            CrawlConfig(**base, compact_every=2), web, max_generations=25,
        )
        assert engine_state(cat_a) == engine_state(cat_b)
        files_a = sum(len(e["files"]) for e in cat_a.current_snapshot().tables.values())
        files_b = sum(len(e["files"]) for e in cat_b.current_snapshot().tables.values())
        assert files_b < files_a


class TestBucketPureInvariant:
    def test_every_commit_keeps_bucket_lineage(self, spark, tmp_path_factory):
        """Every bucketed state table is bucket-pure after every commit —
        through compactions, the drained-frontier commit (the reseeded
        seeds are all seen, so that generation pops them all) and the
        reseed itself — and the results stay simulator-exact."""
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_depth=2, horizon=5.0, num_shards=8, compact_every=2)
        cat = run_crawl(
            spark, str(tmp_path_factory.mktemp("bucket_pure")), _seeds_df(spark, web),
            cfg, web, max_generations=40,
        )
        reseed_crawl(cat, _seeds_df(spark, web), cfg)
        reseeded = cat.current_snapshot().tables["frontier"]["rows"]
        resume_crawl(cat, cfg, web, max_generations=5)
        assert cat.current_snapshot().tables["frontier"]["rows"] == 0

        for sid in range(cat.current_snapshot().snapshot_id + 1):
            tables = cat.snapshot(sid).tables
            expected = ("frontier",) if sid == 0 else (
                "frontier", "seen", "robots", "host_state", "dedup_index"
            )
            for t in expected:
                assert "buckets" in tables[t], (sid, t)

        sim = simulate(_seed_list(web), cfg, web)
        order, seen, hs, m = engine_state(cat)
        assert [u for u, _, _ in order] == [u for _, u, _, _ in sim.crawl_order]
        assert seen == sim.seen
        assert hs == {
            h: (round(s.min_delay, 9), round(s.current_delay, 9), round(s.last_fetch, 9), s.errors)
            for h, s in sim.host_state.items()
        }
        for k in ("urls_processed", "urls_disallowed", "bytes_downloaded"):
            assert m[k] == sim.metrics[k], k
        assert m["urls_skipped"] == sim.metrics["urls_skipped"] + reseeded


class TestFailedGeneration:
    def test_failed_write_publishes_nothing(self, spark, tmp_path_factory, monkeypatch):
        """A table write that fails inside the concurrent stage step, or a
        commit that fails after every write, leaves no staged table behind
        (a later commit by any caller must not publish a half-written
        generation), the generation raises, and the retried crawl is still
        simulator-exact. Every generation, failed or not, releases every
        block it materialized: no RDD it cached outlives it."""
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_pages=12, max_depth=2, horizon=5.0, num_shards=8)
        cat = init_crawl(
            spark, str(tmp_path_factory.mktemp("failed_gen")), _seeds_df(spark, web), cfg
        )
        held = cached_rdds(spark)
        run_generation(cat, cfg, web)
        assert cached_rdds(spark) <= held
        before = cat.current_snapshot().snapshot_id

        stage_append = Catalog.stage_append

        def failing_links(self, table, *args, **kwargs):
            entry = stage_append(self, table, *args, **kwargs)
            if table == "links":  # written and staged, then the step fails
                raise RuntimeError("injected links write failure")
            return entry

        monkeypatch.setattr(Catalog, "stage_append", failing_links)
        with pytest.raises(RuntimeError, match="injected links write failure"):
            run_generation(cat, cfg, web)
        assert cat.current_snapshot().snapshot_id == before
        assert cat._staged == {}
        assert cached_rdds(spark) <= held

        # a failure after every write has been staged: the commit itself
        # raises before its publish
        monkeypatch.undo()

        def failing_commit(self, *args, **kwargs):
            raise RuntimeError("injected commit failure")

        monkeypatch.setattr(Catalog, "commit", failing_commit)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            run_generation(cat, cfg, web)
        assert cat.current_snapshot().snapshot_id == before
        assert cat._staged == {}
        assert cached_rdds(spark) <= held

        monkeypatch.undo()
        resume_crawl(cat, cfg, web, max_generations=30)
        sim = simulate(_seed_list(web), cfg, web)
        order, seen, hs, m = engine_state(cat)
        assert [u for u, _, _ in order] == [u for _, u, _, _ in sim.crawl_order]
        assert seen == sim.seen
        assert hs == {
            h: (round(s.min_delay, 9), round(s.current_delay, 9), round(s.last_fetch, 9), s.errors)
            for h, s in sim.host_state.items()
        }
        for k in ("urls_processed", "urls_skipped", "urls_disallowed", "bytes_downloaded"):
            assert m[k] == sim.metrics[k], k


class TestPlanSize:
    def test_write_plans_stay_small(self, spark, tmp_path_factory, monkeypatch):
        """Every table write of a generation plans from materialized
        leaves, so its plan description (which Spark renders at every SQL
        execution start and AQE stage update) stays kilobytes. Plan text
        follows plan shape, not data size: over nested cached frames each
        cached plan prints inline (3 MB on this 24-page web), over
        checkpoints a write's plan is ~10 KB."""
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_pages=12, max_depth=2, horizon=5.0, num_shards=8)
        cat = init_crawl(
            spark, str(tmp_path_factory.mktemp("plan_size")), _seeds_df(spark, web), cfg
        )
        formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        sizes: dict[str, int] = {}

        def recording(write):
            def wrapper(self, table, df, *args, **kwargs):
                sizes[table] = len(df._jdf.queryExecution().explainString(formatted))
                return write(self, table, df, *args, **kwargs)
            return wrapper

        monkeypatch.setattr(Catalog, "_write_version", recording(Catalog._write_version))
        monkeypatch.setattr(
            Catalog, "_write_version_cow", recording(Catalog._write_version_cow)
        )
        assert not run_generation(cat, cfg, web).done
        assert {"frontier", "seen", "pages", "links"} <= set(sizes)
        assert max(sizes.values()) < 64 * 1024, sizes


class TestJobAttribution:
    def test_generation_jobs_stay_in_callers_job_group(self, spark, tmp_path_factory):
        """Every Spark job a generation starts — including those of its
        concurrent table writes — runs in the caller's job group, so
        setJobGroup/cancelJobGroup and per-group job counts cover them."""
        web = SynthWebConfig(n_hosts=3, pages_per_host=8)
        cfg = CrawlConfig(max_pages=12, max_depth=2, horizon=5.0, num_shards=8)
        cat = init_crawl(
            spark, str(tmp_path_factory.mktemp("attribution")), _seeds_df(spark, web), cfg
        )
        sc = spark.sparkContext
        st = sc.statusTracker()
        group, marker = f"gen-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"

        def marker_jobs() -> set[int]:
            """Ids of the jobs of one marker action. Job ids are
            sequential, so a marker before and one after the generation
            bracket every job it started."""
            known = set(st.getJobIdsForGroup(marker))
            sc.setJobGroup(marker, "bracket")
            spark.range(1).count()
            deadline = time.time() + 10
            while time.time() < deadline:
                new = set(st.getJobIdsForGroup(marker)) - known
                if new:
                    return new
                time.sleep(0.1)
            raise AssertionError("the marker job never reached the status store")

        try:
            first = max(marker_jobs())
            sc.setJobGroup(group, "run_generation")
            run_generation(cat, cfg, web)
            last = min(marker_jobs())
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        started = set(range(first + 1, last))
        assert started, "the generation started no Spark job"
        deadline = time.time() + 10
        while not started <= set(st.getJobIdsForGroup(group)) and time.time() < deadline:
            time.sleep(0.2)  # job-start events reach the status store asynchronously
        assert started - set(st.getJobIdsForGroup(group)) == set()


class TestStressEquivalence:
    """All semantic paths at once: AIMD error/slow/fast branches, transport
    failures, robots crawl-delays, disallowed slots, hot-host salting and
    the politeness window — engine must still match the simulator exactly."""

    def test_combined_config(self, spark, tmp_path_factory):
        # pages_per_host >= 18 so /private/17 exists — disallowed on even
        # hosts (synth robots: Disallow /private*, Allow only /private/7)
        web = SynthWebConfig(
            n_hosts=6, pages_per_host=20, error_rate=0.1, fail_rate=0.1,
            hot_host_share=0.4,
        )
        cfg = CrawlConfig(
            max_pages=60, max_depth=3, horizon=4.0, num_shards=8, hot_host_salt=4,
        )
        root = str(tmp_path_factory.mktemp("stress_crawl"))
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=60)
        sim = simulate(_seed_list(web), cfg, web)

        order, seen, hs, m = engine_state(cat)
        assert [u for u, _, _ in order] == [u for _, u, _, _ in sim.crawl_order]
        assert seen == sim.seen
        sim_hs = {
            h: (round(s.min_delay, 9), round(s.current_delay, 9), round(s.last_fetch, 9), s.errors)
            for h, s in sim.host_state.items()
        }
        assert hs == sim_hs
        for k in ("urls_processed", "urls_skipped", "urls_disallowed",
                  "bytes_downloaded", "urls_failed"):
            assert m.get(k, 0) == sim.metrics[k], k
        # the stress fixture must actually exercise every path
        assert m["urls_disallowed"] > 0 and m["urls_failed"] > 0
        assert any(s.current_delay != 1.0 for s in sim.host_state.values())
