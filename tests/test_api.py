"""API surface (reference entry points 2/3 + invalidation) and the
fetch-failure / force_rescrape crawl semantics."""

import pytest
from conftest import jobs_started
from pyspark.sql import functions as F

from oracle_sim import sha1_hex, simulate
from web_scraper_spark import api
from web_scraper_spark.config import CrawlConfig
from web_scraper_spark.crawl import run_crawl
from web_scraper_spark.synth import SynthWebConfig, page_url, seed_url_rows


def _seeds_df(spark, web):
    rows = seed_url_rows(web)
    return spark.createDataFrame([(r["url"], r["priority"]) for r in rows], ["url", "priority"])


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    web = SynthWebConfig(n_hosts=3, pages_per_host=8)
    cfg = CrawlConfig(max_pages=12, max_depth=2, horizon=6.0, num_shards=8)
    root = str(tmp_path_factory.mktemp("api_crawl"))
    cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=20)
    return cat, web, cfg


class TestAnalyzeUrl:
    def test_cache_hit(self, spark, crawled):
        cat, web, _ = crawled
        url = cat.read("pages").select("url").first()["url"]
        out = api.analyze_url(spark, cat, url, web).collect()
        assert len(out) == 1 and out[0]["cached"] is True
        assert out[0]["title"] is not None

    def test_cache_miss_fetches(self, spark, crawled):
        cat, web, _ = crawled
        # a URL outside the crawl budget → fresh single-row fetch
        url = page_url(2, 6)
        out = api.analyze_url(spark, cat, url, web).collect()
        assert len(out) == 1 and out[0]["cached"] is False
        assert out[0]["title"].startswith("Page ")


class TestTrendingTopics:
    def test_topk_deterministic(self, spark, crawled):
        cat, _, _ = crawled
        out = api.trending_topics(cat, k=5).collect()
        assert 1 <= len(out) <= 5
        assert [r["rk"] for r in out] == list(range(1, len(out) + 1))
        freqs = [r["frequency"] for r in out]
        assert freqs == sorted(freqs, reverse=True)


    def test_growth_invariant_under_partitioning(self, spark, crawled):
        """growth_rate must come from the NEWEST generation regardless of
        physical partitioning (regression: F.last was order-nondeterministic
        after a shuffle; now max_by on gen)."""
        cat, _, _ = crawled
        base = {r["topic"]: (r["frequency"], r["growth_rate"]) for r in api.trending_topics(cat, k=20).collect()}
        for parts in (1, 8):
            pages = cat.read("pages").repartition(parts)

            class _FakeCat:
                def read(self, t):
                    return pages if t == "pages" else None

            got = {
                r["topic"]: (r["frequency"], r["growth_rate"])
                for r in api.trending_topics(_FakeCat(), k=20).collect()
            }
            assert got == base, f"parts={parts}"


class TestTrendPayload:
    def test_related_and_sources_complete_payload(self, spark, crawled):
        """trend_data_t completeness (types.h:31-39): every top-k row
        carries related_topics (co-occurring, latest generation) and
        sources (top hosts), deterministically ordered, and both are
        partitioning-invariant."""
        cat, _, _ = crawled
        out = api.trending_topics(cat, k=5).collect()
        assert out, "crawl produced topics"
        pages = cat.read("pages").collect()
        hosts = {r["host"] for r in pages}
        for r in out:
            assert isinstance(r["related_topics"], list)
            assert isinstance(r["sources"], list)
            assert len(r["sources"]) >= 1  # topic came from some page
            assert set(r["sources"]) <= hosts
            assert r["topic"] not in r["related_topics"]
        # deterministic under physical partitioning
        base = {r["topic"]: (tuple(r["related_topics"]), tuple(r["sources"])) for r in out}
        pg = cat.read("pages").repartition(7)

        class _FakeCat:
            def read(self, t):
                return pg if t == "pages" else None

        got = {
            r["topic"]: (tuple(r["related_topics"]), tuple(r["sources"]))
            for r in api.trending_topics(_FakeCat(), k=5).collect()
        }
        assert got == base

    def test_sources_are_topic_hosts(self, spark, crawled):
        """sources must be exactly the most frequent hosts among pages
        carrying the topic (count desc, host asc) — checked against a
        driver-side recomputation."""
        from collections import Counter

        cat, _, _ = crawled
        out = api.trending_topics(cat, k=3, n_related=2).collect()
        pages = cat.read("pages").collect()
        for r in out:
            c = Counter(
                p["host"] for p in pages for t in (p["topics"] or []) if t == r["topic"]
            )
            expect = [h for h, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]]
            assert r["sources"] == expect, r["topic"]


class TestCanon:
    def test_canon_starts_no_job(self, spark):
        """_canon's one-row frame is a LocalRelation: the canonicalize
        projection folds into it on the driver and head(1) reads it there,
        so canonicalizing a user URL starts no Spark job."""
        out = []
        assert jobs_started(
            spark, lambda: out.append(api._canon(spark, "/a/./b/../c#frag"))
        ) == []
        assert out == ["http://seed.invalid/a/c"]


class TestClearUrl:
    def test_invalidate_then_unseen(self, spark, crawled):
        cat, web, cfg = crawled
        url = cat.read("pages").select("url").first()["url"]
        api.clear_url(cat, url, cfg.num_shards)
        snap = cat.commit(
            generation=cat.current_snapshot().generation + 1,
            t0=cat.current_snapshot().t0,
            metrics=cat.current_snapshot().metrics,
        )
        seen = {r["url_sha1"] for r in cat.read("seen").collect()}
        assert sha1_hex(url) not in seen
        assert cat.read("pages").filter(F.col("url") == url).count() == 0
        # commit after clear_url must NOT drop the untouched tables from the
        # snapshot (regression: only staged tables get published)
        before = set(cat.snapshot(snap.parent_id).tables)
        assert set(snap.tables) == before
        for t in ("frontier", "robots", "host_state", "seen_sketch", "links"):
            if t in before:
                assert t in snap.tables, t


class TestShardPinning:
    def test_resume_rejects_num_shards_change(self, spark, crawled):
        """num_shards is pinned in the snapshot metadata: resuming with a
        different value would desync sketch shard ids ('missing shard' ⇒
        'certainly unseen') and re-crawl seen URLs."""
        from web_scraper_spark.crawl import run_generation

        cat, web, cfg = crawled
        assert cat.current_snapshot().metrics.get("num_shards") == cfg.num_shards
        bad = CrawlConfig(
            max_pages=12, max_depth=2, horizon=6.0, num_shards=cfg.num_shards * 2
        )
        with pytest.raises(ValueError, match="num_shards"):
            run_generation(cat, bad, web)


class TestFetchFailures:
    def test_failed_fetch_not_marked_seen_and_matches_sim(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=3, pages_per_host=8, fail_rate=0.2)
        cfg = CrawlConfig(
            max_pages=15, max_depth=2, horizon=6.0, num_shards=8,
            retry_count=2, retry_delay=1,
        )
        root = str(tmp_path_factory.mktemp("fail_crawl"))
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=25)
        sim = simulate([(r["url"], r["priority"]) for r in seed_url_rows(web)], cfg, web)

        m = cat.current_snapshot().metrics
        assert m.get("urls_failed", 0) == sim.metrics["urls_failed"]
        assert m["urls_failed"] > 0, "fixture should produce failures"
        seen = {r["url_sha1"] for r in cat.read("seen").collect()}
        assert seen == sim.seen
        order = [r["url"] for r in cat.read("pages").orderBy("crawl_rank").collect()]
        assert order == [u for _, u, _, _ in sim.crawl_order]

        # T7 contract: the fetch_failures table tracks per-url attempts
        # exactly like the sim; synth failures are permanent, so retried
        # urls accumulate attempts up to retry_count and go terminal
        from web_scraper_spark.schemas import GIVEUP_GEN

        ft = cat.read("fetch_failures")
        assert ft is not None
        got = {r["url_canon"]: r["attempts"] for r in ft.collect()}
        assert got == dict(sim.failures)
        assert m["urls_failed"] == sum(got.values()), "one metric count per attempt"
        terminal = {
            r["url_canon"] for r in ft.filter(F.col("next_retry_gen") >= GIVEUP_GEN).collect()
        }
        assert terminal == {u for u, a in got.items() if a >= cfg.retry_count}
        assert any(a > 1 for a in got.values()), "fixture should exercise retries"
        # terminal urls must not be marked seen and not be in the frontier
        from oracle_sim import sha1_hex as _sha

        fr = {r["url_canon"] for r in (cat.read("frontier") or ft.limit(0)).collect()}
        for u in terminal:
            assert _sha(u) not in seen and u not in fr


class TestForceRescrape:
    """C semantics: the push gate (extract_hrefs.c:139-143) blocks visited
    URLs from re-entering the queue regardless of force_rescrape; the flag
    matters when already-visited URLs sit IN the queue — i.e. re-running
    the binary with the same seeds (url_processor.c:47-53)."""

    def test_reseed_without_force_skips(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=2, pages_per_host=5)
        root = str(tmp_path_factory.mktemp("force_a"))
        # budget ABOVE the corpus: the crawl DRAINS (frontier empty), so the
        # reseeded seeds are the only frontier rows and the pop gate's skip
        # counting is what this test isolates. (A budget-stopped crawl now
        # preserves its pending frontier and a same-budget resume is a
        # no-op — see test_budget_stop_preserves_frontier_and_resumes.)
        cfg = CrawlConfig(max_pages=50, max_depth=1, horizon=6.0, num_shards=8)
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=10)
        first_pages = cat.read("pages").count()
        skipped0 = cat.current_snapshot().metrics["urls_skipped"]

        from web_scraper_spark.crawl import reseed_crawl, resume_crawl

        reseed_crawl(cat, _seeds_df(spark, web), cfg)
        resume_crawl(cat, cfg, web, max_generations=3)
        # seeds already seen → skipped at the pop gate, no new pages
        assert cat.read("pages").count() == first_pages
        assert cat.current_snapshot().metrics["urls_skipped"] > skipped0

    def test_reseed_with_force_refetches(self, spark, tmp_path_factory):
        web = SynthWebConfig(n_hosts=2, pages_per_host=5)
        root = str(tmp_path_factory.mktemp("force_b"))
        cfg = CrawlConfig(max_pages=6, max_depth=1, horizon=6.0, num_shards=8)
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=10)
        first_pages = cat.read("pages").count()

        from web_scraper_spark.crawl import reseed_crawl, run_generation

        cfg2 = CrawlConfig(
            max_pages=6 + 3, max_depth=1, horizon=6.0, num_shards=8, force_rescrape=True
        )
        reseed_crawl(cat, _seeds_df(spark, web), cfg2)
        run_generation(cat, cfg2, web)
        pages = cat.read("pages")
        assert pages.count() > first_pages
        dup_urls = pages.groupBy("url").count().filter("count > 1").count()
        assert dup_urls > 0
        # the SEEN table stays exactly-once per key even though force
        # bypassed the pop gate (re-marking would duplicate bucket-pure
        # rows forever)
        seen = cat.read("seen")
        assert seen.count() == seen.select("url_sha1").distinct().count()

    def test_budget_stop_preserves_frontier_and_resumes(self, spark, tmp_path_factory):
        """Hitting max_pages must STOP, not destroy: the frontier survives
        the budget-stop generation untouched (the simulator's termination
        order — budget is checked before the next pop), a same-budget
        resume is a no-op, and a raised-budget resume continues the crawl
        from exactly where it stopped."""
        from web_scraper_spark.crawl import resume_crawl

        web = SynthWebConfig(n_hosts=3, pages_per_host=6)
        root = str(tmp_path_factory.mktemp("budget"))
        cfg = CrawlConfig(max_pages=4, max_depth=2, horizon=6.0, num_shards=8)
        cat = run_crawl(spark, root, _seeds_df(spark, web), cfg, web, max_generations=20)
        m1 = cat.current_snapshot().metrics
        assert m1["urls_processed"] == 4
        frontier_before = {
            r["url_canon"] for r in cat.read("frontier").select("url_canon").collect()
        }
        assert frontier_before, "budget stop should leave pending work"
        # same budget: no-op resume, frontier byte-identical
        resume_crawl(cat, cfg, web, max_generations=3)
        assert {
            r["url_canon"] for r in cat.read("frontier").select("url_canon").collect()
        } == frontier_before
        # raised budget: continues where it stopped
        cfg2 = CrawlConfig(max_pages=9, max_depth=2, horizon=6.0, num_shards=8)
        resume_crawl(cat, cfg2, web, max_generations=20)
        assert cat.current_snapshot().metrics["urls_processed"] == 9
