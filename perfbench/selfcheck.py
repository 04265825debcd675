"""Show that every output check of the benchmark fails on a perturbed
output. Needs no Spark session:

    python3 perfbench/selfcheck.py

The crawl check is fed the simulator's own result (which passes) and then
copies with one row dropped, two rows swapped, one seen key missing and
one counter off by one; the frontier and curation checks get the same
treatment. Exits 1 if a perturbation goes unnoticed.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "tests"))

from perfbench.workloads import check_crawl, check_frontier, check_rows  # noqa: E402


def crawl_cases():
    from oracle_sim import simulate

    from web_scraper_spark.config import CrawlConfig
    from web_scraper_spark.synth import SynthWebConfig, page_url, seed_url_rows

    web = SynthWebConfig(n_hosts=64, pages_per_host=200, seed=1, hot_host_share=0.3, fail_rate=0.02)
    seeds = [(page_url(k, 0), 1) for k in range(web.n_hosts)] + [
        (r["url"], r["priority"]) for r in seed_url_rows(web)
    ]
    sim = simulate(seeds, CrawlConfig(), web, max_generations=1)
    order = [u for _, u, _, _ in sim.crawl_order]
    seen, m = set(sim.seen), dict(sim.metrics)
    swapped = list(order)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    yield "crawl: simulator output", check_crawl(order, seen, m, sim), True
    yield "crawl: one row dropped", check_crawl(order[1:], seen, m, sim), False
    yield "crawl: two rows swapped", check_crawl(swapped, seen, m, sim), False
    yield "crawl: one seen key missing", check_crawl(order, seen - {next(iter(seen))}, m, sim), False
    yield "crawl: urls_skipped off by one", check_crawl(
        order, seen, {**m, "urls_skipped": m["urls_skipped"] + 1}, sim), False


def frontier_cases():
    plain = {f"k{i}" for i in range(10)}
    batch = [(f"k{i}", f"h{i % 3}") for i in range(6)]
    counts = (10, 10, 10, 10, 10, 10)
    yield "frontier: consistent output", check_frontier(counts, plain, plain, batch, 6, 2), True
    yield "frontier: one unseen key lost", check_frontier(
        (9, 9, 10, 10, 10, 10), plain - {"k0"}, plain, batch, 6, 2), False
    yield "frontier: one key swapped", check_frontier(
        counts, (plain - {"k0"}) | {"x"}, plain, batch, 6, 2), False
    yield "frontier: max rank off by one", check_frontier(
        (10, 10, 10, 10, 10, 11), plain, plain, batch, 6, 2), False
    yield "frontier: host over its slot bound", check_frontier(
        counts, plain, plain, batch + [("k9", "h0")], 7, 2), False
    yield "frontier: admitted row not unseen", check_frontier(
        counts, plain, plain, batch[:-1] + [("x", "h2")], 6, 2), False


def curate_cases():
    cols = ["doc_id", "lang", "lm_score"]
    rows = [(i, "en", 0.5 + i / 7) for i in range(5)]
    yield "curate: same rows", check_rows(cols, rows, cols, list(reversed(rows))), True
    yield "curate: one row dropped", check_rows(cols, rows[1:], cols, rows), False
    yield "curate: one value off", check_rows(
        cols, rows[:-1] + [(4, "en", rows[4][2] + 1e-3)], cols, rows), False
    yield "curate: empty oracle", check_rows(cols, [], cols, []), False


def main() -> int:
    bad = 0
    for cases in (crawl_cases(), frontier_cases(), curate_cases()):
        for name, problems, should_pass in cases:
            ok = (not problems) == should_pass
            bad += not ok
            verdict = "passes" if not problems else f"fails ({problems[0]})"
            print(f"{'ok  ' if ok else 'BAD '} {name}: check {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
