"""Crawl configuration & politeness constants.

Mirrors the reference's compile-time envelope (clean-room, values only):
- rate-limiter constants      — reference rate_limiter.c:10-14
- config defaults             — reference scraper.c:44-58, types.h:42-56
- cache / robots TTL          — reference cache.h:8, robots_parser.c:22
- queue/budget bounds         — reference scraper.c:21-28
"""

from __future__ import annotations

from dataclasses import dataclass

# Politeness / AIMD constants (reference rate_limiter.c:10-14)
MIN_DELAY = 1.0
MAX_DELAY = 60.0
ERROR_PENALTY = 2.0
MAX_CONSECUTIVE_ERRORS = 3
SLOW_FACTOR = 1.5  # response_time > current_delay       (rate_limiter.c:127)
FAST_FACTOR = 0.8  # response_time < current_delay / 2   (rate_limiter.c:130)

# TTLs (reference cache.h:8, robots_parser.c:22)
CACHE_TTL_SECONDS = 86_400
ROBOTS_TTL_SECONDS = 86_400

# Reference concurrency envelope (scraper.c:21-28) — informational
REFERENCE_NUM_THREADS = 8
REFERENCE_QUEUE_SIZE = 1000
MAX_RESPONSE_SIZE = 1_048_576  # 1 MB response cap (scraper.c:28)


@dataclass
class CrawlConfig:
    """Engine-level crawl configuration (reference types.h:42-56 defaults)."""

    max_depth: int = 3            # scraper.c:45
    max_pages: int = 1000         # scraper.c:46
    force_rescrape: bool = False  # scraper.c:53
    user_agent: str = "WebScraperBot/1.0"  # scraper.c:54
    request_timeout: int = 30     # scraper.c:55
    retry_count: int = 3          # scraper.c:56
    retry_delay: int = 5          # scraper.c:57

    # Transport selection: "synth" (deterministic synthetic web — every
    # correctness test) or "http" (real urllib transport, fetch_url.c
    # semantics — pages AND robots.txt fetched over the wire, with
    # request_timeout / user_agent / retry_count honored). Same operator
    # boundary either way, so the crawl plan is identical.
    transport: str = "synth"
    # per-partition I/O thread pool for the http transport (the reference's
    # 8-worker-thread analog, scraper.c:21; multiplies across Spark tasks)
    http_concurrency: int = 8
    # IN-BATCH transport retries for the http transport. Deliberately a
    # separate small constant from retry_count: retry_count is the
    # CROSS-generation T7 fetch_failures budget; wiring it here too would
    # yield up to retry_count² attempts per URL and skew urls_failed.
    http_inbatch_retries: int = 0

    # Engine knobs (no reference analog — Spark-side scale controls)
    horizon: float = 8.0          # politeness window length per generation (s)
    num_shards: int = 32          # seen-set shards (>=4096 at cluster scale)
    # host-keyed state buckets (host_state, robots) — the COW partition
    # grain for per-generation commits/reads of those tables (>=1024 at
    # cluster scale; pinned in the snapshot like num_shards)
    num_host_buckets: int = 32
    hot_host_salt: int = 8        # number of salt sub-shards for hot hosts
    bloom_fpp: float = 0.01
    oracle_mode: bool = False     # batch-of-1 generations → exact ZSET pop order
    compact_every: int = 64       # generations between append-table compactions
    # snapshot retention, applied on the compact_every cadence: expire
    # manifests beyond the newest `retention_keep_last` plus any data files
    # no kept snapshot references (the reference's Redis EXPIRE analog,
    # cache.c:143). Without it a 10^6-generation crawl accretes 10^6
    # manifests + superseded version dirs. None = keep everything.
    # Time travel and read_incremental stay exact WITHIN the window.
    retention_keep_last: int | None = 128
