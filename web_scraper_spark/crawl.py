"""The crawl engine: set-oriented generation loop with snapshot commits.

One reference worker iteration (process_url_thread, url_processor.c:28-183)
becomes one *generation* of DataFrame transforms over the whole batch
(SURVEY.md §3.1). Per generation g over virtual clock window [t0, t0+H):

1. pop-gate   candidates = frontier ⋉̸ seen        (is_visited, c:46-84;
              the skipped rows leave the frontier and count urls_skipped)
2. admit      politeness slots per host (scheduler.admit_batch — the
              rate_limiter_wait + ZSET-pop-order analog)
3. robots     fetch rules for admitted hosts not yet cached (T4), apply
              Crawl-delay to host_state, decide allow/deny (P4-P6);
              disallowed rows are dropped WITHOUT entering the seen set
              (c:111-118 frees the task before mark_visited) but their
              politeness slot stays consumed (the C waits before checking)
4. fetch      mapInPandas batch fetch (S1) of allowed rows; transport
              failures upsert into fetch_failures and retry with
              generation-unit backoff, at most retry_count attempts (T7)
5. extract    ONE analyze UDF pass: title/meta/sentiment/links/images (P8-P13)
6. push       new links: canonicalize (P1) → sha1 → seen-gate
              (extract_hrefs.c:139-143: gated against seen EXCLUDING this
              batch — the reference marks visited only AFTER extraction) →
              ZADD-upsert dedup (min priority per url)
7. mark       seen ∪= batch (mark_visited_bulk, c:167-169) — append-only
8. fold       AIMD host-state update in slot order (T2) + sketch update
9. commit     stage frontier/seen/sketches/robots/host_state/pages/
              dedup_index/links/images/fetch_failures CONCURRENTLY: each
              write (and each metric-only count) is its own Spark job from
              one driver thread pool, in the caller's job group; they
              share materialized inputs and meet only at the commit point. Then
              ONE atomic snapshot publishes them all + per-partition
              lineage + metrics (urls_processed, urls_skipped,
              urls_disallowed, bytes_downloaded — stats.h:8-15; bytes is
              an observed metric of the pages write). A generation that
              raises anywhere publishes nothing (Catalog.abort). Kill the
              process anywhere: resume() restarts from the last committed
              generation with byte-identical results (tested).

Ordering contract (SURVEY.md §3.4): `oracle=True` runs batch-of-1
generations with an unbounded horizon — the admitted row is always the
global (priority asc, url_canon asc) minimum, i.e. exactly the reference's
ZSET pop sequence; `crawl_rank` then reproduces the C crawl order
one-to-one. Batched mode keeps the same per-generation sort as the
concatenation order.

Scale shape per generation: one shuffle by host (admission window), one
shuffle by url_sha1 (dedup/anti-join), Arrow-vectorized Python stages only;
seen/pages/links appends are O(delta) via Catalog.stage_append; the
frontier commits via shard-level copy-on-write (Catalog.stage_cow — the
Iceberg partition-overwrite pattern): only shards touched by an admission,
a seen-skip, a terminal failure or a new/retried url are recomputed and
rewritten, every other shard's files carry forward untouched, so the
frontier commit is O(touched shards) instead of O(frontier). seen and
dedup_index (by shard) and robots and host_state (by host bucket) are
bucket-pure after every commit in the same way.

A frame that several steps read (frontier, batch, fetched pages, ...) is
materialized as a lazy local checkpoint, not a .cache(): a checkpoint is a
leaf, so every plan built on it stays a few KB. Spark renders a plan's
description (explainString + SparkPlanInfo) when each SQL execution starts
and again on every AQE stage update, and nested cached frames print their
whole cached plans inline — MB per write, ~170 MB of plan text per
generation of the 64×200 benchmark web. run_generation frees every
checkpoint when it ends (spark.catalog.clearCache does not reach them).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from . import schemas
from .catalog import Catalog, Snapshot
from .config import ROBOTS_TTL_SECONDS, CrawlConfig
from .functions import textops
from .functions.urlops import (
    canonicalize,
    host_bucket_expr,
    host_expr,
    normalize_path_expr,
    sha1_expr,
    shard_expr,
    split_base_path_exprs,
)
from .operators import robots as robots_ops
from .operators import scheduler as sched
from .operators import seen as seen_ops
from .sources import fetch as fetch_src
from .synth import SynthWebConfig


# Version of the on-disk table schemas this engine writes. Bumped when a
# committed table gains/changes a column (v3: pages.meta + long crawl_rank,
# robots.fetch_seq, bucket-pure seen; v4: robots.host_bucket — bucket-pure
# robots + host_state). Pinned in snapshot metrics exactly like num_shards:
# resuming onto an older catalog would stage_append new-schema delta files
# into old-schema tables (a read schema that depends on which parquet file
# Spark samples first) and meet tables without bucket lineage, so a pre-v4
# catalog is refused and must be re-crawled.
SCHEMA_V = 4


@dataclass
class GenerationResult:
    generation: int
    fetched: int
    skipped: int
    disallowed: int
    frontier_size: int
    done: bool


def _with_identity(df: DataFrame, num_shards: int) -> DataFrame:
    return (
        df.withColumn("url_sha1", sha1_expr(F.col("url_canon")))
        .withColumn("host", host_expr(F.col("url_canon")))
        .withColumn("shard", shard_expr(F.col("url_sha1"), num_shards))
    )


def init_crawl(
    spark: SparkSession,
    catalog_root: str,
    seeds: DataFrame,
    cfg: CrawlConfig,
) -> Catalog:
    """Bootstrap snapshot 0: seeds → frontier (enqueue-seed analog,
    main.c:290-310), empty seen/robots/host_state."""
    cat = Catalog(spark, catalog_root)
    frontier = (
        seeds.select(
            F.col("url"),
            canonicalize(F.lit("http://seed.invalid/"), F.col("url")).alias("url_canon"),
            F.col("priority").cast("int").alias("priority"),
        )
        .filter(F.col("url_canon").isNotNull())
        .withColumn("depth", F.lit(0))
        .withColumn("parent_url", F.lit(None).cast("string"))
        .withColumn("discovered_at", F.lit(0).cast("long"))
    )
    frontier = _with_identity(frontier, cfg.num_shards).select(
        "url", "url_canon", "url_sha1", "host", "shard",
        "priority", "depth", "parent_url", "discovered_at",
    )
    # ZADD upsert on the seed list itself (duplicate seeds keep min priority)
    frontier = upsert_frontier(frontier)
    # bucket-pure COW write from the start: generation 1 can already carry
    # untouched shards at file level
    cat.stage_cow("frontier", frontier, "shard", None)
    cat.commit(generation=0, t0=0.0, metrics={
        "urls_processed": 0, "urls_skipped": 0, "urls_disallowed": 0,
        "bytes_downloaded": 0, "crawl_rank_next": 0,
        # sharding parameters are part of the persisted state contract:
        # resume asserts num_shards so sketch shard ids can't silently
        # desync (bloom_fpp is informational — sketches embed their params)
        "num_shards": cfg.num_shards, "bloom_fpp": cfg.bloom_fpp,
        "num_host_buckets": cfg.num_host_buckets,
        "schema_v": SCHEMA_V,
    })
    return cat

def run_generation(
    cat: Catalog,
    cfg: CrawlConfig,
    web: SynthWebConfig,
) -> GenerationResult:
    """Advance the crawl by one generation; commits exactly one snapshot.
    If any step raises, the generation publishes nothing: everything
    staged in the catalog is dropped (cat.abort), so no later commit by any
    caller can publish a half-written generation, and every frame the
    generation materialized is released, on success and failure alike."""
    frames: list = []  # every frame the generation materializes
    try:
        return _generation(cat, cfg, web, frames)
    except BaseException:
        cat.abort()
        raise
    finally:
        _release(frames)


def _release(frames: list[DataFrame]) -> None:
    """Free the blocks of every registered frame: a local checkpoint's
    RDD (spark.catalog.clearCache does not reach it) or a frame
    persisted through an operator's `registry`."""
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
        else:
            df.unpersist(blocking=True)


def _generation(
    cat: Catalog, cfg: CrawlConfig, web: SynthWebConfig, frames: list
) -> GenerationResult:
    """run_generation's body; registers every frame it materializes in
    `frames`."""
    spark = cat.spark
    # the frames behind the checkpoints, held until the generation ends:
    # Spark drops a garbage-collected plan's SQL-metric accumulators, and
    # each task that later computes a lazy checkpoint of it would log an
    # error per metric update
    sources: list[DataFrame] = []

    def materialized(df: DataFrame) -> DataFrame:
        """A lazy local checkpoint of `df`: computed once, at its first
        action, and a leaf for every plan built on it (see the module
        docstring). With AQE its shuffle stages run here, at the call."""
        sources.append(df)
        df = df.localCheckpoint(eager=False)
        frames.append(df)
        return df

    snap = cat.current_snapshot()
    assert snap is not None, "init_crawl first"
    if cfg.transport not in ("synth", "http"):
        raise ValueError(f"unknown transport {cfg.transport!r} (synth|http)")
    g = snap.generation
    t0 = snap.t0
    total_processed = int(snap.metrics.get("urls_processed", 0))
    rank_next = int(snap.metrics.get("crawl_rank_next", 0))

    # num_shards determines shard ids inside the persisted seen/sketch
    # tables: resuming with a different value would silently desync the
    # sketch probe from the data (missing-shard ⇒ "certainly unseen")
    stored_shards = snap.metrics.get("num_shards")
    if stored_shards is not None and int(stored_shards) != cfg.num_shards:
        raise ValueError(
            f"snapshot was written with num_shards={stored_shards}; "
            f"resume requires the same value (got {cfg.num_shards})"
        )
    # same pin for the host-keyed bucket count: host_state/robots bucket
    # lineage is keyed by host_bucket_expr(host, B) — resuming with a
    # different B would prune reads against the wrong buckets
    stored_hb = snap.metrics.get("num_host_buckets")
    if stored_hb is not None and int(stored_hb) != cfg.num_host_buckets:
        raise ValueError(
            f"snapshot was written with num_host_buckets={stored_hb}; "
            f"resume requires the same value (got {cfg.num_host_buckets})"
        )
    # schema pin (mirrors the num_shards pin): see SCHEMA_V
    stored_schema = snap.metrics.get("schema_v")
    if stored_schema != SCHEMA_V and any(
        t in snap.tables for t in ("pages", "robots")
    ):
        raise ValueError(
            f"catalog tables were written with schema_v={stored_schema} "
            f"(engine is at {SCHEMA_V}); a pre-v{SCHEMA_V} catalog cannot be "
            f"resumed and must be re-crawled"
        )

    # budget exhausted: stop BEFORE the pop-gate, leaving the frontier and
    # every other table untouched (the simulator's exact termination order:
    # budget is checked before the next pop would count more skips) — a
    # later resume with a raised max_pages continues where this stopped.
    # Staging an empty frontier here (the old behavior) destroyed all
    # pending work on the budget-stop generation.
    if cfg.max_pages and total_processed >= cfg.max_pages:
        return GenerationResult(g, 0, 0, 0, 0, True)

    frontier = cat.read("frontier")
    if frontier is None or not frontier.head(1):
        return GenerationResult(g, 0, 0, 0, 0, True)
    seen = cat.read("seen")
    # bucket-pure lineage of the seen table (stage_append_cow): both seen
    # gates below verify membership shard-aligned against exactly the
    # touched shards' files — the full table is never shuffled (VERDICT r2
    # "what's wrong" #1).
    seen_files = cat.bucket_files("seen", snap)
    sketch_df = cat.read("seen_sketch")
    # robots is NOT read here: the rules table grows with every host ever
    # fetched, and a generation only needs the batch hosts' rules — the
    # bucket-pruned read happens after the batch is known (step 3 below).
    #
    # host_bucket is a persisted partition key, not engine state — drop it
    # on read so every in-memory fold/union stays schema-stable; it is
    # re-derived (pure function of host) at commit time.
    host_state = (
        cat.read("host_state") or sched.default_host_state(spark)
    ).drop("host_bucket")
    failures = cat.read("fetch_failures")

    frontier = materialized(frontier)

    # -------- 1. pop-gate: drop frontier rows already seen (urls_skipped).
    # force_rescrape bypasses the visited check (url_processor.c:47-53)
    if cfg.force_rescrape:
        candidates = frontier
    else:
        candidates = seen_ops.filter_unseen(
            frontier, seen, sketch_df, bucket_files=seen_files
        )
    n_frontier = frontier.count()
    if candidates is frontier:  # forced, or nothing seen yet
        n_candidates = n_frontier
    else:
        candidates = materialized(candidates)
        n_candidates = candidates.count()
    n_skipped = n_frontier - n_candidates
    if n_candidates == 0:
        # drained: every remaining frontier row was already seen — popping
        # them all (empty frontier) IS the correct final state; every other
        # table carries forward through the commit
        cat.stage_cow("frontier", candidates.limit(0), "shard", None, snap)
        m = dict(snap.metrics)
        m["urls_skipped"] = m.get("urls_skipped", 0) + n_skipped
        m["schema_v"] = SCHEMA_V
        cat.commit(generation=g + 1, t0=t0, metrics=m)
        return GenerationResult(g, 0, n_skipped, 0, 0, True)

    # -------- 1b. T7 retry cooldown: urls in failure backoff stay IN the
    # frontier but are not eligible this generation. Terminal rows (GIVEUP
    # sentinel) are dropped from the frontier here — they can only be
    # present transiently via a same-generation rediscovery race, and
    # keeping them would make the frontier never drain.
    if failures is not None:
        cooling = failures.filter(F.col("next_retry_gen") > F.lit(g)).select("url_sha1")
        terminal_keys = failures.filter(
            F.col("next_retry_gen") >= F.lit(schemas.GIVEUP_GEN)
        ).select("url_sha1")
        eligible = candidates.join(cooling, "url_sha1", "left_anti")
    else:
        terminal_keys = None
        eligible = candidates

    # -------- 2. politeness admission
    budget_left = (cfg.max_pages - total_processed) if cfg.max_pages else None
    if cfg.oracle_mode:
        batch = sched.admit_batch(
            eligible, host_state, t0, horizon=math.inf,
            salt=cfg.hot_host_salt, max_batch=1, registry=frames,
        )
    else:
        batch = sched.admit_batch(
            eligible, host_state, t0, horizon=cfg.horizon,
            salt=cfg.hot_host_salt, max_batch=budget_left, registry=frames,
        )
    batch = materialized(batch)

    # -------- 3. robots refresh + decision
    # Bucket-pruned robots read (the per-domain Redis key analog,
    # robots_parser.c:398-408): the rules table is committed bucket-pure by
    # host_bucket, so this generation opens ONLY the batch hosts' buckets'
    # files — O(batch-host buckets), never a scan of every rule ever
    # fetched. A table that does not exist yet is an empty bucket map.
    now = int(t0)
    robots_files = cat.bucket_files("robots", snap) or {}
    # distinct host buckets of this batch — shared by the robots bucket
    # prune here and the host_state COW commit below (one collect job per
    # generation, not two). Computed lazily: with no robots or host_state
    # files to open (generation 0) neither needs it.
    _batch_hb_cache: list[int] = []

    def batch_host_buckets() -> list[int]:
        if not _batch_hb_cache:
            _batch_hb_cache.append(
                sorted(
                    int(r["hb"])
                    for r in batch.select(
                        host_bucket_expr(F.col("host"), cfg.num_host_buckets).alias("hb")
                    )
                    .distinct()
                    .collect()
                )
            )
        return _batch_hb_cache[0]

    rb_paths = [
        p for b in (batch_host_buckets() if robots_files else [])
        for p in robots_files.get(str(b), [])
    ]
    robots = spark.read.parquet(*rb_paths).drop("host_bucket") if rb_paths else None
    need = robots_ops.hosts_needing_robots(batch, robots, now, ROBOTS_TTL_SECONDS)
    if cfg.transport == "http":
        # per-host scheme from this batch's urls (robots_parser.c:183-189
        # builds <scheme>://<host>/robots.txt the same way)
        schemes = batch.groupBy("host").agg(
            F.min(F.substring_index("url_canon", "://", 1)).alias("scheme")
        )
        fetched_bodies = fetch_src.fetch_robots_http(
            need.join(schemes, "host", "left"),
            timeout_s=float(cfg.request_timeout),
            user_agent=cfg.user_agent,
            concurrency=cfg.http_concurrency,
        )
    else:
        fetched_bodies = fetch_src.fetch_robots(need, web)
    # materialized: the robots write below and robots_batch both read it,
    # and recomputing it would fetch every robots.txt twice
    new_rules = materialized(
        robots_ops.rules_from_corpus(fetched_bodies, fetched_at=now, fetch_seq=g + 1)
    )
    robots_all = new_rules if robots is None else robots.unionByName(new_rules)

    # restrict the rules table to this batch's hosts up front: the full
    # robots table grows with every host ever crawled and stops being
    # broadcastable at frontier scale; the per-generation slice is bounded
    # by hosts-in-batch (left_semi prunes it with one small shuffle). Both
    # the crawl-delay application and the decision join only ever need
    # this slice (delay application is an idempotent max, so re-applying
    # on later batches is a no-op).
    robots_batch = materialized(robots_all.join(
        batch.select("host").distinct(), "host", "left_semi"
    ))
    host_state = sched.ensure_hosts(host_state, batch)
    host_state = sched.apply_crawl_delays(host_state, robots_batch)

    _, path_col = split_base_path_exprs(F.col("url_canon"))
    with_path = batch.withColumn("norm_path", normalize_path_expr(path_col))
    decided = materialized(robots_ops.decide_allowed(with_path, robots_batch))
    allowed = decided.filter(F.col("allowed")).drop("allowed", "norm_path")
    disallowed = decided.filter(~F.col("allowed")).drop("allowed", "norm_path")

    # -------- 4 + 5. fetch + extract (one Arrow pipeline).
    # Transport failures (content null — the curl-error path) are never
    # marked seen (url_processor.c:121-131). T7 engine contract on top of
    # the C's drop-and-rediscover: failed rows persist in fetch_failures,
    # return to the frontier, and are retried after a generation-unit
    # backoff of (attempts-1)*retry_delay, at most retry_count attempts.
    if cfg.transport == "http":
        fetched_all = materialized(fetch_src.fetch_pages_http(
            allowed,
            timeout_s=float(cfg.request_timeout),
            user_agent=cfg.user_agent,
            retries=cfg.http_inbatch_retries,
            concurrency=cfg.http_concurrency,
        ))
    else:
        fetched_all = materialized(fetch_src.fetch_pages(allowed, web))
    fetched = fetched_all.filter(F.col("content").isNotNull())
    failed = fetched_all.filter(F.col("content").isNull())
    counts = fetched_all.agg(F.count("content"), F.count(F.lit(1))).first()
    n_fetched, n_failed = counts[0], counts[1] - counts[0]

    prev_attempts = (
        failures.select("url_sha1", "attempts")
        if failures is not None
        else spark.createDataFrame([], "url_sha1 string, attempts int")
    )
    backoff = max(1, int(cfg.retry_delay))
    fail_rows = materialized(
        failed.select("url_sha1", "url_canon", "host")
        .join(prev_attempts, "url_sha1", "left")
        .withColumn("attempts", (F.coalesce(F.col("attempts"), F.lit(0)) + 1).cast("int"))
        .withColumn("last_gen", F.lit(g).cast("long"))
        .withColumn(
            "next_retry_gen",
            F.when(
                F.col("attempts") >= F.lit(cfg.retry_count),
                F.lit(schemas.GIVEUP_GEN),
            )
            .otherwise(F.lit(g + 1) + (F.col("attempts") - 1) * F.lit(backoff))
            .cast("long"),
        )
    )

    # single-pass analysis (P13): one Arrow transfer of content, one parse
    # per document → title/meta/sentiment/links/images together
    analyzed = materialized(
        fetched.withColumn("_an", textops.analyze_udf(F.col("content")))
        .withColumn("title", F.col("_an.title"))
        .withColumn("description", F.col("_an.description"))
        .withColumn("keywords", F.col("_an.keywords"))
        .withColumn("sentiment", F.col("_an.sentiment"))
        .withColumn("meta", F.col("_an.meta"))
        .withColumn("language", F.lit("en"))  # analyze_content placeholder (content_analyzer.c:289)
        .withColumn("links", F.col("_an.links"))
        .withColumn("images", F.col("_an.images"))
        .drop("_an")
    )

    # crawl_rank: per-generation (priority, url_canon) order, globally
    # cumulative. Batched mode uses the exact two-phase global rank — no
    # single-partition window over the batch (scheduler.with_global_rank);
    # oracle mode fetches ≤1 row per generation by construction, where the
    # plain window is free and the two-phase machinery would add ~2 shuffles
    # × hundreds of batch-of-1 generations.
    if cfg.oracle_mode:
        from pyspark.sql import Window

        w1 = Window.orderBy(F.col("priority").asc(), F.col("url_canon").asc())
        ranked_pages = analyzed.withColumn("crawl_rank", F.row_number().over(w1))
    else:
        ranked_pages = sched.with_global_rank(
            analyzed, ["priority", "url_canon"], "crawl_rank", registry=frames
        )
    pages_new = ranked_pages.withColumn(
        # cast BOTH rank paths (oracle row_number int, batched long) to the
        # declared PAGES LongType — mixed int32/int64 parquet files would
        # make the table's read schema file-order-dependent, and int32
        # silently wraps past 2^31 rows at the documented 10^10 scale
        "crawl_rank", (F.col("crawl_rank") + F.lit(rank_next) - 1).cast("long")
    ).select(
        F.col("url_canon").alias("url"),
        "url_sha1",
        "host",
        "content",
        "content_type",
        "status",
        F.length("content").cast("long").alias("content_size"),
        "response_ms",
        F.lit(g).cast("long").alias("fetched_at"),
        F.col("fetch_time"),
        "crawl_rank",
        "depth",
        "title",
        "description",
        "keywords",
        "meta",
        "sentiment",
        "language",
        # empty/null keywords → empty ARRAY, not [''] (split of '' yields a
        # single empty-string element — a phantom topic on keyword-less pages)
        F.when(
            F.length(F.coalesce(F.col("keywords"), F.lit(""))) > 0,
            F.split(F.col("keywords"), ","),
        ).otherwise(F.array().cast("array<string>")).alias("topics"),
    )

    # -------- 6. discovered links → canonicalize → gate → upsert
    exploded = analyzed.select(
        F.col("url_canon").alias("parent_url"),
        F.col("depth").alias("parent_depth"),
        F.explode_outer("links").alias("href"),
    )
    from .functions.urlops import junk_href

    links_new = materialized(
        exploded.filter(~junk_href(F.col("href")))  # pre-filter: see junk_href
        .withColumn("to_url", canonicalize(F.col("parent_url"), F.col("href")))
        # canonicalize maps structurally-unresolvable hrefs (e.g. a bare
        # '//' with no authority) to null — dropped, like the sim does
        .filter(F.col("to_url").isNotNull())
        .select(F.col("parent_url").alias("from_url"), "to_url", "parent_depth")
    )

    new_frontier_rows = (
        links_new.filter(F.col("parent_depth") < cfg.max_depth)
        .select(
            F.col("to_url").alias("url"),
            F.col("to_url").alias("url_canon"),
            F.lit(1).alias("priority"),  # all discovered links at priority 1 (extract_hrefs.c:142)
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("from_url").alias("parent_url"),
            F.lit(g + 1).cast("long").alias("discovered_at"),
        )
    )
    new_frontier_rows = _with_identity(new_frontier_rows, cfg.num_shards)
    # seen-gate at push time (extract_hrefs.c:139-143) — against PRE-batch seen
    new_frontier_rows = seen_ops.filter_unseen(
        new_frontier_rows, seen, sketch_df, bucket_files=seen_files
    )
    # T7: terminally-failed urls are never re-enqueued by rediscovery
    # (gen-start failure state, like the pre-batch seen gate)
    if terminal_keys is not None:
        new_frontier_rows = new_frontier_rows.join(terminal_keys, "url_sha1", "left_anti")

    # frontier' = (frontier ∖ admitted ∖ skipped) ∪ retryable-failed ∪ new,
    # ZADD-upsert dedup. Non-terminal failed rows go BACK into the frontier
    # (their original rows — priority/depth preserved) so the T7 backoff can
    # re-admit them; terminal rows stay out (GIVEUP sentinel in failures).
    #
    # Committed via partition-level copy-on-write (catalog.stage_cow): only
    # shards touched by a removal (admitted, seen-skipped, terminal) or an
    # addition (new url, retry) are recomputed + rewritten; every other
    # shard's files carry forward untouched. Exactness relies on shard =
    # f(url_sha1): a ZADD-upsert collision between a new url and an
    # existing row can only happen INSIDE one shard, so the bucket-local
    # groupBy equals the global one. At 10^10-frontier scale this turns the
    # per-generation frontier commit from O(frontier) into O(touched).
    new_frontier_rows = materialized(new_frontier_rows)
    retry_rows = candidates.join(
        fail_rows.filter(F.col("next_retry_gen") < F.lit(schemas.GIVEUP_GEN)).select("url_sha1"),
        "url_sha1",
        "left_semi",
    )

    # shards with seen-skip drops: cheap per-shard count diff (both sides
    # materialized; the joined result is ≤ num_shards rows)
    if cfg.force_rescrape:
        skip_shards = spark.createDataFrame([], "shard int")
    else:
        fcnt = frontier.groupBy("shard").agg(F.count(F.lit(1)).alias("fn"))
        ccnt = candidates.groupBy("shard").agg(F.count(F.lit(1)).alias("cn"))
        skip_shards = (
            fcnt.join(ccnt, "shard", "left")
            .filter(F.coalesce(F.col("cn"), F.lit(0)) != F.col("fn"))
            .select("shard")
        )
    changed_df = (
        batch.select("shard")
        .unionByName(new_frontier_rows.select("shard"))
        .unionByName(skip_shards)
    )
    if terminal_keys is not None:
        changed_df = changed_df.unionByName(
            candidates.join(terminal_keys, "url_sha1", "left_semi").select("shard")
        )

    def stage_frontier() -> None:
        changed = sorted(int(r["shard"]) for r in changed_df.distinct().collect())
        keep = candidates.filter(F.col("shard").isin(changed)).join(
            batch.select("url_sha1"), "url_sha1", "left_anti"
        )
        if terminal_keys is not None:
            keep = keep.join(terminal_keys, "url_sha1", "left_anti")
        frontier_delta = upsert_frontier(
            keep.select(*schemas_frontier_cols())
            .unionByName(retry_rows.select(*schemas_frontier_cols()))
            .unionByName(new_frontier_rows.select(*schemas_frontier_cols()))
        )
        cat.stage_cow("frontier", frontier_delta, "shard", changed, snap)

    # -------- 7 + 8. mark seen, fold host state, update sketches
    batch_keys = (
        batch.select("url_sha1", "shard")
        .join(disallowed.select("url_sha1"), "url_sha1", "left_anti")
        .join(failed.select("url_sha1"), "url_sha1", "left_anti")
    )
    seen_next_delta = batch_keys.dropDuplicates(["url_sha1"])
    if cfg.force_rescrape and seen is not None:
        # force bypasses the pop-gate, so the batch can contain urls that
        # are ALREADY seen — appending them again would duplicate keys in
        # the bucket-pure seen table forever (compaction unions without a
        # key dedup) and double-insert cuckoo fingerprints. Keep the seen
        # table exactly-once per key.
        seen_next_delta = seen_next_delta.join(
            seen.select("url_sha1"), "url_sha1", "left_anti"
        )

    def stage_sketch() -> None:
        # autoscale: a shard whose key count outgrows its bloom is rebuilt
        # at >=2x from the authoritative seen rows (bucket-pure files =>
        # the rebuild reads only that shard); without this the bloom
        # saturates silently at ~capacity keys/shard and the membership
        # accelerator degrades to reading every touched shard's files
        cat.stage("seen_sketch", seen_ops.update_sketches_autoscale(
            spark, sketch_df, seen_next_delta, seen, cfg.num_shards,
            capacity=seen_ops.DEFAULT_SHARD_CAPACITY, fpp=cfg.bloom_fpp,
        ))

    no_aimd = disallowed.select("host", "host_rank", "fetch_time").unionByName(
        failed.select("host", "host_rank", "fetch_time")
    )
    results = fetched.select("host", "host_rank", "fetch_time", "status", "response_ms").unionByName(
        no_aimd.select(
            "host", "host_rank", "fetch_time",
            F.lit(None).cast("int").alias("status"),
            F.lit(None).cast("int").alias("response_ms"),
        )
    )

    # -------- 9. stage every table, then ONE atomic commit. The writes
    # share materialized inputs and meet only at the commit point, so they run
    # as concurrent Spark jobs (_stage_concurrently); a failed write leaves
    # nothing staged (run_generation aborts). Every cfg.compact_every generations the append-only tables
    # are rewritten in-commit (small-file compaction — the Iceberg
    # rewrite_data_files analog) instead of appended.
    compact_now = cfg.compact_every and (g + 1) % cfg.compact_every == 0

    def _compacted(table, delta, dedup_cols):
        old = cat.read(table, snap)
        full = delta if old is None else old.unionByName(delta)
        # global PK dedup on rewrite (links ON CONFLICT DO NOTHING analog,
        # data_store.c:151-165 — re-crawled pages under force_rescrape can
        # rediscover the same edge)
        return full.dropDuplicates(dedup_cols) if dedup_cols else full

    def _append(table, delta, dedup_cols=None):
        if compact_now:
            cat.stage(table, _compacted(table, delta, dedup_cols))
        else:
            cat.stage_append(table, delta, snap)

    def _append_cow(table, delta, bucket_col, dedup_cols=None):
        """_append for a bucket-pure table: both the O(delta) append and
        the compaction rewrite keep file-level bucket lineage."""
        if compact_now:
            cat.stage_cow(table, _compacted(table, delta, dedup_cols), bucket_col, None, snap)
        else:
            cat.stage_append_cow(table, delta, bucket_col, snap)

    # seen is committed BUCKET-PURE: this is what lets the next generation's
    # membership checks read O(touched shards) of seen
    def stage_seen() -> None:
        _append_cow("seen", seen_next_delta.select("url_sha1", "shard"), "shard")

    # robots + host_state are committed BUCKET-PURE by host_bucket (r3
    # verdict items 1-2 — the same disease the seen table had in r2, one
    # size smaller): the per-generation write cost is O(this generation's
    # delta) and untouched buckets' files carry forward at manifest level.
    _hb = host_bucket_expr(F.col("host"), cfg.num_host_buckets)

    def stage_robots() -> None:
        _append_cow("robots", new_rules.withColumn("host_bucket", _hb), "host_bucket")

    def stage_host_state() -> None:
        # host_state delta fold: only the batch hosts' new rows (O(batch),
        # never O(hosts-ever-seen) — rate_limiter.c's O(1) per-domain
        # update). Materialized: it feeds both the carry anti-join and the write
        # below, and Catalyst would otherwise duplicate the applyInPandas
        # subtree.
        hs_cols = [f.name for f in schemas.HOST_STATE.fields]
        hs_delta = materialized(sched.fold_host_state(host_state, results))
        # carry-forward INSIDE changed buckets: untouched hosts sharing a
        # bucket with a batch host, read from only those buckets' files.
        # The changed buckets are the batch hosts' buckets (every batch row
        # lands in fetched/disallowed/failed, so touched hosts == batch
        # hosts). With no files to carry (generation 0) the delta is the
        # whole table.
        hs_files = cat.bucket_files("host_state", snap) or {}
        hs_changed = batch_host_buckets() if hs_files else None
        hs_paths = [p for b in hs_changed or [] for p in hs_files.get(str(b), [])]
        if hs_paths:
            hs_delta = hs_delta.unionByName(
                spark.read.parquet(*hs_paths)
                .select(*hs_cols)
                .join(hs_delta.select("host"), "host", "left_anti")
            )
        cat.stage_cow(
            "host_state", hs_delta.withColumn("host_bucket", _hb), "host_bucket",
            hs_changed, snap,
        )

    # bytes_downloaded rides on the pages write as an observed metric (no
    # job of its own; an Observation fires for one plan only, so only the
    # pages write carries it). With no fetched page there is nothing to
    # sum.
    bytes_obs = Observation() if n_fetched else None

    def stage_pages() -> None:
        pages = pages_new
        if bytes_obs is not None:
            pages = pages.observe(bytes_obs, F.sum("content_size").alias("bytes"))
        _append("pages", pages)

    # dedup_index maintenance (r4 verdict item 1): one (id=url, fp, sh)
    # row per page THIS generation commits, appended bucket-pure by the
    # url_sha1 shard — the materialized index dedup_keep_ids_incremental
    # consumes as ``old_index``, so a "train on new data only" pass over a
    # later batch never rescans shipped pages' content. O(delta) per
    # generation: one md5 + one simhash pass over the fetched batch.
    # force_rescrape re-fetches can duplicate (id, fp, sh) rows;
    # compaction is where the exact dups collapse. Read from `analyzed`,
    # not pages_new: the rows are the same (the crawl_rank join is 1:1 by
    # url_canon), and the index needs no rank, so its write skips the
    # with_global_rank subtree.
    def stage_dedup_index() -> None:
        page_rows = analyzed.select(F.col("url_canon").alias("url"), "url_sha1", "content")
        _append_cow(
            "dedup_index", _dedup_index_rows(page_rows, cfg.num_shards), "shard",
            dedup_cols=["id", "fp", "sh"],
        )

    def stage_links() -> None:
        _append(
            "links",
            links_new.select("from_url", "to_url").dropDuplicates(),
            dedup_cols=["from_url", "to_url"],
        )

    def stage_page_images() -> None:
        _append("page_images", analyzed.select(
            F.col("url_canon").alias("page_url"), F.explode_outer("images").alias("img")
        ).select(
            "page_url",
            F.col("img.src").alias("src"),
            F.col("img.alt").alias("alt"),
            F.col("img.width").alias("width"),
            F.col("img.height").alias("height"),
        ).filter(F.col("src").isNotNull()))

    # fetch_failures upsert: attempts-this-generation replace their old
    # rows (failed → fail_rows, succeeded → cleared); everything else —
    # cooling, terminal, and not-attempted rows — carries forward. The
    # table is bounded by currently-failing urls, so a full rewrite per
    # generation stays O(failures), not O(crawl).
    def stage_fetch_failures() -> None:
        resolved_keys = fetched.select("url_sha1").unionByName(failed.select("url_sha1"))
        carried = (
            failures.join(resolved_keys, "url_sha1", "left_anti")
            if failures is not None
            else spark.createDataFrame([], schemas.FETCH_FAILURES)
        )
        fail_cols = [f.name for f in schemas.FETCH_FAILURES.fields]
        cat.stage("fetch_failures", carried.select(*fail_cols).unionByName(
            fail_rows.select(*fail_cols)
        ))

    tasks = {
        "frontier": stage_frontier,
        "seen": stage_seen,
        "seen_sketch": stage_sketch,
        "robots": stage_robots,
        "host_state": stage_host_state,
        "pages": stage_pages,
        "dedup_index": stage_dedup_index,
        "links": stage_links,
        "page_images": stage_page_images,
        "n_disallowed": disallowed.count,
    }
    if failures is not None or n_failed > 0:
        tasks["fetch_failures"] = stage_fetch_failures
    if cfg.oracle_mode:
        # time advances to the single fetch's slot (the C sleeps to it)
        tasks["t_next"] = lambda: batch.select(F.max("fetch_time")).collect()[0][0]
    out = _stage_concurrently(cat, tasks)
    n_disallowed = out["n_disallowed"]
    bytes_dl = bytes_obs.get["bytes"] if bytes_obs is not None else 0
    if cfg.oracle_mode:
        t_next = float(out["t_next"]) if out["t_next"] is not None else t0
    else:
        t_next = t0 + cfg.horizon
    metrics = {
        "urls_processed": total_processed + n_fetched,
        "urls_skipped": int(snap.metrics.get("urls_skipped", 0)) + n_skipped,
        "urls_disallowed": int(snap.metrics.get("urls_disallowed", 0)) + n_disallowed,
        "bytes_downloaded": int(snap.metrics.get("bytes_downloaded", 0)) + int(bytes_dl),
        "urls_failed": int(snap.metrics.get("urls_failed", 0)) + n_failed,
        "crawl_rank_next": rank_next + n_fetched,
        "num_shards": cfg.num_shards,
        "num_host_buckets": cfg.num_host_buckets,
        "bloom_fpp": cfg.bloom_fpp,
        "schema_v": SCHEMA_V,
    }
    snap_next = cat.commit(generation=g + 1, t0=t_next, metrics=metrics)

    # automated retention on the compaction cadence (r3 verdict missing #2):
    # compaction just rewrote the append tables, so the superseded version
    # dirs + old manifests beyond the retention window are garbage now —
    # expiring here bounds manifest/file counts over a 10^6-generation
    # crawl (the reference's Redis EXPIRE analog, cache.c:143)
    if compact_now and cfg.retention_keep_last:
        cat.expire_snapshots(keep_last=cfg.retention_keep_last)

    # exact frontier size for free from the just-committed manifest (row
    # counts come from parquet footers at write time) — a cat.read(...)
    # .count() here would re-scan the whole frontier every generation
    n_frontier_next = int(snap_next.tables.get("frontier", {}).get("rows", 0))
    done = n_frontier_next == 0 or (
        cfg.max_pages and metrics["urls_processed"] >= cfg.max_pages
    )
    return GenerationResult(g, n_fetched, n_skipped, n_disallowed, n_frontier_next, bool(done))


def _stage_concurrently(cat: Catalog, tasks: dict[str, Callable[[], Any]]) -> dict[str, Any]:
    """Run a generation's independent writes and metric actions as
    concurrent Spark jobs from one driver thread pool; return each task's
    result by name. Every callable is wrapped in inheritable_thread_target,
    so its jobs stay in the caller's job group (setJobGroup /
    cancelJobGroup) and carry its local properties and job tags. Every
    future is joined before the first task error is re-raised
    (run_generation then drops everything staged)."""
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(cat.spark)(fn))
            for name, fn in tasks.items()
        }
    return {name: f.result() for name, f in futures.items()}


def _dedup_index_rows(pages: DataFrame, num_shards: int) -> DataFrame:
    """(id=url, fp, sh, shard) dedup-index rows for a pages frame — the
    same kernels as dedupops.dedup_index (md5-60 fingerprint + 60-bit
    simhash of the page content as text), plus the engine's stable
    url_sha1-derived shard as the bucket-pure partition key."""
    from .functions.dedupops import simhash_expr
    from .functions.textanalysis import md5_60_expr

    content_txt = F.col("content").cast("string")
    return pages.select(
        F.col("url").alias("id"),
        md5_60_expr(content_txt).alias("fp"),
        simhash_expr(content_txt).alias("sh"),
        shard_expr(F.col("url_sha1"), num_shards).alias("shard"),
    )


def schemas_frontier_cols() -> list[str]:
    return [
        "url", "url_canon", "url_sha1", "host", "shard",
        "priority", "depth", "parent_url", "discovered_at",
    ]


def upsert_frontier(rows: DataFrame) -> DataFrame:
    """ZADD-min upsert on url_canon — the single frontier-merge rule
    (shared by init/reseed/generation): duplicate discoveries collapse to
    per-column mins. min(priority) and min(depth) are the simulator-pinned
    contract (oracle_sim.py:101-104 — a shallower rediscovery re-opens
    expansion, the C's ZADD-min analog); url/url_sha1/host/shard are
    functions of url_canon, so min is identity; parent_url/discovered_at
    take min purely for determinism (first-by-ordering lineage)."""
    return (
        rows.groupBy("url_canon")
        .agg(
            F.min("priority").alias("priority"),
            F.min("url").alias("url"),
            F.min("url_sha1").alias("url_sha1"),
            F.min("host").alias("host"),
            F.min("shard").alias("shard"),
            F.min("depth").alias("depth"),
            F.min("parent_url").alias("parent_url"),
            F.min("discovered_at").alias("discovered_at"),
        )
        .select(*schemas_frontier_cols())
    )


def reseed_crawl(cat: Catalog, seeds: DataFrame, cfg: CrawlConfig) -> Catalog:
    """Re-running the binary with a seed list against existing state
    (main.c:290-310 on a warm Redis): seeds are unioned into the existing
    frontier (ZADD upsert); all other tables carry forward. With
    cfg.force_rescrape the next generations will re-fetch seeds that are
    already in the seen set (url_processor.c:47-53); without it they are
    skipped at the pop gate."""
    snap = cat.current_snapshot()
    assert snap is not None
    seed_rows = (
        seeds.select(
            F.col("url"),
            canonicalize(F.lit("http://seed.invalid/"), F.col("url")).alias("url_canon"),
            F.col("priority").cast("int").alias("priority"),
        )
        .filter(F.col("url_canon").isNotNull())
        .withColumn("depth", F.lit(0))
        .withColumn("parent_url", F.lit(None).cast("string"))
        .withColumn("discovered_at", F.lit(snap.generation).cast("long"))
    )
    seed_rows = _with_identity(seed_rows, cfg.num_shards).select(*schemas_frontier_cols())
    old = cat.read("frontier")
    merged = seed_rows if old is None else old.unionByName(seed_rows)
    merged = upsert_frontier(merged)
    cat.stage_cow("frontier", merged, "shard", None)
    cat.commit(generation=snap.generation, t0=snap.t0, metrics=dict(snap.metrics))
    return cat


def run_crawl(
    spark: SparkSession,
    catalog_root: str,
    seeds: DataFrame,
    cfg: CrawlConfig,
    web: SynthWebConfig,
    max_generations: int = 1000,
) -> Catalog:
    """Full fixed-point crawl: init + generations until drained/budget."""
    cat = init_crawl(spark, catalog_root, seeds, cfg)
    return resume_crawl(cat, cfg, web, max_generations)


def resume_crawl(
    cat: Catalog,
    cfg: CrawlConfig,
    web: SynthWebConfig,
    max_generations: int = 1000,
) -> Catalog:
    """Continue from the last committed snapshot (byte-identical resume)."""
    for _ in range(max_generations):
        res = run_generation(cat, cfg, web)
        if res.done:
            break
    return cat
