"""Host-bucketed politeness scheduler + AIMD rate state, set-oriented.

Reference semantics being reproduced (rate_limiter.c, clean-room):

- rate_limiter_wait (c:86-104): a host's next request waits until
  ``now - last_request >= current_delay``;
- rate_limiter_update (c:107-135): AIMD —
    status >= 400 → consecutive_errors++; at 3 → delay = min(delay*2, 60),
    errors reset; success → errors = 0, then
    response_time > delay → delay = min(delay*1.5, 60);
    response_time < delay/2 → delay = max(delay*0.8, min_delay);
- rate_limiter_set_crawl_delay (c:140-146): min_delay = max(robots, 1.0),
  current = max(current, min);
- new host (c:40-47): min=current=1.0, last_request=0, errors=0.

Batch re-expression (SURVEY.md §2.7 T1/T2): each generation covers a
virtual-time window [t0, t0+H). Admission is **pure DataFrame algebra**
(no Python):

    rank candidates per host by (priority asc, url_canon asc)   — the ZSET
                     pop order within a host (redis_helper.c:274-276)
    base       = max(last_fetch + current_delay, t0)
    fetch_time = base + (rank-1) * current_delay                — slot stride
    admitted   = fetch_time < t0 + H

current_delay is frozen for the window (two-phase contract); after the
fetch, ``fold_host_state`` replays AIMD per host in slot order and advances
``last_fetch`` for the next generation. The per-host politeness invariant —
consecutive fetch times exactly current_delay apart, never before
last_fetch + delay — holds by construction and is property-tested.

Skew (hot hosts): a mega-host can put millions of candidate rows into one
window partition while only ~H/delay of them can possibly be admitted. We
therefore pre-prune with a salted two-stage top-K (rank within (host, salt)
→ keep K → exact rank over survivors): no task ever ranks more than
|host-candidates|/s rows, and the exact stage sees ≤ s*K rows per host.
This is grouped-rank salting — AQE fixes join skew but not window skew, so
it's explicit (SURVEY.md §4.3).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..config import (
    ERROR_PENALTY,
    FAST_FACTOR,
    MAX_CONSECUTIVE_ERRORS,
    MAX_DELAY,
    MIN_DELAY,
    SLOW_FACTOR,
)

# --------------------------------------------------------------------------
# host state init / crawl-delay application
# --------------------------------------------------------------------------


def default_host_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], schemas.HOST_STATE)


def ensure_hosts(host_state: DataFrame, hosts: DataFrame) -> DataFrame:
    """Add rows for unseen hosts with reference defaults
    (get_domain_rate, rate_limiter.c:40-47)."""
    new = (
        hosts.select("host")
        .distinct()
        .join(host_state.select("host"), "host", "left_anti")
        .select(
            "host",
            F.lit(MIN_DELAY).alias("min_delay"),
            F.lit(MIN_DELAY).alias("current_delay"),
            F.lit(0.0).alias("last_fetch"),
            F.lit(0).cast("int").alias("consecutive_errors"),
        )
    )
    return host_state.unionByName(new)


def apply_crawl_delays(host_state: DataFrame, robots: DataFrame | None) -> DataFrame:
    """rate_limiter_set_crawl_delay over the robots table:
    min_delay = max(crawl_delay, 1.0); current = max(current, min)."""
    if robots is None:
        return host_state
    from .robots import latest_rules

    # latest fetch per host only: a refreshed robots.txt OVERWRITES the old
    # delay (robots_parser.c re-SETs the host key), it doesn't max with it
    delays = (
        latest_rules(robots)
        .filter(F.col("crawl_delay").isNotNull())
        .groupBy("host")
        .agg(F.max("crawl_delay").alias("robots_delay"))
    )
    return (
        host_state.join(delays, "host", "left")  # size-based strategy (see admit_batch note)
        .withColumn(
            "min_delay",
            F.when(
                F.col("robots_delay").isNotNull(),
                F.greatest(F.col("robots_delay"), F.lit(MIN_DELAY)),
            ).otherwise(F.col("min_delay")),
        )
        .withColumn("current_delay", F.greatest(F.col("current_delay"), F.col("min_delay")))
        .drop("robots_delay")
    )


# --------------------------------------------------------------------------
# exact global ranking without a single-partition window
# --------------------------------------------------------------------------


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "global_rank",
    key_cols: tuple[str, ...] = ("url_canon",),
    num_ranges: int | None = None,
    registry: list | None = None,
) -> DataFrame:
    """Exact global row_number over ascending `order_cols` — never one task.

    A partitionBy-less ``Window.orderBy`` funnels every row through ONE
    task (Exchange SinglePartition) — fine at batch scale, fatal when the
    admitted set hits 10^7+ rows. Instead:

      1. project a slim (order_cols + key_cols) view and range-repartition
         it by the order keys (parallel sampled sort — each output
         partition holds a contiguous, disjoint key range);
      2. row_number within each range partition (parallel windows);
      3. global rank = local rank + sum of earlier partitions' row counts
         (the offset table is ≤ num_ranges rows, broadcast back);
      4. join ranks back onto the full rows by `key_cols`.

    The slim view is **persisted**: the rank window and the count aggregate
    must observe the SAME physical partitioning, and two independently
    planned range exchanges would each sample boundaries with their own
    RDD-id-derived seed (column pruning makes the subtrees non-identical,
    defeating exchange reuse). One InMemoryRelation ⇒ one RDD lineage ⇒
    consistent spark_partition_id across both consumers. The cached slice
    is key columns only (~tens of bytes/row). Callers that loop pass
    `registry` and unpersist after their action.

    (order_cols + key_cols) must be a strict total order / unique key so
    the result is uniquely determined by the data — independent of
    partitioning, sampling and scheduling, which keeps resume
    byte-identical. The only single-partition work left is the offset
    cumulative-sum over the tiny per-partition count table.
    """
    from pyspark import StorageLevel

    if num_ranges is None:
        num_ranges = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    order = [F.col(c).asc() for c in order_cols]
    slim_cols = list(dict.fromkeys([*order_cols, *key_cols]))
    slim = (
        df.select(*slim_cols)
        .repartitionByRange(num_ranges, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if registry is not None:
        registry.append(slim)
    w_local = Window.partitionBy("_pid").orderBy(*order)
    local = slim.withColumn("_lrn", F.row_number().over(w_local))
    cnts = slim.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    ranks = (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .select(*key_cols, rank_col)
    )
    return df.join(ranks, list(key_cols))


# --------------------------------------------------------------------------
# admission (pure DataFrame; salted two-stage top-K for hot hosts)
# --------------------------------------------------------------------------


def admit_batch(
    candidates: DataFrame,
    host_state: DataFrame,
    t0: float,
    horizon: float,
    salt: int = 8,
    max_batch: int | None = None,
    registry: list | None = None,
) -> DataFrame:
    """Select + slot this generation's fetch batch.

    candidates: frontier rows with (url_canon, host, priority, ...).
    Returns candidates + (host_rank, fetch_time) for admitted rows only.
    Deterministic given (candidates, host_state, t0).
    """
    # K = max slots any host can get this window (ceil(H/min_delay) bound);
    # oracle mode passes horizon=inf with max_batch=1 → cap K to the batch
    if math.isinf(horizon):
        k_cap = max_batch if max_batch is not None else 1 << 30
    else:
        k_cap = int(horizon / MIN_DELAY) + 1

    order = [F.col("priority").asc(), F.col("url_canon").asc()]

    # ---- stage 1 (salted partial top-K): bound per-task rank width.
    # Salt key is a stable function of the url (not Spark's partition id) so
    # the result — and thus resume — is deterministic.
    salted = candidates.withColumn(
        "_salt", F.pmod(F.crc32(F.col("url_canon")), F.lit(salt)).cast("int")
    )
    w_salt = Window.partitionBy("host", "_salt").orderBy(*order)
    pruned = (
        salted.withColumn("_srn", F.row_number().over(w_salt))
        .filter(F.col("_srn") <= k_cap)
        .drop("_salt", "_srn")
    )

    # ---- stage 2 (exact rank over ≤ salt*K rows per host)
    w_host = Window.partitionBy("host").orderBy(*order)
    ranked = pruned.withColumn("host_rank", F.row_number().over(w_host))

    # no broadcast hint: host_state is small early in a crawl but grows with
    # every host ever seen (10^7-10^8 at frontier scale) — let Catalyst/AQE
    # pick broadcast vs shuffle from actual size statistics
    st = host_state.select("host", "current_delay", "last_fetch")
    slotted = (
        ranked.join(st, "host", "left")
        .withColumn("current_delay", F.coalesce("current_delay", F.lit(MIN_DELAY)))
        .withColumn("last_fetch", F.coalesce("last_fetch", F.lit(0.0)))
        .withColumn(
            "_base",
            F.greatest(F.col("last_fetch") + F.col("current_delay"), F.lit(float(t0))),
        )
        .withColumn(
            "fetch_time",
            F.col("_base") + (F.col("host_rank") - 1) * F.col("current_delay"),
        )
        .filter(F.col("fetch_time") < F.lit(float(t0 + horizon)))
        .drop("_base", "current_delay", "last_fetch")
    )
    if max_batch is not None:
        # global budget (ring-buffer bound analog, scraper.c:22): keep the
        # globally first max_batch rows by (priority, url) — stable order,
        # and never a partitionBy-less Window over the batch:
        # - small budgets (≤ the topK sort fallback threshold) compile to
        #   TakeOrderedAndProject — per-partition top-K merged on the
        #   driver, exact and distributed;
        # - large budgets go through the two-phase exact global rank.
        # Both produce the same unique top-B set (the order is strict).
        if max_batch <= 10_000:
            slotted = slotted.orderBy(*order).limit(max_batch)
        else:
            slotted = (
                with_global_rank(
                    slotted, ["priority", "url_canon"], "_grn", registry=registry
                )
                .filter(F.col("_grn") <= max_batch)
                .drop("_grn")
            )
    return slotted


# --------------------------------------------------------------------------
# AIMD fold (applyInPandas per host over the generation's fetch results)
# --------------------------------------------------------------------------

_FOLD_RESULT = schemas.HOST_STATE


def fold_host_state(host_state: DataFrame, results: DataFrame) -> DataFrame:
    """Replay rate_limiter_update per host in slot order over the batch.

    results: (host, host_rank, fetch_time, status, response_ms). Each host's
    rows are folded sequentially (the C loop is inherently sequential per
    host) but hosts fold in parallel — the same key-parallelism as the rest
    of the engine.

    Returns ONLY the touched hosts' new rows: the bucketed commit carries
    untouched hosts forward at FILE level (crawl.run_generation), so the
    per-generation host-state cost is O(batch hosts), never O(hosts ever
    seen).
    """
    st = host_state.select(
        "host", "min_delay", "current_delay", "last_fetch", "consecutive_errors"
    )
    res = results.select(
        "host",
        "host_rank",
        "fetch_time",
        F.col("status").cast("int").alias("status"),
        (F.col("response_ms").cast("double") / 1000.0).alias("response_s"),
    )
    joined = res.join(st, "host", "left")

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("host_rank")
        first = pdf.iloc[0]
        min_delay = float(first["min_delay"]) if pd.notna(first["min_delay"]) else MIN_DELAY
        delay = (
            float(first["current_delay"]) if pd.notna(first["current_delay"]) else MIN_DELAY
        )
        errors = (
            int(first["consecutive_errors"])
            if pd.notna(first["consecutive_errors"])
            else 0
        )
        for status, rt in zip(pdf["status"], pdf["response_s"]):
            if pd.isna(status):
                # robots-disallowed row: consumed its politeness slot (the C
                # waits BEFORE the robots check, url_processor.c:97-118) but
                # contributes no AIMD update (rate_limiter_update not called)
                continue
            if status >= 400:
                errors += 1
                if errors >= MAX_CONSECUTIVE_ERRORS:
                    delay = min(delay * ERROR_PENALTY, MAX_DELAY)
                    errors = 0
            else:
                errors = 0
                if rt > delay:
                    delay = min(delay * SLOW_FACTOR, MAX_DELAY)
                elif rt < delay / 2:
                    delay = max(delay * FAST_FACTOR, min_delay)
        return pd.DataFrame(
            {
                "host": [key[0]],
                "min_delay": [min_delay],
                "current_delay": [delay],
                "last_fetch": [float(pdf["fetch_time"].max())],
                "consecutive_errors": [errors],
            }
        )

    return joined.groupBy("host").applyInPandas(fold, schema=_FOLD_RESULT)


# --------------------------------------------------------------------------
# pure-python kernel (shared with tests/oracle_sim.py)
# --------------------------------------------------------------------------


def aimd_update_py(
    delay: float, min_delay: float, errors: int, status: int, response_s: float
) -> tuple[float, int]:
    """One rate_limiter_update step; returns (delay', errors')."""
    if status >= 400:
        errors += 1
        if errors >= MAX_CONSECUTIVE_ERRORS:
            delay = min(delay * ERROR_PENALTY, MAX_DELAY)
            errors = 0
    else:
        errors = 0
        if response_s > delay:
            delay = min(delay * SLOW_FACTOR, MAX_DELAY)
        elif response_s < delay / 2:
            delay = max(delay * FAST_FACTOR, min_delay)
    return delay, errors
