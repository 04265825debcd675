"""Explicit StructType schemas for every engine table (no inference).

The reference fixes all schemas at compile time in C headers
(types.h:5-56, cache.h:13-28, data_store.c:10-35); we do the same in one
module. FIXTURES.md §5 documents the checkpoint schemas.

`local_frame` is the one way the engine turns driver-side Python rows
into a DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame of driver-side `rows` (tuples in `schema` field order)
    built as an Arrow table, so Spark holds it as a JVM LocalRelation.

    createDataFrame on a Python list plans parallelize → Python map →
    LogicalRDD: every scan of it is a stage of Python-worker tasks, and
    the optimizer cannot see through it (an empty one is not pruned, a
    projection over it is not folded). An Arrow table crosses the
    Python boundary once, on the driver, and no Python worker ever
    reads it. `schema` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------- frontier
# One row per pending crawl task (reference url_task_t, types.h:5-10).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("parent_url", T.StringType(), True),
        T.StructField("discovered_at", T.LongType(), False),  # generation no.
    ]
)

# ---------------------------------------------------------------- seen set
# Redis SET visited_urls (redis_helper.c:210-262) → sharded table.
SEEN = T.StructType(
    [
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
    ]
)

# Per-shard sketch rows: the shard's bloom and the key count it holds.
SEEN_SKETCH = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bloom", T.BinaryType(), True),
        T.StructField("n", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------- robots
# Redis LISTs robots:<host>:allow/:disallow (robots_parser.c:266-294).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rule_type", T.StringType(), False),  # 'allow'|'disallow'
        T.StructField("path_pattern", T.StringType(), False),
        T.StructField("rule_len", T.IntegerType(), False),
        T.StructField("crawl_delay", T.DoubleType(), True),
        T.StructField("fetched_at", T.LongType(), False),
        # monotone fetch identity (the crawl passes the generation number):
        # tie-break when two fetches for one host share fetched_at, so
        # overwrite-on-refetch (robots_parser.c:282-283 DELETE+SET) applies
        # exactly one fetch's rules instead of mixing both
        T.StructField("fetch_seq", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------- host state
# In-memory domain_rate_t (rate_limiter.h:9-16) → checkpoint table.
# ---------------------------------------------------------------- failures
# T7 engine contract (SURVEY §2.7): transport-failed fetches persist here
# and are retried with generation-unit backoff, honoring cfg.retry_count /
# cfg.retry_delay. (The C drops the task and relies on rediscovery,
# url_processor.c:121-131 — the table is the engine's documented upgrade.)
FETCH_FAILURES = T.StructType(
    [
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("last_gen", T.LongType(), False),
        # generation at which the url becomes eligible again;
        # GIVEUP_GEN sentinel = terminal (attempts exhausted)
        T.StructField("next_retry_gen", T.LongType(), False),
    ]
)

GIVEUP_GEN = 1 << 62  # next_retry_gen sentinel: never retried


HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("min_delay", T.DoubleType(), False),
        T.StructField("current_delay", T.DoubleType(), False),
        T.StructField("last_fetch", T.DoubleType(), False),  # virtual seconds
        T.StructField("consecutive_errors", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- pages
# Redis HASH cache:<url> + meta:<url> + analysis:<url> (cache.c, cache.h:13-28,
# content_analyzer.c:345-417) + Postgres pages (data_store.c:10-21), unified
# into one wide table written once per generation.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("content_size", T.LongType(), True),
        T.StructField("response_ms", T.IntegerType(), True),
        T.StructField("fetched_at", T.LongType(), False),  # generation no.
        T.StructField("fetch_time", T.DoubleType(), True),  # virtual seconds
        T.StructField("crawl_rank", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), True),
        # content analysis (content_analysis_t, types.h:12-28)
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("keywords", T.StringType(), True),
        # P9 general meta pairs (extract_meta.c:8-60): every name=/property=
        # + content pair incl. OpenGraph, in document order
        T.StructField(
            "meta",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        T.StructField("sentiment", T.DoubleType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("topics", T.ArrayType(T.StringType()), True),
    ]
)

# ---------------------------------------------------------------- links
# Postgres links(from_url, to_url) (data_store.c:30-35).
LINKS = T.StructType(
    [
        T.StructField("from_url", T.StringType(), False),
        T.StructField("to_url", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------- images
# Authoritative input table shape (BASELINE.json input_hint); the reference
# analog is Postgres images(page_url, src, alt, width, height)
# (data_store.c:23-28) with alt == caption.
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

# <img> references extracted from pages (reference extract loop analog of
# extract_hrefs.c:127-147 applied to //img).
PAGE_IMAGES = T.StructType(
    [
        T.StructField("page_url", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("alt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------- synth web
# What the deterministic fetch UDF "serves" (FIXTURES.md §3).
WEB_GRAPH = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField("response_ms", T.IntegerType(), False),
    ]
)

SEED_URLS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

ROBOTS_CORPUS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("body", T.StringType(), False),
    ]
)
