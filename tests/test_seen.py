"""Seen-set operator: exactness, sketch acceleration, deletes, append.

The gate: filter_unseen over a seen table committed bucket-pure through
the Catalog must equal the plain anti-join answer on every input (bloom
false positives get verified; bloom misses are proofs). Mirrors
is_visited/mark_visited_bulk (redis_helper.c:210-262).
"""

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.catalog import Catalog
from web_scraper_spark.functions.urlops import with_url_identity
from web_scraper_spark.operators import seen as seen_ops

NUM_SHARDS = 8


def _append_seen(cat, keys_df, generation=0):
    """Append keys to the catalog's seen table bucket-pure, as the crawl
    does (stage_append_cow + commit); return (seen, bucket_files)."""
    cat.stage_append_cow("seen", keys_df.select("url_sha1", "shard"), "shard")
    cat.commit(generation=generation, t0=0.0)
    return cat.read("seen"), cat.bucket_files("seen")


def _antijoin(urls, seen):
    return {r["url"] for r in urls.join(seen.select("url_sha1"), "url_sha1", "left_anti").collect()}


@pytest.fixture(scope="module")
def urls(spark):
    df = spark.createDataFrame(
        [(f"http://h{i % 5}.test/p/{i}",) for i in range(400)], ["url"]
    )
    return with_url_identity(df, num_shards=NUM_SHARDS).cache()


def test_append_and_exact_membership(spark, urls, tmp_path):
    first = urls.filter(F.col("url").rlike("/p/[0-9]$"))  # 10 urls
    seen, bf = _append_seen(Catalog(spark, str(tmp_path)), first)
    got = {r["url"] for r in seen_ops.filter_unseen(urls, seen, None, bf).collect()}
    assert got == _antijoin(urls, seen)
    assert got == {r["url"] for r in urls.collect()} - {r["url"] for r in first.collect()}


def test_filter_unseen_matches_pure_antijoin(spark, urls, tmp_path):
    half = urls.filter("pmod(crc32(url), 2) = 0")
    seen, bf = _append_seen(Catalog(spark, str(tmp_path)), half)
    sk_df = seen_ops.build_sketches(seen, capacity=1024)
    assert {r["shard"] for r in sk_df.select("shard").collect()} == {
        r["shard"] for r in seen.select("shard").distinct().collect()
    }

    got = {
        r["url"] for r in seen_ops.filter_unseen(urls, seen, sk_df, bf).collect()
    }
    assert got == _antijoin(urls, seen)
    assert len(got) == 400 - half.count()


def test_seen_without_lineage_is_refused(spark, urls):
    """A seen table without bucket lineage has no membership path; no
    seen table at all means nothing is seen yet."""
    seen = urls.limit(10).select("url_sha1", "shard")
    sk = seen_ops.build_sketches(seen, capacity=1024)
    with pytest.raises(ValueError, match="bucket lineage"):
        seen_ops.filter_unseen(urls, seen, sk)
    assert seen_ops.filter_unseen(urls, None, sk) is urls


def test_incremental_sketch_update_equals_rebuild(spark, urls, tmp_path):
    a = urls.filter("pmod(crc32(url), 3) = 0")
    b = urls.filter("pmod(crc32(url), 3) = 1")
    cat = Catalog(spark, str(tmp_path))
    seen_a, _ = _append_seen(cat, a)
    sk_a = seen_ops.build_sketches(seen_a, capacity=1024)
    sk_ab = seen_ops.update_sketches(
        spark, sk_a, b.select("url_sha1", "shard"), NUM_SHARDS, capacity=1024
    )
    seen_ab, bf_ab = _append_seen(cat, b, generation=1)
    # the incremental sketches must still answer dedup exactly
    got = {r["url"] for r in seen_ops.filter_unseen(urls, seen_ab, sk_ab, bf_ab).collect()}
    assert got == _antijoin(urls, seen_ab)


def test_delete_supports_force_rescrape(spark, urls, tmp_path):
    sub = urls.limit(50)
    cat = Catalog(spark, str(tmp_path))
    seen, _ = _append_seen(cat, sub)
    sk = seen_ops.build_sketches(seen, capacity=1024)
    victim = sub.limit(10)
    # delete the way api.clear_url does: a bucket-pure rewrite of seen
    # without the keys
    cat.stage_cow("seen", seen.join(victim.select("url_sha1"), "url_sha1", "left_anti"), "shard", None)
    cat.commit(generation=1, t0=0.0)
    seen2, bf2 = cat.read("seen"), cat.bucket_files("seen")
    sk2 = seen_ops.update_sketches(
        spark,
        sk,
        spark.createDataFrame([], "url_sha1 string, shard int"),
        NUM_SHARDS,
        capacity=1024,
        deletes=victim.select("url_sha1", "shard"),
    )
    # deleted urls must come back as unseen (exactness preserved)
    got = {r["url"] for r in seen_ops.filter_unseen(urls, seen2, sk2, bf2).collect()}
    assert {r["url"] for r in victim.collect()} <= got
    assert got == _antijoin(urls, seen2)
    assert len(got) == 400 - 40


def test_autoscale_rebuilds_overflowing_shard(spark, urls, tmp_path):
    """A shard whose key count outgrows its bloom is rebuilt at >=2x size
    from the authoritative rows; untouched shards carry byte-identically.
    Without the rescale the bloom saturates silently (fpp -> 1) and the
    membership accelerator degrades to reading every touched shard."""
    cap = 64  # Bloom.for_capacity floor — ~200 keys/shard below overflow it
    urls = with_url_identity(
        spark.createDataFrame(
            [(f"http://o{i % 5}.test/q/{i}",) for i in range(1600)], ["url"]
        ),
        num_shards=NUM_SHARDS,
    ).cache()
    first = urls.limit(120).select("url_sha1", "shard")
    cat = Catalog(spark, str(tmp_path))
    seen0, _ = _append_seen(cat, first)
    sk0 = seen_ops.build_sketches(seen0, capacity=cap).cache()
    bytes0 = {r["shard"]: (bytes(r["bloom"]), int(r["n"])) for r in sk0.collect()}

    rest = (
        urls.select("url_sha1", "shard")
        .join(first.select("url_sha1"), "url_sha1", "left_anti")
    )
    # confine the delta to ONE shard so the others must carry byte-identically
    target = rest.groupBy("shard").count().orderBy(F.desc("count")).first()["shard"]
    delta = rest.filter(F.col("shard") == target)
    n_delta = delta.count()
    assert n_delta + bytes0.get(target, (b"", 0))[1] > cap  # really overflows

    sk1 = seen_ops.update_sketches_autoscale(
        spark, sk0, delta, seen0, NUM_SHARDS, capacity=cap
    ).cache()
    rows1 = {r["shard"]: (bytes(r["bloom"]), int(r["n"])) for r in sk1.collect()}
    # overflowing shard: rebuilt bigger, exact n
    assert len(rows1[target][0]) > len(bytes0[target][0])
    assert rows1[target][1] == bytes0[target][1] + n_delta
    # every other shard: byte-identical carry
    for sh, (b0, n0) in bytes0.items():
        if sh != target:
            assert rows1[sh] == (b0, n0), sh
    # and the accelerated gate still equals the pure anti-join
    seen1, bf1 = _append_seen(cat, delta, generation=1)
    got = seen_ops.filter_unseen(urls, seen1, sk1, bf1)
    want = urls.join(seen1.select("url_sha1"), "url_sha1", "left_anti")
    assert {r["url_sha1"] for r in got.collect()} == {
        r["url_sha1"] for r in want.collect()
    }
    sk0.unpersist(); sk1.unpersist()
