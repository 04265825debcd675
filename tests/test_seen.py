"""Seen-set operator: exactness, sketch acceleration, deletes, append.

The gate: filter_unseen over a seen table committed bucket-pure through
the Catalog must equal the plain anti-join answer on every input (bloom
false positives get verified; bloom misses are proofs). Mirrors
is_visited/mark_visited_bulk (redis_helper.c:210-262).
"""

import pytest
from conftest import jobs_started
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


def _sketch_rows(sk):
    return {r["shard"]: (bytes(r["bloom"]), int(r["n"])) for r in sk.collect()}


def test_incremental_sketch_update_equals_rebuild(spark, urls, tmp_path):
    a = urls.filter("pmod(crc32(url), 3) = 0")
    b = urls.filter("pmod(crc32(url), 3) = 1")
    cat = Catalog(spark, str(tmp_path))
    seen_a, bf_a = _append_seen(cat, a)
    sk_a = seen_ops.build_sketches(seen_a, capacity=1024)
    sk_ab = seen_ops.update_sketches_autoscale(
        spark, sk_a, b.select("url_sha1", "shard"), bf_a, capacity=1024
    )
    seen_ab, bf_ab = _append_seen(cat, b, generation=1)
    # below capacity the fold only adds keys, and a bloom's bytes do not
    # depend on insertion order: incremental == full rebuild, byte for byte
    assert _sketch_rows(sk_ab) == _sketch_rows(seen_ops.build_sketches(seen_ab, capacity=1024))
    # the incremental sketches must still answer dedup exactly
    got = {r["url"] for r in seen_ops.filter_unseen(urls, seen_ab, sk_ab, bf_ab).collect()}
    assert got == _antijoin(urls, seen_ab)


def test_delete_supports_force_rescrape(spark, urls, tmp_path):
    sub = urls.limit(50)
    cat = Catalog(spark, str(tmp_path))
    seen, _ = _append_seen(cat, sub)
    sk = seen_ops.build_sketches(seen, capacity=1024).cache()
    victim = sub.limit(10).cache()
    # delete the way api.clear_url does: a bucket-pure rewrite of seen
    # without the keys; the sketch is left stale (the bloom keeps them)
    cat.stage_cow("seen", seen.join(victim.select("url_sha1"), "url_sha1", "left_anti"), "shard", None)
    cat.commit(generation=1, t0=0.0)
    seen2, bf2 = cat.read("seen"), cat.bucket_files("seen")
    # deleted urls must come back as unseen (exactness preserved): their
    # stale bloom "maybe" is verified against the rewritten files
    got = {r["url"] for r in seen_ops.filter_unseen(urls, seen2, sk, bf2).collect()}
    assert {r["url"] for r in victim.collect()} <= got
    assert got == _antijoin(urls, seen2)
    assert len(got) == 400 - 40
    # the rescrape marks them seen again through the one fold
    sk3 = seen_ops.update_sketches_autoscale(
        spark, sk, victim.select("url_sha1", "shard"), bf2, capacity=1024
    )
    seen3, bf3 = _append_seen(cat, victim, generation=2)
    got3 = {r["url"] for r in seen_ops.filter_unseen(urls, seen3, sk3, bf3).collect()}
    assert got3 == _antijoin(urls, seen3)
    assert len(got3) == 400 - 50
    sk.unpersist(); victim.unpersist()


def test_fold_starts_no_job(spark, urls, tmp_path):
    """Calling update_sketches_autoscale only plans the fold: overflow is
    decided inside the shard tasks, so nothing is collected to the driver
    before the caller's write runs it."""
    first = urls.limit(40).select("url_sha1", "shard")
    _, bf = _append_seen(Catalog(spark, str(tmp_path)), first)
    sk = seen_ops.build_sketches(first, capacity=64)
    delta = urls.select("url_sha1", "shard").join(first, "url_sha1", "left_anti")
    assert jobs_started(
        spark, lambda: seen_ops.update_sketches_autoscale(spark, sk, delta, bf, capacity=64)
    ) == []


def test_autoscale_rebuilds_overflowing_shard(spark, urls, tmp_path):
    """A shard whose key count outgrows its bloom is rebuilt at >=2x size
    inside its fold task from that shard's seen files; untouched shards
    carry byte-identically. Without the rescale the bloom saturates
    silently (fpp -> 1) and the membership accelerator degrades to
    reading every touched shard."""
    cap = 64  # Bloom.for_capacity floor — ~200 keys/shard below overflow it
    urls = with_url_identity(
        spark.createDataFrame(
            [(f"http://o{i % 5}.test/q/{i}",) for i in range(1600)], ["url"]
        ),
        num_shards=NUM_SHARDS,
    ).cache()
    first = urls.limit(120).select("url_sha1", "shard")
    cat = Catalog(spark, str(tmp_path))
    seen0, bf0 = _append_seen(cat, first)
    sk0 = seen_ops.build_sketches(seen0, capacity=cap).cache()
    bytes0 = _sketch_rows(sk0)

    rest = (
        urls.select("url_sha1", "shard")
        .join(first.select("url_sha1"), "url_sha1", "left_anti")
    )
    # confine the delta to ONE shard so the others must carry byte-identically
    target = rest.groupBy("shard").count().orderBy(F.desc("count")).first()["shard"]
    delta = rest.filter(F.col("shard") == target)
    n_delta = delta.count()
    assert n_delta + bytes0.get(target, (b"", 0))[1] > cap  # really overflows

    # only the overflowing shard may open its files: every other path is
    # poisoned, so a read there fails the job
    files = {b: (ps if int(b) == target else ["/nonexistent/poisoned.parquet"])
             for b, ps in bf0.items()}
    sk1 = seen_ops.update_sketches_autoscale(spark, sk0, delta, files, capacity=cap).cache()
    rows1 = _sketch_rows(sk1)
    # overflowing shard: rebuilt bigger, exact n, and byte for byte the
    # full build over that shard's seen keys and the delta
    assert len(rows1[target][0]) > len(bytes0[target][0])
    assert rows1[target][1] == bytes0[target][1] + n_delta
    full = seen0.filter(F.col("shard") == target).unionByName(delta)
    assert rows1[target] == _sketch_rows(seen_ops.build_sketches(full, capacity=cap))[target]
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
