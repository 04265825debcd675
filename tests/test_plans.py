"""Physical-plan quality gates (SURVEY.md §4.2 — verify Catalyst did it).

These lock in the scale-critical plan properties: predicate pushdown into
parquet, column pruning, broadcast for the small side of joins, zero
cartesian products anywhere in the query surface, and live whole-stage
codegen for the native expression pipeline.
"""

import os

import pytest
from conftest import TESTDATA
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from web_scraper_spark.plans import audit

SF = os.path.join(TESTDATA, "sf0.01")


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").filter(F.col("l_orderkey") == 42).select(
        "l_orderkey", "l_quantity"
    )
    assert audit.has_pushed_filters(df, "l_orderkey")


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    scans = audit.read_schema_columns(df)
    assert scans and all(set(c) == {"l_orderkey", "l_quantity"} for c in scans)


def test_pushdown_survives_engine_exprs(spark):
    """The text-analysis exprs are pure Column logic — a doc_id filter
    below them must still reach the scan (UDFs would block this)."""
    from web_scraper_spark.functions import textanalysis as ta

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", ta.quality_score_expr(F.col("text")).alias("q"))
    )
    assert audit.has_pushed_filters(df, "doc_id")


def test_robots_decision_is_broadcast(spark):
    from web_scraper_spark import synth
    from web_scraper_spark.functions.urlops import host_expr, normalize_path_expr, split_base_path_exprs
    from web_scraper_spark.operators.robots import decide_allowed, rules_from_corpus

    web = synth.SynthWebConfig()
    corpus = spark.createDataFrame(
        [(r["host"], r["body"]) for r in synth.robots_corpus_rows(web)], ["host", "body"]
    )
    robots = rules_from_corpus(corpus, fetched_at=0)
    urls = spark.createDataFrame([(u,) for u in synth.all_urls(web)], ["url_canon"])
    _, path = split_base_path_exprs(F.col("url_canon"))
    fr = urls.withColumn("host", host_expr(F.col("url_canon"))).withColumn(
        "norm_path", normalize_path_expr(path)
    )
    out = decide_allowed(fr, robots)
    assert audit.broadcast_joins(out) >= 1
    assert not audit.has_cartesian(out)
    # the decision must add ZERO shuffles of the frontier: the only hash
    # exchange allowed is the tiny rules-side per-host aggregation (single
    # `host` key), and no single-partition exchange may appear at all
    hashes = audit.hash_exchanges(out)
    assert len(hashes) <= 1, hashes
    for args in hashes:
        assert "," not in args and "host" in args, hashes  # host-only key
    assert audit.single_partition_exchanges(out) == 0


def test_driver_frames_are_local_relations(spark):
    """Frames built from driver-side rows are LocalRelations, not the
    LogicalRDD of a Python-list createDataFrame: no Python-worker stage
    scans them, and the optimizer folds the projections over them."""
    from web_scraper_spark.operators import scheduler, seen

    for df in (
        scheduler.default_host_state(spark),
        seen._shard_side(spark, None, {"0": ["/no/such/part-0.parquet"]}),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan


def test_no_cartesian_in_any_query(spark):
    """Every driver query must be cartesian-free: the near-dup joins go
    through band/bucket equi-joins, top-k through windows. (cosine has an
    intentional 1-row broadcast cross join — exempted.)"""
    # crawl_smoke / crawl_dedup_incremental run a full crawl EAGERLY when
    # invoked — exempted for cost, not for plan shape (their loop plans are
    # audited by the crawl tests)
    exempt = {
        "cosine_to_query", "ann_brute_topk", "ann_lsh_topk",
        "crawl_smoke", "crawl_dedup_incremental", "crawl_extract_oracle",
    }
    for name, fn in entrymod.queries().items():
        if name in exempt:
            continue
        df = fn(spark, SF)
        assert not audit.has_cartesian(df), name


def test_codegen_covers_native_pipeline(spark):
    df = entrymod.queries()["pricing_summary"](spark, SF)
    assert audit.codegen_stages(df) >= 1
    df2 = entrymod.queries()["simhash"](spark, SF)
    assert audit.codegen_stages(df2) >= 1


def test_global_rank_two_phase_exact_and_scalable(spark):
    """with_global_rank == the single-window row_number (exact), while the
    plan replaces the data-scale Exchange SinglePartition with a range
    repartition; the only single-partition node left feeds off the tiny
    per-partition count aggregate."""
    import random

    from pyspark.sql import Window
    from web_scraper_spark.operators.scheduler import with_global_rank

    rng = random.Random(7)
    rows = [(f"u{i:05d}", rng.randint(0, 5)) for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["url_canon", "priority"]).repartition(16)
    order = [F.col("priority").asc(), F.col("url_canon").asc()]
    got = with_global_rank(df, ["priority", "url_canon"], "rk")
    exact = df.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
    assert got.exceptAll(exact).count() == 0 and exact.exceptAll(got).count() == 0
    assert audit.range_exchanges(got) >= 1
    assert audit.single_partition_exchanges(got) <= 1  # offsets table only


def test_budget_cut_has_no_global_window_over_data(spark):
    """max_batch admission must not funnel the admitted stream through one
    task: range partitioning appears, and at most the tiny offset-table
    single-partition exchange remains."""
    from web_scraper_spark.operators.scheduler import admit_batch

    fr = entrymod._events_frontier(spark, SF).withColumnRenamed("host_id", "host")
    state = spark.createDataFrame(
        [], "host string, min_delay double, current_delay double, last_fetch double, consecutive_errors int"
    )
    no_budget = admit_batch(fr, state, t0=0.0, horizon=5.0, salt=8).count()
    # small budget → distributed TakeOrderedAndProject (per-partition top-K)
    small = admit_batch(fr, state, t0=0.0, horizon=5.0, salt=8, max_batch=50)
    assert no_budget > 50  # the budget actually cuts
    assert "TakeOrderedAndProject" in audit.physical_plan(small)
    assert audit.single_partition_exchanges(small) == 0
    assert small.count() == 50
    # large budget → two-phase exact global rank (range repartition)
    big = admit_batch(fr, state, t0=0.0, horizon=5.0, salt=8, max_batch=20_000)
    assert audit.range_exchanges(big) >= 1
    assert audit.single_partition_exchanges(big) <= 1
    assert big.count() == no_budget


def test_admission_partial_rank_bounds_skew(spark):
    """The salted two-stage top-K must appear as TWO window stages (salted
    partial + exact), so no single task ranks a whole hot host."""
    from web_scraper_spark.operators.scheduler import admit_batch

    fr = entrymod._events_frontier(spark, SF).withColumnRenamed("host_id", "host")
    state = spark.createDataFrame(
        [], "host string, min_delay double, current_delay double, last_fetch double, consecutive_errors int"
    )
    out = admit_batch(fr, state, t0=0.0, horizon=5.0, salt=8)
    plan = audit.physical_plan(out)
    assert plan.count("Window") >= 2
