"""Plan-quality gates for the dedup/similarity pair operators.

Locks in the scale-critical shapes added in round 3:

- cosine_dup_pairs: block-matrix applyInPandas — the all-pairs semantics
  must NOT appear as a cartesian/nested-loop join in the plan; the only
  wide operation is the (bi, bj) group-by exchange.
- simhash_pairs / minhash_lsh_pairs / sign_sig_pairs: the self-join input
  is persisted, so the plan reads one InMemoryRelation on both sides
  instead of duplicating the expensive kernel subtree; the joins are
  band-bucket equi-joins, never cartesian.
"""

import os

from conftest import TESTDATA
from pyspark.sql import functions as F

from web_scraper_spark.functions import dedupops, simsearch
from web_scraper_spark.plans import audit

SF = os.path.join(TESTDATA, "sf0.01")


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cosine_pairs_no_cartesian(spark):
    """All-pairs cosine compiles to replicate + one hash exchange on the
    block-pair key + applyInPandas — no CartesianProduct / BNLJ."""
    df = simsearch.cosine_dup_pairs(_emb(spark), threshold=0.35)
    assert not audit.has_cartesian(df)
    plan = audit.physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan


def test_cosine_pairs_matches_expression_join(spark):
    """Block-gemm output == the naive expression theta-join (values at
    round-6, same rounding both paths)."""
    e = _emb(spark).limit(200).persist()
    e.count()
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in simsearch.cosine_dup_pairs(e, threshold=0.30).collect()
    }
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = {
        (r.id_a, r.id_b, r.cosine)
        for r in (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.round(
                    simsearch.cosine_expr(
                        F.col("va").cast("array<double>"),
                        F.col("vb").cast("array<double>"),
                    ), 6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= 0.30)
        ).collect()
    }
    e.unpersist()
    assert got == want


def test_pair_selfjoins_reuse_cached_kernel(spark):
    """The persisted kernel frame appears as InMemoryRelation feeding both
    self-join sides — the expensive fold subtree is not duplicated."""
    for df in (
        dedupops.simhash_pairs(_docs(spark), max_hamming=3),
        dedupops.minhash_lsh_pairs(_docs(spark), threshold=0.12),
        simsearch.sign_sig_pairs(_emb(spark)),
    ):
        plan = audit.physical_plan(df)
        assert "InMemoryTableScan" in plan, plan[:500]
        assert not audit.has_cartesian(df)
    spark.catalog.clearCache()


def test_keep_set_no_cartesian_and_anti_join(spark):
    df = dedupops.dedup_keep_ids(_docs(spark), max_hamming=3)
    assert not audit.has_cartesian(df)
    assert "LeftAnti" in audit.physical_plan(df)
    spark.catalog.clearCache()


def test_image_keep_set_banded_no_cartesian(spark):
    """The image keep-set's near-dup drop derivation is a band-bucket
    equi-join over a persisted (image_id, phash) projection, composed
    into an anti-join — never cartesian, kernel subtree not duplicated."""
    from web_scraper_spark.operators import pairs as pairs_ops
    from web_scraper_spark.synth import images_df

    imgs = images_df(spark, 64, seed=42).select("image_id", "phash")
    kept = imgs.join(
        pairs_ops.neardup_image_ids(imgs, max_hamming=3), "image_id", "left_anti"
    )
    plan = audit.physical_plan(kept)
    assert not audit.has_cartesian(kept)
    assert "LeftAnti" in plan
    assert "InMemoryTableScan" in plan, plan[:500]
    spark.catalog.clearCache()


def test_corpus_clean_composite_plan(spark):
    """The full text pipeline (filter + scores + keep-set) keeps the same
    guarantees as its parts: no cartesian anywhere, the scored frame is
    cached once and feeds every branch, and the dedup is an anti-join."""
    from web_scraper_spark.functions import textanalysis as ta

    scored = (
        _docs(spark)
        .select(
            "doc_id", "text",
            ta.lang_id_expr(F.col("text")).alias("lang_pred"),
            ta.quality_score_expr(F.col("text")).alias("quality"),
        )
        .filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.9))
        .persist()
    )
    kept = scored.join(
        dedupops.dedup_keep_ids(scored, max_hamming=3), "doc_id", "left_semi"
    )
    plan = audit.physical_plan(kept)
    assert not audit.has_cartesian(kept)
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "InMemoryTableScan" in plan, plan[:500]
    spark.catalog.clearCache()


def test_pair_keep_set_composite_plan(spark):
    """The joint image+caption keep-set composes two banded self-joins
    (phash bands, caption simhash bands) into an anti-join + semi-join on
    image_id — no cartesian anywhere, band joins over cached kernels."""
    from web_scraper_spark.operators import pairs as pairs_ops
    from web_scraper_spark.synth import images_df

    imgs = images_df(spark, 64, seed=42).select("image_id", "phash", "caption")
    kept = pairs_ops.pair_keep_ids(imgs)
    plan = audit.physical_plan(kept)
    assert not audit.has_cartesian(kept)
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "InMemoryTableScan" in plan, plan[:500]
    dedupops.unpersist_op_caches()
    spark.catalog.clearCache()


def test_incremental_keep_set_plan(spark):
    """The incremental keep-set probes the old corpus only through
    band-bucket equi-joins (fp semi-join + simhash band join) — no
    cartesian, drops composed into one anti-join, signature kernels
    cached (not recomputed per consumer)."""
    rows_old = [(i, f"doc old {i} alpha beta gamma") for i in range(0, 40, 2)]
    rows_new = [(i, f"doc new {i} delta epsilon zeta") for i in range(1, 40, 2)]
    old = spark.createDataFrame(rows_old, "doc_id long, text string")
    new = spark.createDataFrame(rows_new, "doc_id long, text string")
    kept = dedupops.dedup_keep_ids_incremental(old, new, max_hamming=3)
    plan = audit.physical_plan(kept)
    assert not audit.has_cartesian(kept)
    assert "LeftAnti" in plan
    assert "InMemoryTableScan" in plan, plan[:500]
    dedupops.unpersist_op_caches()
    spark.catalog.clearCache()


def test_cluster_representatives_argmax_and_plan(spark):
    """Quality-aware canonical member per cluster: (score DESC, id ASC)
    argmax matches the sequential rule on every tie kind, and the plan is
    a windowless partial-aggregable groupBy (no per-cluster Window, so a
    skewed million-member cluster combines map-side)."""
    members = [
        (1, 1), (2, 1), (3, 1),          # scores 0.5, 0.9, 0.9 → rep 2 (tie by id)
        (10, 10), (11, 10),              # equal scores → rep 10
        (20, 20),                        # singleton
    ]
    scores = [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.4), (11, 0.4), (20, 0.0)]
    m = spark.createDataFrame(members, "doc_id long, cluster_id long")
    s = spark.createDataFrame(scores, "doc_id long, quality double")
    out = dedupops.cluster_representatives(m, s)
    got = {
        r["cluster_id"]: (r["rep_id"], r["rep_quality"], r["cluster_size"])
        for r in out.collect()
    }
    assert got == {1: (2, 0.9, 3), 10: (10, 0.4, 2), 20: (20, 0.0, 1)}
    plan = audit.physical_plan(out)
    assert "Window" not in plan, plan[:500]
    assert not audit.has_cartesian(out)
