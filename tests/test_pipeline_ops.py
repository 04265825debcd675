"""Training-data pipeline operators: dedup, text analysis, similarity.

Each Spark operator is cross-checked against DuckDB running the paired
``*_sql`` builder on the SAME parquet — a local preview of the driver's
oracle harness, so the `__spark_entry__` entries can't drift.
"""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from conftest import TESTDATA
from pyspark.sql import functions as F

from web_scraper_spark.functions import dedupops, simsearch, textanalysis as ta

DOCS = os.path.join(TESTDATA, "sf0.001", "documents.parquet")
EMB = os.path.join(TESTDATA, "sf0.001", "embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).cache()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    return con


def spark_vs_duck(spark_df, ddb, sql, sort_cols):
    got = [tuple(r) for r in spark_df.orderBy(*sort_cols).collect()]
    want = [tuple(r) for r in ddb.sql(sql + f" ORDER BY {', '.join(sort_cols)}").fetchall()]
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float):
                assert abs(gv - wv) < 1e-6, (g, w)
            else:
                assert gv == wv, (g, w)


class TestTextAnalysis:
    def test_token_count(self, docs, ddb):
        df = docs.select("doc_id", ta.token_count_expr(F.col("text")).alias("n_tokens"))
        spark_vs_duck(df, ddb, f"SELECT doc_id, {ta.token_count_sql('text')} AS n_tokens FROM documents", ["doc_id"])

    def test_quality_score(self, docs, ddb):
        df = docs.select("doc_id", ta.quality_score_expr(F.col("text")).alias("quality"))
        spark_vs_duck(df, ddb, f"SELECT doc_id, {ta.quality_score_sql('text')} AS quality FROM documents", ["doc_id"])

    def test_lang_id(self, docs, ddb):
        df = docs.select("doc_id", ta.lang_id_expr(F.col("text")).alias("lang_pred"))
        spark_vs_duck(df, ddb, f"SELECT doc_id, {ta.lang_id_sql('text')} AS lang_pred FROM documents", ["doc_id"])

    def test_fingerprint(self, docs, ddb):
        df = docs.select("doc_id", ta.fingerprint_expr(F.col("text")).alias("fp"))
        spark_vs_duck(df, ddb, f"SELECT doc_id, {ta.fingerprint_sql('text')} AS fp FROM documents", ["doc_id"])


class TestDedup:
    def test_exact_dedup_keeps_all_when_unique(self, spark, docs, ddb):
        # testdata texts are unique → dedup is identity; add forced dups
        dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
        both = docs.unionByName(dup)
        out = dedupops.exact_dedup(both)
        assert out.count() == docs.count()
        assert out.filter(F.col("doc_id") >= 100000).count() == 0  # min-id kept

    def test_simhash_matches_duckdb(self, docs, ddb):
        df = docs.select("doc_id", dedupops.simhash_expr(F.col("text")).alias("sh"))
        spark_vs_duck(df, ddb, f"SELECT doc_id, {dedupops.simhash_sql('text')} AS sh FROM documents", ["doc_id"])

    def test_simhash_pairs_match_exact_sql(self, spark, docs, ddb):
        got = dedupops.simhash_pairs(docs, max_hamming=3)
        spark_vs_duck(
            got, ddb, dedupops.simhash_pairs_sql(max_hamming=3), ["doc_a", "doc_b"]
        )

    def test_ngram_jaccard_matches_duckdb(self, docs, ddb):
        got = dedupops.ngram_jaccard_pairs(docs, threshold=0.12, n=8)
        spark_vs_duck(
            got, ddb, dedupops.ngram_jaccard_pairs_sql(threshold=0.12, n=8), ["doc_a", "doc_b"]
        )

    def test_ngram_128bit_key_identical(self, docs):
        """key_bits=128 (16-byte md5 binary key, the 10^12-gram collision-
        proof path) must produce byte-identical pairs to the default 60-bit
        long key on a collision-free corpus — same plan, wider key."""
        import pytest

        k60 = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedupops.ngram_jaccard_pairs(docs, threshold=0.12, n=8).collect()
        }
        k128 = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedupops.ngram_jaccard_pairs(
                docs, threshold=0.12, n=8, key_bits=128
            ).collect()
        }
        assert k60 == k128 and len(k60) > 0
        with pytest.raises(ValueError):
            dedupops.ngram_jaccard_pairs(docs, key_bits=64)

    def test_dup_clusters_match_union_find(self, docs, ddb):
        """Connected components over the near-dup graph: (a) equals the
        DuckDB recursive-CTE closure, (b) equals a Python union-find over
        the exact pair set, (c) actually exercises transitivity — at least
        one cluster must have >= 3 members, i.e. contain a doc pair with
        no direct edge that is joined only through the closure."""
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in dedupops.dup_clusters(docs, max_hamming=3).collect()
        }
        spark_pairs = [
            (r["doc_a"], r["doc_b"])
            for r in dedupops.simhash_pairs(docs, max_hamming=3).collect()
        ]
        parent = {r[0]: r[0] for r in got}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in spark_pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {(i, find(i)) for i in parent}
        assert got == want
        from collections import Counter

        sizes = Counter(c for _, c in got)
        assert max(sizes.values()) >= 3, "corpus has no transitive chain"
        ddb_rows = set(ddb.sql(dedupops.dup_clusters_sql(max_hamming=3)).fetchall())
        assert got == ddb_rows

    def test_connected_components_random_graphs(self, spark):
        """Property check of the CC core itself: on seeded random graphs
        (varying density, incl. chains that force multi-round propagation)
        the distributed hash-min result equals a Python union-find, and is
        invariant under input repartitioning."""
        import random

        rng = random.Random(7)
        for trial in range(6):
            n = rng.randint(5, 40)
            m = rng.randint(0, n * 2)
            edges = [
                tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
            ] + [(i, i + 1) for i in range(0, min(8, n - 1))]  # a chain
            nodes_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
            pairs_df = spark.createDataFrame(
                edges or [(0, 0)], "src long, dst long"
            ).filter(F.col("src") != F.col("dst")).repartition(trial % 4 + 1)
            got = {
                (r["id"], r["cluster_id"])
                for r in dedupops.connected_components(
                    nodes_df.repartition(trial % 3 + 1), pairs_df
                ).collect()
            }
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                if a != b:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
            want = {(i, find(i)) for i in range(n)}
            assert got == want, (trial, n, m)

    def test_cc_checkpoint_blocks_freed(self, spark):
        """Pin _free_local_checkpoint on the RUNNING Spark version (r3
        ADVICE): each propagation round's checkpoint blocks must actually
        be released — a Spark upgrade that moves the Catalyst internals
        would silently fall back to leak-until-GC (and log once)."""
        from web_scraper_spark.functions.dedupops import (
            _FREE_FALLBACK_LOGGED,
            connected_components,
            unpersist_op_caches,
        )

        sc = spark.sparkContext
        n = 65  # chain of 65 nodes: hash-min needs many rounds
        nodes_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs_df = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        before = len(sc._jsc.sc().getRDDStorageInfo())
        out = connected_components(nodes_df, pairs_df, max_iters=80).collect()
        assert {r["cluster_id"] for r in out} == {0}
        after = len(sc._jsc.sc().getRDDStorageInfo())
        # every intermediate round freed: only the final labels checkpoint
        # + the registered edges cache may remain (rounds run ~O(n) here,
        # so a leak would show up as dozens of lingering RDDs)
        assert after - before <= 3, (before, after)
        from web_scraper_spark.functions import dedupops as _d

        assert not _d._FREE_FALLBACK_LOGGED, "block free fell back to GC"
        unpersist_op_caches()

    def test_cc_reliable_checkpoint_mode(self, spark, tmp_path):
        """checkpoint_mode='reliable' (cluster shape: recomputable lineage
        cuts) produces the same clustering; without a checkpoint dir it
        fails loud."""
        from web_scraper_spark.functions.dedupops import connected_components

        nodes_df = spark.createDataFrame([(i,) for i in range(8)], "id long")
        pairs_df = spark.createDataFrame(
            [(0, 1), (1, 2), (4, 5)], "src long, dst long"
        )
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            with pytest.raises(ValueError, match="setCheckpointDir"):
                connected_components(
                    nodes_df, pairs_df, checkpoint_mode="reliable"
                )
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(
                nodes_df, pairs_df, checkpoint_mode="reliable"
            ).collect()
        }
        want = {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4), (6, 6), (7, 7)}
        assert got == want

        # per-round checkpoint FILES are deleted once the next round is
        # durable (Spark never deletes them itself by default): a long
        # chain forces many rounds, yet only O(1) rdd-* dirs remain
        import os as _os

        chain_nodes = spark.createDataFrame([(i,) for i in range(24)], "id long")
        chain_pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(23)], "src long, dst long"
        )
        out = connected_components(
            chain_nodes, chain_pairs, max_iters=60, checkpoint_mode="reliable"
        ).collect()
        assert {r["cluster_id"] for r in out} == {0}
        ckpt_root = str(tmp_path / "ckpt")
        rdd_dirs = [
            d
            for sub in _os.listdir(ckpt_root)
            for d in _os.listdir(_os.path.join(ckpt_root, sub))
        ]
        assert len(rdd_dirs) <= 3, rdd_dirs

    def test_minhash_candidates_are_true_pairs(self, docs):
        """LSH+verify output ⊆ exact output; recall reported not asserted
        (approximation contract)."""
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.ngram_jaccard_pairs(docs, threshold=0.12, n=8).collect()
        }
        approx = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.minhash_lsh_pairs(docs, threshold=0.12, n=8).collect()
        }
        assert approx <= exact

    def test_minhash_band_params_still_subset(self, docs):
        """Re-banded minhash (16 bands × 2 rows) stays ⊆ exact — the slim
        band join + re-attached shingles must not alter verify semantics."""
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.ngram_jaccard_pairs(docs, threshold=0.12, n=8).collect()
        }
        approx = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.minhash_lsh_pairs(
                docs, threshold=0.12, n=8, perms=32, bands=16
            ).collect()
        }
        assert approx <= exact

    def test_simhash_band_parametrizations_identical(self, docs):
        """The pigeonhole guarantee makes every n_bands > max_hamming
        parametrization EXACT: outputs must be identical, not similar."""
        base = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dedupops.simhash_pairs(docs, max_hamming=3, n_bands=4).collect()
        }
        for nb in (5, 6):
            got = {
                (r["doc_a"], r["doc_b"], r["hamming"])
                for r in dedupops.simhash_pairs(docs, max_hamming=3, n_bands=nb).collect()
            }
            assert got == base, nb

    def test_lsh_candidate_growth_subquadratic(self, spark):
        """Scale evidence for the band-width knob: on a corpus of unique
        docs plus small near-dup clusters, band-join candidate volume must
        stay near-linear in n (all-pairs would be n²/2), and wider bands
        (fewer, for a lower hamming budget) must produce no more candidates
        than narrow ones."""
        import random

        rng = random.Random(0)
        vocab = [f"w{i}" for i in range(500)]

        def corpus(n):
            rows = [
                (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(n)
            ]
            # 3 clusters of 5 near-identical docs
            for c in range(3):
                stem = " ".join(rng.choice(vocab) for _ in range(20))
                for j in range(5):
                    rows.append((n + c * 5 + j, stem + f" extra{j}"))
            return spark.createDataFrame(rows, ["doc_id", "text"])

        def candidates(df, n_bands):
            sh = df.select(
                F.col("doc_id").alias("id"),
                dedupops.simhash_expr(F.col("text")).alias("sh"),
            )
            w = dedupops.SIMHASH_BITS // n_bands
            mask = (1 << w) - 1
            bands = sh.select(
                "id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.shiftrightunsigned(F.col("sh"), b * w)
                                .bitwiseAND(F.lit(mask))
                                .alias("bv"),
                            )
                            for b in range(n_bands)
                        ]
                    )
                ).alias("bb"),
            ).select("id", "bb.band", "bb.bv")
            a = bands.select(F.col("id").alias("a"), "band", "bv")
            b = bands.select(F.col("id").alias("b"), "band", "bv")
            return (
                a.join(b, ["band", "bv"])
                .filter(F.col("a") < F.col("b"))
                .select("a", "b")
                .distinct()
                .count()
            )

        for n in (1000, 2000):
            df = corpus(n).cache()
            c4 = candidates(df, 4)   # 15-bit buckets
            c3 = candidates(df, 3)   # 20-bit buckets (hamming budget <= 2)
            assert c3 <= c4
            assert c4 < 5 * n, (n, c4)  # near-linear, nowhere near n²/2
            df.unpersist()


class TestSimilarity:
    def test_cosine_matches_duckdb(self, emb, ddb):
        a = emb.limit(1).select(F.col("embedding").alias("q_vec")).collect()[0]["q_vec"]
        df = emb.select(
            "vec_id",
            F.round(
                simsearch.cosine_expr(F.col("embedding"), F.array(*[F.lit(float(x)) for x in a])),
                4,
            ).alias("cos"),
        )
        qlit = "[" + ",".join(f"{float(x)}::FLOAT" for x in a) + "]"
        spark_vs_duck(
            df, ddb,
            f"SELECT vec_id, round(list_cosine_similarity(embedding, {qlit}), 4) AS cos FROM embeddings",
            ["vec_id"],
        )

    def test_brute_topk_is_exact(self, spark, emb):
        qs = emb.limit(3).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        out = simsearch.brute_topk(emb, qs, k=5)
        rows = out.collect()
        assert len(rows) == 15
        # query's own vector is always rank 1 with cosine ~1
        top1 = {r["q_id"]: (r["vec_id"], r["cosine"]) for r in rows if r["rank"] == 1}
        for q, (v, c) in top1.items():
            assert v == q and c >= 0.999999

    def test_lsh_topk_finds_near_duplicates(self, spark, emb):
        """The LSH path's contract is near-dup retrieval: a query that is a
        tiny perturbation of a corpus vector must land in (or next to) the
        original's bucket and return it at rank 1. (For uniform random
        vectors with near-flat cosine spectra ANN recall is inherently low —
        that regime is what brute_topk exists for.)"""
        import numpy as np

        base = emb.limit(8).collect()
        rng = np.random.Generator(np.random.PCG64(7))
        qrows = [
            (int(r["vec_id"]), [float(x) + float(e) for x, e in
                                zip(r["embedding"], rng.normal(0, 1e-3, 64))])
            for r in base
        ]
        qs = spark.createDataFrame(qrows, ["q_id", "q_vec"])
        approx = simsearch.lsh_topk(emb, qs, k=3, dim=64)
        top1 = {r["q_id"]: r["vec_id"] for r in approx.collect() if r["rank"] == 1}
        hits = sum(1 for q, v in top1.items() if q == v)
        assert hits >= 7, top1

    def test_ivf_topk_self_retrieval_and_determinism(self, spark, emb):
        """IVF contract: the query's own vector (always in the probed
        cluster — it IS the nearest cluster's member) comes back at rank 1;
        two runs return identical rows (seed-free deterministic k-means)."""
        qs = emb.limit(5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        a = simsearch.ivf_topk(emb, qs, k=5, n_clusters=8, n_probe=3, iters=2)
        rows_a = sorted(map(tuple, a.collect()))
        top1 = {r[0]: r[1] for r in rows_a if r[3] == 1}
        assert all(q == v for q, v in top1.items()), top1
        b = simsearch.ivf_topk(emb, qs, k=5, n_clusters=8, n_probe=3, iters=2)
        assert rows_a == sorted(map(tuple, b.collect()))

    def test_ivf_recall_against_brute(self, spark, emb):
        """Probing 3 of 8 clusters must recover most true top-5 neighbors
        on the synthetic corpus (recall measured, not assumed)."""
        qs = emb.limit(5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        exact = {
            (r["q_id"], r["vec_id"])
            for r in simsearch.brute_topk(emb, qs, k=5).collect()
        }
        approx = {
            (r["q_id"], r["vec_id"])
            for r in simsearch.ivf_topk(
                emb, qs, k=5, n_clusters=8, n_probe=3, iters=2
            ).collect()
        }
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.5, recall


class TestNgramDocFreqPruning:
    def test_default_stays_oracle_exact_and_pruned_is_subset(self, spark):
        """max_doc_freq=None keeps the exact semantics (the oracled
        default); with pruning, results are a subset whose jaccard is a
        conservative lower bound — only boilerplate-driven pairs drop."""
        rows = []
        boiler = "all rights reserved contact us terms of service apply here"
        for i in range(30):
            rows.append((i, f"unique document body number {i} " * 3 + boiler))
        # one true near-dup pair sharing real content
        rows.append((100, "the quick brown fox jumps over the lazy dog " * 4))
        rows.append((101, "the quick brown fox jumps over the lazy dog " * 4 + "tail"))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.ngram_jaccard_pairs(docs, threshold=0.3, n=6).collect()
        }
        pruned = {
            (r["doc_a"], r["doc_b"])
            for r in dedupops.ngram_jaccard_pairs(
                docs, threshold=0.3, n=6, max_doc_freq=5
            ).collect()
        }
        assert pruned <= exact
        assert (100, 101) in pruned  # real near-dup survives pruning

    def test_hot_shingle_join_volume_bounded(self, spark):
        """On a corpus where every doc shares one boilerplate sentence, the
        unpruned inverted index joins the hot shingles n²-style; with
        max_doc_freq the per-key fan-out is capped, so the intersection
        row count stays near-linear while the unpruned one grows ~n²."""
        boiler = "standard footer text shared by every page on this site always"

        def corpus(n):
            return spark.createDataFrame(
                [(i, f"document {i} private words number{i} " + boiler) for i in range(n)],
                ["doc_id", "text"],
            )

        def inter_rows(df, mdf):
            sh = df.select(
                F.col("doc_id").alias("id"),
                dedupops.shingles_expr(F.col("text"), 6).alias("sh"),
            )
            ex = sh.select("id", F.explode("sh").alias("g"))
            if mdf is not None:
                keep = (
                    ex.groupBy("g").count().filter(F.col("count") <= mdf).select("g")
                )
                ex = ex.join(keep, "g", "left_semi")
            a = ex.select(F.col("id").alias("x"), "g")
            b = ex.select(F.col("id").alias("y"), "g")
            return a.join(b, "g").filter(F.col("x") < F.col("y")).count()

        n1, n2 = 40, 160
        un1, un2 = inter_rows(corpus(n1), None), inter_rows(corpus(n2), None)
        pr1, pr2 = inter_rows(corpus(n1), 10), inter_rows(corpus(n2), 10)
        # unpruned grows superlinearly (boilerplate keys ~ n² pairs)
        assert un2 / un1 > 8, (un1, un2)
        # pruned growth is bounded ~linearly
        assert pr2 / max(pr1, 1) < 6, (pr1, pr2)


class TestSignSigBands:
    def _vecs(self, spark, n=120, dim=16):
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        # a few near-dup pairs: flip one coordinate's sign
        for j in range(5):
            base = rows[j][1][:]
            base[3] = -base[3]
            rows.append((1000 + j, base))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_band_config_invariance(self, spark):
        """Exactness must be independent of the band parametrization
        whenever the pigeonhole condition holds (same contract as
        simhash_pairs): 4×4-bit ≡ 8×2-bit ≡ 16×1-bit bands."""
        from web_scraper_spark.functions import simsearch

        df = self._vecs(spark)
        base = {
            (r["vec_a"], r["vec_b"], r["hamming"])
            for r in simsearch.sign_sig_pairs(df, sig_bits=16, n_bands=4).collect()
        }
        assert base, "corpus should contain near-dup signature pairs"
        for nb in (8, 16):
            got = {
                (r["vec_a"], r["vec_b"], r["hamming"])
                for r in simsearch.sign_sig_pairs(
                    df, sig_bits=16, n_bands=nb, max_hamming=2
                ).collect()
            }
            assert got == base, nb

    def test_pigeonhole_guard(self, spark):
        from web_scraper_spark.functions import simsearch

        df = self._vecs(spark, n=4)
        with pytest.raises(ValueError, match="pigeonhole"):
            simsearch.sign_sig_pairs(df, sig_bits=16, n_bands=2, max_hamming=2)
        with pytest.raises(ValueError, match="divisible"):
            simsearch.sign_sig_pairs(df, sig_bits=16, n_bands=3)
        with pytest.raises(ValueError, match="overflow"):
            simsearch.sign_sig_pairs(df, sig_bits=64, n_bands=8, max_hamming=2)


class TestIvfDistributedQueries:
    def test_matches_collect_based_ivf(self, spark):
        """ivf_topk_distributed must return EXACTLY ivf_topk's answer —
        same centroids, same probe set, same ranks — while never
        collecting the query table."""
        import random

        from web_scraper_spark.functions import simsearch

        rng = random.Random(3)
        corpus = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)],
            ["vec_id", "embedding"],
        )
        queries = spark.createDataFrame(
            [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)],
            ["q_id", "q_vec"],
        )
        cents = simsearch.kmeans_centroids(corpus, n_clusters=8, iters=2)
        a = {
            (r["q_id"], r["vec_id"], r["rank"])
            for r in simsearch.ivf_topk(
                corpus, queries, k=5, n_clusters=8, n_probe=3, iters=2
            ).collect()
        }
        b = {
            (r["q_id"], r["vec_id"], r["rank"])
            for r in simsearch.ivf_topk_distributed(
                corpus, queries, k=5, n_probe=3, centroids=cents
            ).collect()
        }
        assert a == b


class TestIncrementalDedup:
    def test_equals_one_shot_when_ids_ordered(self, spark):
        """When every old id < every new id, precedence == min-id, so the
        incremental keep-set must equal dedup_keep_ids(old ∪ new)
        restricted to the new ids — on seeded corpora with injected
        exact AND near dups in both directions."""
        import random

        rng = random.Random(11)
        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

        def text(n):
            return " ".join(rng.choice(words) for _ in range(n))

        rows = [(i, text(rng.randint(5, 12))) for i in range(30)]
        # near-dups: copy an early text with one word changed; exact dups too
        rows += [(100 + i, rows[i][1] + " omega") for i in range(4)]
        rows += [(200 + i, rows[i][1]) for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        old_raw = df.filter(F.col("doc_id") < 20)
        old = old_raw.join(
            dedupops.dedup_keep_ids(old_raw, max_hamming=3), "doc_id", "left_semi"
        )
        new = df.filter(F.col("doc_id") >= 20)
        inc = {
            r["doc_id"]
            for r in dedupops.dedup_keep_ids_incremental(old, new, max_hamming=3).collect()
        }
        union = old.unionByName(new)
        oneshot = {
            r["doc_id"]
            for r in dedupops.dedup_keep_ids(union, max_hamming=3).collect()
            if r["doc_id"] >= 20
        }
        assert inc == oneshot
        dedupops.unpersist_op_caches()

    def test_old_always_wins_regardless_of_id(self, spark):
        """The precedence rule: a NEW doc that duplicates an OLD doc is
        dropped even when the new id is SMALLER — min-id keep-first would
        keep it."""
        old = spark.createDataFrame(
            [(50, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "an entirely different document about spark")],
            "doc_id long, text string",
        )
        kept = {
            r["doc_id"]
            for r in dedupops.dedup_keep_ids_incremental(old, new).collect()
        }
        assert kept == {2}
        dedupops.unpersist_op_caches()


class TestOpCacheRegistry:
    def test_registry_bounded_and_storage_returns_to_baseline(self, spark, docs):
        """r4 verdict "what's wrong" #3: the op-cache registry must not
        grow without bound in a long session, and a multi-operator
        sequence followed by unpersist_op_caches() must return executor
        storage to its baseline RDD count (the driver-suite shape)."""
        sc = spark.sparkContext
        dedupops.unpersist_op_caches()
        d = docs.limit(40)
        d.count()  # materialize the module fixture's cache BEFORE baseline
        before = len(sc._jsc.sc().getRDDStorageInfo())
        # several operators, each registering >= 1 persist
        dedupops.simhash_pairs(d, max_hamming=3).count()
        dedupops.ngram_jaccard_pairs(d, threshold=0.5).count()
        dedupops.minhash_lsh_pairs(d, threshold=0.5).count()
        dedupops.dedup_keep_ids(d, max_hamming=3).count()
        assert len(dedupops._OP_CACHES) <= dedupops.OP_CACHE_LIMIT
        n = dedupops.unpersist_op_caches()
        assert n >= 4
        assert len(dedupops._OP_CACHES) == 0
        after = len(sc._jsc.sc().getRDDStorageInfo())
        assert after <= before, (before, after)

    def test_registry_evicts_oldest_at_limit(self, spark):
        """Past OP_CACHE_LIMIT registrations the oldest frame is evicted
        (unpersisted + dropped) instead of pinned forever."""
        limit = dedupops.OP_CACHE_LIMIT
        dedupops.unpersist_op_caches()
        frames = [
            dedupops.register_op_cache(spark.range(i, i + 2))
            for i in range(limit + 5)
        ]
        assert len(dedupops._OP_CACHES) == limit
        # the 5 oldest were evicted; the newest are still registered
        assert frames[0] not in dedupops._OP_CACHES
        assert frames[-1] is dedupops._OP_CACHES[-1]
        dedupops.unpersist_op_caches()


class TestVocabOov:
    """textanalysis.vocab_topk / oov_stats — tokenizer-training support."""

    def test_vocab_hand_case(self, spark):
        rows = [(1, "b a a"), (2, "B c a")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [tuple(r) for r in ta.vocab_topk(df, k=2).collect()]
        # counts: a=3, b=2 (lowercased), c=1 -> top-2 = a, b
        assert got == [("a", 3, 1), ("b", 2, 2)]

    def test_vocab_tie_breaks_on_word(self, spark):
        rows = [(1, "z y x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [r["word"] for r in ta.vocab_topk(df, k=3).collect()]
        assert got == ["x", "y", "z"]  # all cnt=1 -> word asc

    def test_oov_hand_case(self, spark):
        rows = [(1, "a a b"), (2, "q z"), (3, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        vocab = ta.vocab_topk(df, k=2)  # a (3), b... ties: b=1,q=1,z=1 -> b
        got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
               for r in ta.oov_stats(df, vocab).collect()}
        assert got[1] == (3, 0, 0.0)
        assert got[2] == (2, 2, 1.0)
        assert got[3] == (0, 0, 0.0)  # blank doc: no ghost '' token

    def test_duplicate_vocab_words_count_once(self, spark):
        """A vocab frame that repeats a word must not multiply that word's
        tokens in the left join (n_tokens 4, not 6); the SQL twin agrees."""
        rows = [(1, "a a b q"), (2, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        vocab = spark.createDataFrame([("a",), ("a",), ("b",)], "word string")
        got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
               for r in ta.oov_stats(df, vocab).collect()}
        assert got == {1: (4, 1, 0.25), 2: (0, 0, 0.0)}

        con = duckdb.connect()
        con.register("docs", df.toPandas())
        con.register("vocab_words", vocab.toPandas())
        sql = ta.oov_stats_sql("docs", "SELECT word FROM vocab_words")
        duck = {int(r[0]): (int(r[1]), int(r[2]), float(r[3])) for r in con.execute(sql).fetchall()}
        assert duck == got

    def test_plan_shapes(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        vplan = ta.vocab_topk(df, k=10)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in vplan  # O3 top-k, not a global sort
        oplan = (
            ta.oov_stats(df, ta.vocab_topk(df, k=10))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in oplan  # vocab is the broadcast side
        assert "Python" not in vplan and "Python" not in oplan


class TestHardNegatives:
    """simsearch.hard_negative_topk — contrastive hard-negative mining."""

    def _df(self, spark, vecs):
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_hand_case_excludes_self_and_dups(self, spark):
        import math

        # 2-D unit vectors at known angles: 0 and 1 are near-identical
        # (cos ~0.9998 >= thr -> mutual dups, never negatives); 2 is the
        # informative negative for both; 3 is far from everyone.
        a = 0.02
        vecs = [
            [1.0, 0.0],
            [math.cos(a), math.sin(a)],
            [math.cos(0.8), math.sin(0.8)],
            [-1.0, 0.1],
        ]
        out = simsearch.hard_negative_topk(
            self._df(spark, vecs), k=2, dup_threshold=0.99, n_blocks=2
        )
        got = {
            (r["anchor_id"], r["rank"]): r["neg_id"] for r in out.collect()
        }
        assert got[(0, 1)] == 2 and got[(1, 1)] == 2  # dup pair skips itself
        assert got[(2, 1)] in (0, 1)
        # no self rows, no dup-pair rows
        assert all(a_ != n for (a_, _), n in got.items())
        assert (0, 2) in got and got[(0, 2)] == 3

    def test_block_count_invariance(self, spark, emb):
        """The block-matrix decomposition is an execution detail: any
        n_blocks yields the same exact result set."""
        e = emb.limit(60).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        a = simsearch.hard_negative_topk(e, k=3, dup_threshold=0.35, n_blocks=2)
        b = simsearch.hard_negative_topk(e, k=3, dup_threshold=0.35, n_blocks=7)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb and len(ra) > 0

    def test_threshold_is_strict_upper_bound(self, spark, emb):
        e = emb.limit(80).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        out = simsearch.hard_negative_topk(e, k=3, dup_threshold=0.2).collect()
        assert len(out) > 0
        assert all(r["cosine"] < 0.2 for r in out)
        assert all(r["anchor_id"] != r["neg_id"] for r in out)


class TestTfidfTopk:
    """textanalysis.tfidf_topk — corpus-aware keyword extraction."""

    def test_hand_case(self, spark):
        import math

        # 'apple' appears only in doc 1 (rare -> high idf);
        # 'common' appears in all 3 docs (idf = ln(4/4) = 0)
        rows = [
            (1, "apple apple common"),
            (2, "banana common"),
            (3, "cherry common"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["rank"]): (r["word"], r["score_fp"])
            for r in ta.tfidf_topk(df, k=2).collect()
        }
        rare = round(math.log(4.0 / 2.0) * 1e6)  # df=1 -> ln(4/2)
        assert got[(1, 1)] == ("apple", 2 * rare)  # tf=2
        assert got[(2, 1)] == ("banana", rare)
        # 'common': df=3 -> ln(4/4)=0; ties at 0 break on word asc
        assert got[(1, 2)] == ("common", 0)

    def test_rank_is_per_doc_and_bounded(self, spark):
        rows = [(1, "a b c d e"), (2, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ta.tfidf_topk(df, k=3).collect()
        assert {r["doc_id"] for r in out} == {1}  # blank doc emits nothing
        assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]

    def test_no_python_in_plan(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        plan = ta.tfidf_topk(df, k=2)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan


class TestCrossNegatives:
    """simsearch.cross_negative_topk — cross-modal hard negatives."""

    def test_own_pair_excluded_by_id_not_vector(self, spark):
        # pair 0's caption vec IS its image vec (cosine 1.0): id-equality
        # exclusion must drop it even though dup_threshold=1.01 would not
        anchors = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "pair_id long, image_emb array<double>",
        )
        corpus = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.1])],
            "pair_id long, caption_emb array<double>",
        )
        out = simsearch.cross_negative_topk(
            anchors, corpus, k=2, dup_threshold=1.01, n_blocks=3
        ).collect()
        got = {(r["anchor_id"], r["neg_id"]) for r in out}
        assert (0, 0) not in got and (1, 1) not in got
        assert (0, 1) in got and (1, 0) in got

    def test_block_count_invariance(self, spark, emb):
        e = emb.limit(50).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        anchors = e.select(
            F.col("vec_id").alias("pair_id"),
            F.col("embedding").alias("image_emb"),
        )
        corpus = e.select(
            (F.col("vec_id") * 3 % 50).alias("pair_id"),
            F.col("embedding").alias("caption_emb"),
        )
        a = simsearch.cross_negative_topk(
            anchors, corpus, k=3, dup_threshold=0.35, n_blocks=2
        )
        b = simsearch.cross_negative_topk(
            anchors, corpus, k=3, dup_threshold=0.35, n_blocks=9
        )
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb and len(ra) > 0
