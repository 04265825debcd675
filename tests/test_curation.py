"""Curation operators: decontamination, PII scrub, SemDeDup.

Unit-level contracts beyond the entry oracle (which already value-checks
all three at sf0.01): n-gram edge cases, hand-computable contamination,
PII boundary behavior, and the SemDeDup pigeonhole invariants on planted
duplicates.
"""

import duckdb
import pytest
from pyspark.sql import Row, functions as F

from web_scraper_spark.functions import curation as cu, simsearch as ss
from web_scraper_spark.functions.textanalysis import md5_60_expr

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _grams(spark, text, n):
    df = spark.createDataFrame([Row(text=text)])
    return df.select(cu.token_ngrams_expr(F.col("text"), n).alias("g")).head()["g"]


class TestTokenNgrams:
    def test_basic(self, spark):
        assert _grams(spark, "a b c d", 3) == ["a b c", "b c d"]

    def test_short_and_blank(self, spark):
        # < n tokens and blank/whitespace text all yield EMPTY (the
        # sequence(1, negative) descend pitfall would emit junk instead)
        assert _grams(spark, "a b", 3) == []
        assert _grams(spark, "", 3) == []
        assert _grams(spark, "   ", 3) == []

    def test_exactly_n_tokens(self, spark):
        assert _grams(spark, "x y z", 3) == ["x y z"]

    def test_distinct(self, spark):
        # repeated n-gram counted once (matched_grams is a distinct count)
        assert _grams(spark, "a b a b a b", 2) == ["a b", "b a"]

    def test_duckdb_twin_matches(self, spark):
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
        d = spark.read.parquet(DOCS)
        got = {
            r["doc_id"]: list(r["g"])
            for r in d.select(
                "doc_id", cu.token_ngrams_expr(F.col("text"), 8).alias("g")
            ).collect()
        }
        want = {
            r[0]: list(r[1])
            for r in con.sql(
                f"SELECT doc_id, {cu.token_ngrams_sql('text', 8)} FROM documents"
            ).fetchall()
        }
        assert got == want


class TestContamination:
    def test_hand_case(self, spark):
        train = spark.createDataFrame(
            [
                Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
                Row(doc_id=2, text="completely unrelated words appear here only now"),
                Row(doc_id=3, text="quick brown fox jumps over the lazy dog again"),
            ]
        )
        ev = spark.createDataFrame(
            [Row(doc_id=100, text="lead-in quick brown fox jumps over the lazy dog")]
        )
        out = {
            r["doc_id"]: (r["matched_grams"], r["contaminated"])
            for r in cu.contamination(train, ev, n=8).collect()
        }
        # eval grams (n=8): 'lead-in quick…lazy' and 'quick…lazy dog'
        # doc 1 windows include 'quick brown fox jumps over the lazy dog'
        assert out[1] == (1, True)
        assert out[2] == (0, False)
        assert out[3] == (1, True)

    def test_empty_eval_all_clean(self, spark):
        train = spark.createDataFrame([Row(doc_id=1, text="a b c d e f g h i")])
        ev = train.filter("doc_id < 0")
        out = cu.contamination(train, ev, n=8).collect()
        assert [(r["matched_grams"], r["contaminated"]) for r in out] == [(0, False)]

    def test_eval_side_is_broadcast(self, spark):
        # the 100 TB shape: eval gram set must broadcast, never shuffle
        # the corpus side on a corpus-sized key
        train = spark.read.parquet(DOCS)
        ev = train.filter("doc_id % 97 = 0")
        plan = (
            cu.contamination(train, ev, n=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestPii:
    @pytest.mark.parametrize(
        "text,emails,ips",
        [
            ("mail bob@x.org and eve@sub.example.co.uk now", 2, 0),
            ("host 10.0.0.1 peer 192.168.1.255", 0, 2),
            ("no pii here at all", 0, 0),
            # a 4-digit tail is not an IPv4 octet (word boundary holds)
            ("not an ip 1.2.3.4567 ok", 0, 0),
            ("edge 1.2.3.4", 0, 1),
        ],
    )
    def test_counts(self, spark, text, emails, ips):
        df = spark.createDataFrame([Row(t=text)])
        r = df.select(
            cu.pii_email_count_expr(F.col("t")).alias("e"),
            cu.pii_ipv4_count_expr(F.col("t")).alias("i"),
        ).head()
        assert (r["e"], r["i"]) == (emails, ips)

    def test_mask_order_email_first(self, spark):
        # the dotted hostname inside an address must not be half-eaten by
        # the IP pass: '<EMAIL>' masks the whole address
        df = spark.createDataFrame([Row(t="x bob@10.0.0.1.example.com y 10.0.0.1 z")])
        got = df.select(cu.pii_mask_expr(F.col("t")).alias("m")).head()["m"]
        assert got == "x <EMAIL> y <IP> z"

    def test_mask_matches_duckdb(self, spark):
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
        aug = (
            "text || ' contact a.b@example.org or 172.16.254.3 today'"
        )
        want = dict(
            con.sql(
                f"SELECT doc_id, {cu.pii_mask_sql(f'({aug})')} FROM documents"
            ).fetchall()
        )
        d = spark.read.parquet(DOCS)
        got = dict(
            d.select(
                "doc_id",
                cu.pii_mask_expr(
                    F.concat(
                        F.col("text"),
                        F.lit(" contact a.b@example.org or 172.16.254.3 today"),
                    )
                ),
            ).collect()
        )
        assert got == want


class TestSemDeDup:
    @pytest.fixture(scope="class")
    def planted(self, spark):
        # 40 near-orthogonal base vectors + 10 exact copies of vectors
        # 0..9 under new ids 1000.. (every copy must be dropped: cosine 1.0
        # to a smaller id that lands in the SAME cluster — identical
        # vectors always share a nearest centroid)
        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.normal(size=(40, 16)).astype(float)
        rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(40)]
        rows += [
            Row(vec_id=1000 + i, embedding=[float(x) for x in base[i]])
            for i in range(10)
        ]
        return spark.createDataFrame(rows)

    def test_planted_copies_dropped(self, planted):
        kept = ss.semdedup_keep_ids(planted, threshold=0.999, n_clusters=4, iters=0)
        ids = {r["vec_id"] for r in kept.collect()}
        assert all(1000 + i not in ids for i in range(10))
        assert all(i in ids for i in range(40))

    def test_pigeonhole_invariants(self, planted):
        thr = 0.999
        kept = ss.semdedup_keep_ids(planted, threshold=thr, n_clusters=4, iters=0)
        rows = {r["vec_id"]: r["cluster"] for r in kept.collect()}
        vecs = {r["vec_id"]: list(r["embedding"]) for r in planted.collect()}
        import numpy as np

        def cos(a, b):
            a, b = np.array(vecs[a]), np.array(vecs[b])
            return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

        kept_ids = sorted(rows)
        # no surviving within-cluster pair at/above threshold
        for i, a in enumerate(kept_ids):
            for b in kept_ids[i + 1 :]:
                if rows[a] == rows[b]:
                    assert cos(a, b) < thr
        # every drop is justified by a smaller same-cluster near-dup
        dropped = set(vecs) - set(rows)
        assert dropped == {1000 + i for i in range(10)}

    def test_lloyd_refined_runs(self, planted):
        # iters>0 (float-averaged centroids) stays a pytest-only contract
        kept = ss.semdedup_keep_ids(planted, threshold=0.999, n_clusters=4, iters=2)
        ids = {r["vec_id"] for r in kept.collect()}
        assert all(1000 + i not in ids for i in range(10))

    def test_join_is_cluster_equi_join(self, planted):
        plan = (
            ss.semdedup_keep_ids(planted, threshold=0.9, n_clusters=4, iters=0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestCurateCorpus:
    """curate_corpus end-to-end on a hand-built corpus: one doc per drop
    path, each assertion naming the stage that must have fired."""

    def _run(self, spark, budget=None):
        base = " ".join(f"w{i}" for i in range(40))  # 40 distinct tokens
        rows = [
            Row(doc_id=1, lang="en", text=base + " alpha"),           # survives
            Row(doc_id=2, lang="en", text=base + " beta"),            # survives
            Row(doc_id=3, lang="en", text=base + " alpha"),           # exact dup of 1
            Row(doc_id=4, lang="en", text="x " * 60),                 # repetition drop
            Row(doc_id=5, lang="en",
                text=base + " e1 e2 e3 e4 e5 e6 e7 e8"),              # contaminated
            Row(doc_id=6, lang="fr", text=base + " gamma"),           # survives (fr)
        ]
        ev = [Row(text=" ".join(f"e{i}" for i in range(1, 21)))]
        out = cu.curate_corpus(
            spark.createDataFrame(rows),
            spark.createDataFrame(ev),
            quality_min=0.0,
            dup_frac_max=0.5,
            max_hamming=0,
            budget_tokens=budget,
        )
        return {r["doc_id"]: r for r in out.collect()}

    def test_each_stage_fires(self, spark):
        got = self._run(spark)
        # 4 dropped by dup-token-fraction, 5 by decontamination, 3 by
        # exact dedup (keep-first → 1 survives)
        assert set(got) == {1, 2, 6}
        assert got[1]["n_tokens"] == 41
        # PII mask is a pass-through when there is no PII
        assert got[1]["masked_text"].endswith(" alpha")

    def test_budget_cuts_per_stratum(self, spark):
        # 41-token docs; budget 41 keeps exactly one doc per stratum —
        # for 'en' the min-id tiebreak (equal quality) keeps doc 1
        got = self._run(spark, budget=41)
        assert set(got) == {1, 6}
        assert got[1]["cum_tokens"] == 41

    def test_pii_masked_in_output(self, spark):
        rows = [Row(doc_id=1, lang="en",
                    text="write to a.b@c.org from 10.0.0.1 now please ok")]
        out = cu.curate_corpus(
            spark.createDataFrame(rows), None,
            quality_min=0.0, dup_frac_max=1.0, max_hamming=0,
        ).collect()
        assert out[0]["masked_text"] == "write to <EMAIL> from <IP> now please ok"


class TestBoilerplateScrub:
    """curation.boilerplate_scrub — CCNet-style line-level cleaner."""

    def _run(self, spark, rows, min_docs=3):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = cu.boilerplate_scrub(df, min_docs=min_docs)
        return {
            r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_dropped"])
            for r in out.collect()
        }

    def test_frequent_lines_drop_rare_lines_stay(self, spark):
        nav = "HOME | ABOUT"
        rows = [
            (1, f"{nav}\nunique one\nshared pair"),
            (2, f"{nav}\nunique two\nshared pair"),
            (3, f"{nav}\nunique three"),
        ]
        got = self._run(spark, rows, min_docs=3)
        # nav appears in 3 docs -> dropped; 'shared pair' in 2 -> kept
        assert got[1] == ("unique one\nshared pair", 3, 1)
        assert got[2] == ("unique two\nshared pair", 3, 1)
        assert got[3] == ("unique three", 2, 1)

    def test_line_order_preserved(self, spark):
        rows = [(1, "z last\na first\nm middle")]
        got = self._run(spark, rows, min_docs=99)
        assert got[1][0] == "z last\na first\nm middle"

    def test_blank_lines_never_count_and_are_kept(self, spark):
        rows = [(i, "\nbody %d\n" % i) for i in range(5)]
        got = self._run(spark, rows, min_docs=2)
        # the blank first/last lines repeat in all 5 docs but never count
        assert got[0] == ("\nbody 0\n", 3, 0)

    def test_all_boilerplate_doc_survives_empty(self, spark):
        rows = [(1, "nav"), (2, "nav"), (3, "nav"), (4, "nav\nkeep me")]
        got = self._run(spark, rows, min_docs=3)
        assert got[1] == ("", 1, 1)
        assert got[4] == ("keep me", 2, 1)

    def test_no_python_in_plan(self, spark):
        df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
        plan = (
            cu.boilerplate_scrub(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan  # explode/agg/join/rebuild all JVM-side


class TestLmBigramScore:
    """curation.lm_bigram_score — CCNet-style bigram-LM fluency filter."""

    def _run(self, spark, docs, refs):
        d = spark.createDataFrame(docs, "doc_id long, text string")
        r = spark.createDataFrame(refs, "doc_id long, text string")
        out = cu.lm_bigram_score(d, r)
        return {
            row["doc_id"]: (row["n_scored"], row["lm_sum_fp"], row["lm_score"])
            for row in out.collect()
        }

    def test_hand_case(self, spark):
        import math

        # model: "the cat sat" -> C(the,cat)=C(cat,sat)=1; C(the)=C(cat)=1;
        # V = |{cat, sat}| + 1 = 3
        refs = [(100, "the cat sat")]
        docs = [(1, "the cat"), (2, "dog runs"), (3, "x")]
        got = self._run(spark, docs, refs)
        seen = round(math.log(2.0 / 4.0) * 1e6)  # (1+1)/(1+3)
        unseen = round(math.log(1.0 / 3.0) * 1e6)  # (0+1)/(0+3)
        assert got[1] == (1, seen, round(-seen / 1e6, 6))
        assert got[2] == (1, unseen, round(-unseen / 1e6, 6))
        assert got[3] == (0, 0, 0.0)  # < 2 tokens: nothing to score

    def test_lowercase_and_repeat_weighting(self, spark):
        import math

        # tokenization lowercases ("The cat" scores as the in-model gram),
        # and a doc repeating a gram k times sums k * the same term
        refs = [(100, "the cat sat")]
        docs = [(1, "The cat"), (2, "the cat the cat")]
        got = self._run(spark, docs, refs)
        seen = round(math.log(2.0 / 4.0) * 1e6)  # (the,cat): (1+1)/(1+3)
        backoff = round(math.log(1.0 / 4.0) * 1e6)  # (cat,the): (0+1)/(1+3)
        assert got[1] == (1, seen, round(-seen / 1e6, 6))
        # "the cat the cat": (the,cat) x2 + (cat,the) x1 = 3 positions
        total = 2 * seen + backoff
        assert got[2] == (3, total, round(-total / 3e6, 6))

    def test_fluent_scores_below_gibberish(self, spark):
        refs = [(100 + i, "the cat sat on the mat") for i in range(3)]
        docs = [(1, "the cat sat on the mat"), (2, "zq wv xj qq pk rr")]
        got = self._run(spark, docs, refs)
        assert got[1][2] < got[2][2]

    def test_no_python_in_plan(self, spark):
        d = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        plan = (
            cu.lm_bigram_score(d, d)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan  # explode/agg/joins all JVM codegen


class TestCurateCorpusLmGate:
    """curate_corpus(lm_ref=, lm_score_max=) — the CCNet-position gate."""

    def test_gate_drops_gibberish_and_carries_score(self, spark):
        fluent = "the cat sat on the mat and the dog sat on the rug"
        ref = spark.createDataFrame(
            [(100 + i, fluent) for i in range(3)], "doc_id long, text string"
        )
        docs = spark.createDataFrame(
            [(1, fluent), (2, "zq wv xj qq pk rr zz kk ww vv uu tt")],
            "doc_id long, text string",
        ).withColumn("lang", F.lit("en"))
        # permissive rule thresholds: only the LM gate can drop here
        base = cu.curate_corpus(
            docs, None, quality_min=0.0, dup_frac_max=1.0
        )
        scores = {
            r["doc_id"]: r["lm_score"]
            for r in cu.lm_bigram_score(docs, ref).collect()
        }
        cut = (scores[1] + scores[2]) / 2
        gated = cu.curate_corpus(
            docs, None, quality_min=0.0, dup_frac_max=1.0,
            lm_ref=ref, lm_score_max=cut,
        )
        got = {r["doc_id"]: r["lm_score"] for r in gated.collect()}
        assert {r["doc_id"] for r in base.collect()} == {1, 2}
        assert set(got) == {1}  # gibberish dropped by the LM gate alone
        assert got[1] == scores[1]  # the score rides on the survivor
        assert "lm_score" not in base.columns  # gate off -> schema unchanged


class TestBlocklistFilter:
    """curation.blocklist_filter — banned-term safety gate."""

    def test_zero_tolerance_and_stats(self, spark):
        rows = [
            (1, "clean text with ten ordinary words here now today friends"),
            (2, "short spamterm text"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = {r["doc_id"]: (r["n_banned"], r["banned_frac"])
                for r in cu.blocklist_filter(df, 0.0).collect()}
        assert set(kept) == {1, 3}
        assert kept[1] == (0, 0.0)
        assert kept[3] == (0, 0.0)  # blank text never divides by zero

    def test_fraction_threshold(self, spark):
        # 1 banned / 10 tokens = 0.1: kept at 0.1, dropped below
        text = "spamterm " + " ".join(f"w{i}" for i in range(9))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        assert cu.blocklist_filter(df, 0.1).count() == 1
        assert cu.blocklist_filter(df, 0.099999).count() == 0

    def test_whole_token_match_only(self, spark):
        # 'spamterms' and 'xspamterm' must NOT count (token boundaries)
        df = spark.createDataFrame(
            [(1, "spamterms xspamterm fine")], "doc_id long, text string"
        )
        got = cu.blocklist_filter(df, 0.0).collect()
        assert len(got) == 1 and got[0]["n_banned"] == 0

    def test_punctuation_tabs_and_adjacent_repeats(self, spark):
        """A term next to punctuation or a tab is one token, and each of
        n adjacent repeats counts once — in the Column expr and its
        DuckDB twin alike."""
        rows = [
            (1, "badword1. fine"),
            (2, "fine\tbadword2\tfine"),
            (3, "spamterm spamterm spamterm"),
            (4, "(nsfwterm),BADWORD3!"),
            (5, "spamterms xspamterm fine"),
        ]
        want = {1: 1, 2: 1, 3: 3, 4: 2, 5: 0}
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["s"]["n_banned"]
            for r in df.select("doc_id", cu.blocklist_stats_expr(F.col("text")).alias("s"))
            .collect()
        }
        assert got == want
        sql = cu.blocklist_stats_sql("text")
        con = duckdb.connect()
        twin = {
            i: con.execute(f"SELECT {sql['n_banned']} FROM (SELECT ? AS text)", [t]).fetchone()[0]
            for i, t in rows
        }
        assert twin == want

    def test_custom_list_and_no_python(self, spark):
        df = spark.createDataFrame([(1, "foo bar")], "doc_id long, text string")
        out = cu.blocklist_filter(df, 0.0, terms=["foo"])
        assert out.count() == 0  # custom list fires
        plan = (
            cu.blocklist_filter(df, 0.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan
