"""token_budget_sample: the two-phase bucket-verdict plan must reproduce
the naive one-window semantics exactly — including budget boundaries that
land on bucket edges, inside buckets, and priority/id ties — and the
repetition signals must match hand-computed values."""

import os

import pytest
from conftest import TESTDATA
from pyspark.sql import Window
from pyspark.sql import functions as F

from web_scraper_spark.functions import textanalysis as ta
from web_scraper_spark.operators.sampling import token_budget_sample

DOCS = os.path.join(TESTDATA, "sf0.001", "documents.parquet")


def naive_keep(rows, budget):
    """Sequential reference: per stratum, (priority DESC, id ASC) prefix
    while cum <= budget. rows = (id, stratum, priority, tokens)."""
    out = {}
    by_stratum = {}
    for r in rows:
        by_stratum.setdefault(r[1], []).append(r)
    for s, rs in by_stratum.items():
        cum = 0
        for rid, _, _, tok in sorted(rs, key=lambda r: (-r[2], r[0])):
            if tok <= 0:
                continue
            cum += tok  # prefix semantics: an overflowing doc still spends
            if cum <= budget:
                out[rid] = cum
    return out


CASES = [
    # budget crosses INSIDE a bucket (priority tie group)
    ("inside", 10, [("a", "en", 2.0, 4), ("b", "en", 2.0, 4), ("c", "en", 2.0, 4)]),
    # budget lands EXACTLY on a bucket edge (no boundary bucket at all)
    ("edge", 8, [("a", "en", 2.0, 4), ("b", "en", 2.0, 4), ("c", "en", 1.0, 4)]),
    # first bucket alone overflows the budget
    ("overflow", 3, [("a", "en", 2.0, 4), ("b", "en", 1.0, 1)]),
    # multiple strata with different crossing points + id tie-breaks
    (
        "strata",
        6,
        [
            ("a", "en", 2.0, 3),
            ("b", "en", 2.0, 3),
            ("c", "en", 2.0, 3),
            ("d", "fr", 1.0, 5),
            ("e", "fr", 0.5, 5),
            ("f", "zh", 9.0, 7),
        ],
    ),
]


@pytest.mark.parametrize("name,budget,rows", CASES, ids=[c[0] for c in CASES])
def test_two_phase_equals_naive(spark, name, budget, rows):
    df = spark.createDataFrame(rows, ["doc_id", "lang", "priority", "tokens"])
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_sample(df, budget).collect()
    }
    assert got == naive_keep(rows, budget)


def test_two_phase_equals_one_window_spark(spark):
    """Same keep set as the literal one-window Spark plan on a synthetic
    corpus with many buckets and both boundary kinds."""
    rows = [
        (f"d{i:03d}", ["en", "fr"][i % 2], float(i % 5), 1 + i % 7)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "priority", "tokens"])
    budget = 60
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        df.where(F.col("tokens") > 0)
        .withColumn("cum_tokens", F.sum("tokens").over(w))
        .where(F.col("cum_tokens") <= budget)
        .select("doc_id", "lang", "tokens", "cum_tokens")
    )
    got = {(r["doc_id"], r["cum_tokens"]) for r in token_budget_sample(df, budget).collect()}
    want = {(r["doc_id"], r["cum_tokens"]) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_zero_token_docs_dropped(spark):
    df = spark.createDataFrame(
        [("a", "en", 2.0, 4), ("z", "en", 2.0, 0), ("b", "en", 1.0, 4)],
        ["doc_id", "lang", "priority", "tokens"],
    )
    kept = {r["doc_id"] for r in token_budget_sample(df, 8).collect()}
    assert kept == {"a", "b"}


def test_repetition_signals_hand_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),        # 1 distinct token, top bigram 3/3
            (2, "a b c d"),                     # all unique
            (3, "one"),                         # single token: no bigrams
            (4, "x y x y x"),                   # 'x y' twice of 4 bigrams
        ],
        ["doc_id", "text"],
    )
    rep = {
        r["doc_id"]: (r["top_bigram_frac"], r["n_bigrams"])
        for r in ta.top_bigram_stats(docs).collect()
    }
    assert rep[1] == (1.0, 3)
    assert rep[2] == (pytest.approx(1 / 3, abs=1e-6), 3)
    assert rep[3] == (0.0, 0)
    assert rep[4] == (0.5, 4)
    dup = {
        r["doc_id"]: r["frac"]
        for r in docs.select(
            "doc_id", ta.dup_token_fraction_expr(F.col("text")).alias("frac")
        ).collect()
    }
    assert dup[1] == 0.75 and dup[2] == 0.0 and dup[3] == 0.0
    assert dup[4] == pytest.approx(0.6, abs=1e-6)


def test_two_phase_plan_shape(spark):
    """Plan audit: both Window nodes sit ABOVE a broadcast join with the
    bucket-verdict side — the full corpus is never the direct input of a
    per-document window (the 100-TB funnel the two-phase plan exists to
    avoid), and the bucket-level window runs over the aggregated bucket
    frame, not documents."""
    rows = [(f"d{i}", "en", float(i % 3), 1 + i % 5) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "priority", "tokens"])
    plan = token_budget_sample(df, 30)._jdf.queryExecution().executedPlan().toString()
    # per-document windows are fed by BroadcastHashJoin (bucket verdicts),
    # so every Window over doc rows appears after a broadcast join in the
    # same subtree; the naive plan has a Window directly over the scan.
    assert plan.count("Window") >= 2
    assert "BroadcastHashJoin" in plan
    # the naive shape would sort the WHOLE corpus by (priority, doc_id)
    # inside one window partition; the two-phase plan only ever sorts
    # doc rows AFTER the broadcast-join filter. Assert no Window consumes
    # the scan without an intervening join.
    # crude but stable: in the executedPlan tree text, every "Window" line
    # that mentions priority DESC ordering must be preceded (deeper in the
    # subtree, i.e., later in the printed tree) by a BroadcastHashJoin
    # before reaching a scan of the input.
    segments = plan.split("Window")
    for seg in segments[1:]:
        if "ExistingRDD" in seg or "LocalTableScan" in seg or "Scan" in seg:
            assert "BroadcastHashJoin" in seg or "HashAggregate" in seg, seg[:400]


# --------------------------------------------------------------------------
# pack_sequences — greedy first-fit sequence packing
# --------------------------------------------------------------------------


def naive_pack(rows, capacity, num_shards):
    """Sequential reference: per shard (id % num_shards), id-ordered greedy
    fold. rows = (doc_id:int, tokens:int); returns
    {doc_id: (shard, seq_idx, tok_offset, tokens)}."""
    out = {}
    by_shard = {}
    for i, t in rows:
        if t > 0:
            by_shard.setdefault(i % num_shards, []).append((i, t))
    for sh, rs in by_shard.items():
        seq = 0
        fill = 0
        for j, (i, t) in enumerate(sorted(rs)):
            if j > 0 and fill + t > capacity:
                seq += 1
                fill = 0
            out[i] = (sh, seq, fill, t)
            fill += t
    return out


def test_pack_sequences_equals_naive(spark):
    from web_scraper_spark.operators.sampling import pack_sequences

    rows = [(i, [0, 3, 40, 120, 300, 700][i % 6]) for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    got = {
        r["doc_id"]: (r["shard"], r["seq_idx"], r["tok_offset"], r["tokens"])
        for r in pack_sequences(df, capacity=512, num_shards=4).collect()
    }
    assert got == naive_pack(rows, 512, 4)
    # invariants: every packed-from-zero sequence of in-capacity docs fits;
    # oversized docs (700 > 512) sit alone at offset 0
    fills = {}
    for did, (sh, sq, off, tok) in got.items():
        fills.setdefault((sh, sq), []).append((off, tok))
    for (sh, sq), members in fills.items():
        members.sort()
        toks = [t for _, t in members]
        if all(t <= 512 for t in toks):
            assert sum(toks) <= 512
        else:
            assert len(members) == 1 and members[0][0] == 0
    # offsets are the running fill inside each sequence
    for (sh, sq), members in fills.items():
        cum = 0
        for off, tok in members:
            assert off == cum
            cum += tok


def test_pack_sequences_matches_duckdb_oracle(spark):
    """The sharded applyInPandas fold and the recursive-CTE statement are
    the same function."""
    import duckdb

    from web_scraper_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_sql,
    )

    rows = [(i * 3 + (i % 7), 1 + (i * 37) % 600) for i in range(150)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    got = {
        (r["doc_id"], r["shard"], r["seq_idx"], r["tok_offset"], r["tokens"])
        for r in pack_sequences(df, capacity=256, num_shards=8).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE toks(doc_id BIGINT, tokens BIGINT)")
    con.executemany("INSERT INTO toks VALUES (?,?)", rows)
    want = set(map(tuple, con.sql(pack_sequences_sql("toks", 256, 8)).fetchall()))
    assert got == want and len(got) == 150


# --------------------------------------------------------------------------
# mixture form — per-stratum budgets (training domain-mixing weights)
# --------------------------------------------------------------------------


def test_mixture_budgets_equal_per_stratum_scalar_runs(spark):
    """The dict form with every stratum at budget B equals the scalar
    form at B; a stratum absent from the dict is excluded entirely; and
    unequal budgets realize the mixture per stratum."""
    rows = [
        (f"d{i:03d}", ["en", "fr", "de"][i % 3], float(i % 4), 2 + i % 5)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "priority", "tokens"])

    scalar = {
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_sample(df, 40).collect()
    }
    uniform = {
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_sample(df, {"en": 40, "fr": 40, "de": 40}).collect()
    }
    assert scalar == uniform and len(scalar) > 0

    mixed = token_budget_sample(df, {"en": 60, "fr": 12}).collect()
    by_lang = {}
    for r in mixed:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "fr"}  # 'de' excluded
    assert max(r["cum_tokens"] for r in by_lang["en"]) <= 60
    assert max(r["cum_tokens"] for r in by_lang["fr"]) <= 12
    # per-stratum keep set equals the scalar run at that stratum's budget
    want_fr = {
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_sample(df.where(F.col("lang") == "fr"), 12).collect()
    }
    got_fr = {(r["doc_id"], r["cum_tokens"]) for r in by_lang["fr"]}
    assert got_fr == want_fr


# ---------------------------------------------------------------------------
# chunk_documents — context-window chunking
# ---------------------------------------------------------------------------

import duckdb

from web_scraper_spark.operators.sampling import (
    chunk_documents,
    chunk_documents_sql,
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _words(n, start=0):
    return " ".join(f"w{i}" for i in range(start, start + n))


def test_chunk_hand_cases(spark):
    # n=10, C=4, o=1 (stride 3) → 3 chunks at starts 0,3,6
    d = _mk_docs(spark, [(1, _words(10))])
    got = {
        r["chunk_id"]: (r["chunk_text"], r["chunk_n"])
        for r in chunk_documents(d, 4, 1).collect()
    }
    assert got == {
        0: ("w0 w1 w2 w3", 4),
        1: ("w3 w4 w5 w6", 4),
        2: ("w6 w7 w8 w9", 4),
    }
    # n=5, C=4, o=1 → tail chunk shorter
    d = _mk_docs(spark, [(1, _words(5))])
    got = {
        r["chunk_id"]: (r["chunk_text"], r["chunk_n"])
        for r in chunk_documents(d, 4, 1).collect()
    }
    assert got == {0: ("w0 w1 w2 w3", 4), 1: ("w3 w4", 2)}
    # short docs: one chunk; blank docs: none
    d = _mk_docs(spark, [(1, _words(3)), (2, "   "), (3, "solo")])
    rows = chunk_documents(d, 4, 1).collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r)
    assert set(per) == {1, 3}
    assert per[1][0]["chunk_text"] == "w0 w1 w2" and per[1][0]["chunk_n"] == 3
    assert per[3][0]["chunk_text"] == "solo"


def test_chunk_params_validated(spark):
    d = _mk_docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        chunk_documents(d, 0)
    with pytest.raises(ValueError):
        chunk_documents(d, 4, 4)
    with pytest.raises(ValueError):
        chunk_documents(d, 4, -1)


@pytest.mark.parametrize("C,o", [(8, 0), (8, 3), (5, 4), (64, 16)])
def test_chunk_reconstruction_and_coverage(spark, C, o):
    """dropping the first `overlap` tokens of chunks 1..k reconstructs
    every document exactly — no token lost, none duplicated beyond the
    declared overlap."""
    docs = spark.read.parquet(DOCS)
    sample = docs.filter(F.col("doc_id") < 40)
    texts = {r["doc_id"]: r["text"].split() for r in sample.collect()}
    chunks = {}
    for r in chunk_documents(sample, C, o).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"].split()
    for did, toks in texts.items():
        if not toks:
            assert did not in chunks
            continue
        cs = chunks[did]
        assert sorted(cs) == list(range(len(cs)))
        rebuilt = list(cs[0])
        for i in range(1, len(cs)):
            assert cs[i][:o] == rebuilt[len(rebuilt) - o :] if o else True
            rebuilt.extend(cs[i][o:])
        assert rebuilt == toks, did


def test_chunk_plan_no_shuffle(spark):
    from web_scraper_spark.plans import audit

    docs = spark.read.parquet(DOCS)
    df = chunk_documents(docs, 64, 16)
    plan = audit.physical_plan(df)
    assert "Exchange" not in plan
    assert "Generate" in plan  # the one explode
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_chunk_duckdb_twin(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'"
    )
    docs = spark.read.parquet(DOCS)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_n"])
        for r in chunk_documents(docs, 32, 8).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(chunk_documents_sql(32, 8)).fetchall()
    }
    assert got == want


class TestTemperatureBudgets:
    """sampling.temperature_budgets — sqrt (T=0.5) mixture weights."""

    def test_budgets_match_hand_math(self, spark):
        import math

        from web_scraper_spark.operators import sampling

        rows = [(1, "big", 9000), (2, "mid", 1000), (3, "low", 40)]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, tokens long"
        )
        got = {
            r["lang"]: (r["stratum_tokens"], r["w_fp"], r["_budget"])
            for r in sampling.temperature_budgets(df, 10_000).collect()
        }
        w = {l: round(math.sqrt(t) * 1e6) for _, l, t in rows}
        tot = sum(w.values())
        for _, l, t in rows:
            assert got[l] == (t, w[l], 10_000 * w[l] // tot)
        # sqrt upweights low-resource strata vs proportional shares
        assert got["low"][2] / 10_000 > 40 / 10_040

    def test_feeds_the_sampler_as_a_frame(self, spark):
        from web_scraper_spark.operators import sampling

        rows = [
            (i, "a" if i < 8 else "b", 1.0, 10) for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, priority double, tokens long"
        )
        budgets = sampling.temperature_budgets(df, 60)
        kept = sampling.token_budget_sample(df, budgets).collect()
        # budgets: w(a)=sqrt(80), w(b)=sqrt(20) -> a:40 tokens (4 docs),
        # b:20 tokens (2 docs)
        by = {}
        for r in kept:
            by.setdefault(r["lang"], []).append(r["doc_id"])
        assert len(by["a"]) == 4 and len(by["b"]) == 2

    def test_budget_product_does_not_overflow_int64(self, spark):
        """10^16- and 4*10^16-token strata have w_fp 10^14 and 2*10^14, so
        total_budget * w_fp is 10^20 and 2*10^20, past 2^63: the budget
        must still be exactly total * w div sum(w), in Spark and DuckDB.
        Each stratum's docs put the budget edge between two prefixes, so
        the kept set pins the DuckDB twin's budget to the token."""
        from web_scraper_spark.operators import sampling

        total = 10**6
        rows = [
            (1, "a", 3.0, 333_333), (2, "a", 2.0, 1), (3, "a", 1.0, 10**16 - 333_334),
            (4, "b", 3.0, 666_666), (5, "b", 2.0, 1), (6, "b", 1.0, 4 * 10**16 - 666_667),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, priority double, tokens long"
        )
        budgets = sampling.temperature_budgets(df, total)
        got = {r["lang"]: (r["w_fp"], r["_budget"]) for r in budgets.collect()}
        w = {"a": 10**14, "b": 2 * 10**14}
        assert got == {l: (w[l], total * w[l] // sum(w.values())) for l in w}
        assert {l: b for l, (_, b) in got.items()} == {"a": 333_333, "b": 666_666}
        kept = sampling.token_budget_sample(df, budgets).collect()
        assert {r["doc_id"] for r in kept} == {1, 4}

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE docs (doc_id BIGINT, lang VARCHAR, priority DOUBLE, tokens BIGINT)"
        )
        con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?)", rows)
        sql = sampling.temperature_budget_sample_sql("docs", total)
        assert {r[0] for r in con.execute(sql).fetchall()} == {1, 4}

    def test_no_python_no_driver_data(self, spark):
        from web_scraper_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "a", 1.0, 5)], "doc_id long, lang string, priority double, tokens long"
        )
        out = sampling.token_budget_sample(df, sampling.temperature_budgets(df, 10))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
