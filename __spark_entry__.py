"""Driver contract: entry / queries / oracle_sql for web_scraper_spark.

Every SQL-expressible operator family from SURVEY.md §2 plus the
training-data pipeline surface (dedup / similarity / text analysis /
multimodal) has a `queries()` entry; each oracle-able one has a matched
DuckDB SQL in `oracle_sql()` built from the SAME paired builders
(web_scraper_spark.functions.*), so Spark and DuckDB compute the same
function with the same column names. Entries with no oracle are the
genuinely approximate / non-SQL ops (LSH candidates, full crawl loop,
binary image plumbing) — driver records rows-only checks for those.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_scraper_spark.functions import dedupops, simsearch
from web_scraper_spark.functions import textanalysis as ta
from web_scraper_spark.functions import textops

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


N_HOSTS_MOD = 20  # events.user_id % 20 → synthetic "host" for frontier queries

# training-mixture weights for the mixture_sample query: per-language token
# budgets; 'de' is deliberately absent so the exclusion path provably fires
_MIXTURE_BUDGETS = {"en": 8_000, "zh": 4_000, "es": 4_000, "fr": 2_000}


def _events_frontier(spark, sf_dir):
    """events reinterpreted as a crawl frontier: host = user_id % 20,
    member key = zero-padded event_id (ZSET bytes-lex order), priority =
    event_id % 3 (exercises the priority asc, lex asc contract)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % N_HOSTS_MOD).cast("bigint").alias("host_id"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("url_canon"),
        (F.col("event_id") % 3).cast("int").alias("priority"),
        F.col("event_id"),
    )


# robots_decisions oracle corpus: one body per host, covering every
# path_matches_rule branch (robots_parser.c:318-367), allow-first
# precedence (c:410-436), multi-rule hosts, a rule-less host with only a
# Crawl-delay (sentinel row), and h7 absent entirely (unknown host).
ROBOTS_ORACLE_BODIES = {
    "h0": "Disallow: /private*\nAllow: /private/p1*\n",   # trailing-* + allow precedence
    "h1": "Disallow: *.html\n",                            # leading-* suffix
    "h2": "Disallow: /tmp-*cache\n",                       # interior-*
    "h3": "Disallow: /exact\n",                            # no star: exact equality
    "h4": "Allow: /a*\nDisallow: /a/b*\n",                 # allow checked first
    "h5": "Disallow: /a/b/c1*\nDisallow: /a/b/c2*\n",      # multiple disallows
    "h6": "Crawl-delay: 2\n",                              # rules-free host
}


def _robots_oracle_sql() -> str:
    """DuckDB re-implementation of the decision over the same corpus.
    Patterns are parsed+normalized by the SAME python kernel the engine's
    parse UDF uses (parse_robots_body), then inlined as VALUES."""
    from web_scraper_spark.operators.robots import parse_robots_body

    rows = []
    for host, body in ROBOTS_ORACLE_BODIES.items():
        allow, disallow, _ = parse_robots_body(body)
        rows += [f"('{host}', 'allow', '{p}')" for p in allow]
        rows += [f"('{host}', 'disallow', '{p}')" for p in disallow]
    values = ",\n         ".join(rows)
    return f"""
      WITH fr AS (
        SELECT 'http://h' || CAST(o_orderkey % 8 AS VARCHAR) ||
               CASE o_orderkey % 5
                 WHEN 0 THEN '/private/p' || CAST(o_orderkey AS VARCHAR)
                 WHEN 1 THEN '/public/doc' || CAST(o_orderkey AS VARCHAR) || '.html'
                 WHEN 2 THEN '/tmp-' || CAST(o_orderkey AS VARCHAR) || '/cache'
                 WHEN 3 THEN '/exact'
                 ELSE '/a/b/c' || CAST(o_orderkey % 7 AS VARCHAR)
               END AS url_canon,
               'h' || CAST(o_orderkey % 8 AS VARCHAR) AS host,
               CASE o_orderkey % 5
                 WHEN 0 THEN '/private/p' || CAST(o_orderkey AS VARCHAR)
                 WHEN 1 THEN '/public/doc' || CAST(o_orderkey AS VARCHAR) || '.html'
                 WHEN 2 THEN '/tmp-' || CAST(o_orderkey AS VARCHAR) || '/cache'
                 WHEN 3 THEN '/exact'
                 ELSE '/a/b/c' || CAST(o_orderkey % 7 AS VARCHAR)
               END AS path
        FROM orders
      ),
      rules(host, rtype, pat) AS (
        VALUES {values}
      ),
      m AS (
        SELECT f.url_canon, r.rtype,
               CASE
                 WHEN NOT contains(r.pat, '*') THEN f.path = r.pat
                 WHEN suffix(r.pat, '*') THEN starts_with(f.path, split_part(r.pat, '*', 1))
                 WHEN starts_with(r.pat, '*') THEN suffix(f.path, substr(r.pat, 2))
                 ELSE starts_with(f.path, split_part(r.pat, '*', 1))
                      AND contains(substr(f.path, length(split_part(r.pat, '*', 1)) + 1),
                                   regexp_extract(r.pat, '^[^*]*\\*+([^*]*)', 1))
               END AS hit
        FROM fr f LEFT JOIN rules r ON f.host = r.host
      )
      SELECT url_canon,
             coalesce(bool_or(rtype = 'allow' AND hit), FALSE)
             OR NOT coalesce(bool_or(rtype = 'disallow' AND hit), FALSE) AS allowed
      FROM m
      GROUP BY url_canon
    """


_EVENTS_FRONTIER_SQL = f"""
  SELECT CAST(user_id % {N_HOSTS_MOD} AS BIGINT) AS host_id,
         lpad(CAST(event_id AS VARCHAR), 12, '0') AS url_canon,
         CAST(event_id % 3 AS INTEGER) AS priority,
         event_id
  FROM events
"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus-curation pass over sf0.001 documents — token count,
    language id, quality score, fingerprint, simhash, sentiment — the
    single-scan analysis pipeline (P12/P13 analog + pipeline ops)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        ta.token_count_expr(t).cast("bigint").alias("n_tokens"),
        ta.lang_id_expr(t).alias("lang_pred"),
        ta.quality_score_expr(t).alias("quality"),
        ta.fingerprint_expr(t).alias("fp"),
        dedupops.simhash_expr(t).alias("simhash"),
        F.round(textops.sentiment_sql_expr(F.lower(t)), 6).alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---------------- relational / aggregation core (S19, A1, A2, O2-O3, J4)
    def q_pricing_summary(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["pricing_summary"] = q_pricing_summary

    def q_trend_topk(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        daily = ev.groupBy(
            "event_type", F.to_date("ts").cast("string").alias("day")
        ).agg(F.count("*").alias("frequency"))
        w = Window.partitionBy("event_type").orderBy("day")
        g = daily.withColumn("prev", F.lag("frequency").over(w)).withColumn(
            "growth_rate",
            F.when(
                F.col("prev").isNotNull(),
                F.round((F.col("frequency") - F.col("prev")) / F.col("prev"), 6),
            ),
        )
        wr = Window.orderBy(F.desc("frequency"), F.col("event_type"), F.col("day"))
        return (
            g.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 20)
            .select("event_type", "day", "frequency", "growth_rate", "rk")
        )

    q["trend_topk"] = q_trend_topk

    def q_top_hosts(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        agg = ev.groupBy(F.col("user_id").alias("host_id")).agg(F.count("*").alias("n_urls"))
        w = Window.orderBy(F.desc("n_urls"), F.col("host_id"))
        return agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)

    q["top_hosts"] = q_top_hosts

    def q_fk_lookup(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        li = _t(spark, sf_dir, "lineitem")
        return (
            o.filter(F.col("o_custkey") == 7)
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderkey", "o_totalprice")
            .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        )

    q["fk_lookup"] = q_fk_lookup

    def q_link_2hop(spark, sf_dir):
        c = _t(spark, sf_dir, "customer")
        o = _t(spark, sf_dir, "orders")
        li = _t(spark, sf_dir, "lineitem")
        two = (
            c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("c_custkey")
            .agg(F.count("*").alias("n_2hop"))
        )
        w = Window.orderBy(F.desc("n_2hop"), F.col("c_custkey"))
        return two.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 25)

    q["link_2hop"] = q_link_2hop

    def q_crawl_report_grouping_sets(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        ev.createOrReplaceTempView("ev_gs")
        return spark.sql(
            """
            SELECT event_type,
                   CAST(user_id % 10 AS BIGINT) AS host_bucket,
                   COUNT(*) AS n,
                   ROUND(SUM(value), 2) AS total_value
            FROM ev_gs
            GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10))
            """
        )

    q["crawl_report_grouping_sets"] = q_crawl_report_grouping_sets

    # ---------------- frontier / queue semantics (S5, S6, O2, T1, M2)
    def q_frontier_next_batch(spark, sf_dir):
        fr = _events_frontier(spark, sf_dir)
        w = Window.partitionBy("host_id").orderBy(F.col("priority").asc(), F.col("url_canon").asc())
        return (
            fr.withColumn("host_rank", F.row_number().over(w))
            .filter(F.col("host_rank") <= 3)
            .select("host_id", "event_id", "priority", "host_rank")
        )

    q["frontier_next_batch"] = q_frontier_next_batch

    def q_frontier_admission(spark, sf_dir):
        """The real scheduler operator (admit_batch) under SQL oracle:
        per-host delays 1+host%3, t0=0, horizon=5 → slots (rank-1)*delay."""
        from web_scraper_spark.operators.scheduler import admit_batch

        fr = _events_frontier(spark, sf_dir).withColumnRenamed("host_id", "host")
        hosts = fr.select("host").distinct()
        state = hosts.select(
            "host",
            F.lit(1.0).alias("min_delay"),
            (F.lit(1.0) + (F.col("host") % 3)).cast("double").alias("current_delay"),
            F.lit(0.0).alias("last_fetch"),
            F.lit(0).cast("int").alias("consecutive_errors"),
        )
        out = admit_batch(fr, state, t0=0.0, horizon=5.0, salt=4)
        return out.select(
            F.col("host").alias("host_id"),
            "event_id",
            "host_rank",
            F.round("fetch_time", 6).alias("fetch_time"),
        )

    q["frontier_admission"] = q_frontier_admission

    def q_priority_reorder(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        w = Window.orderBy(F.col("o_orderpriority").asc(), F.col("o_orderkey").asc())
        return (
            o.withColumn("pop_rank", F.row_number().over(w))
            .filter(F.col("pop_rank") <= 100)
            .select("pop_rank", "o_orderkey", "o_orderpriority")
        )

    q["priority_reorder"] = q_priority_reorder

    def q_url_quality(spark, sf_dir):
        """URL shape/spam scoring at frontier-admission time
        (urlops.url_features_exprs): digit ratio, path depth, query-param
        count and length fold into a deterministic quality score — the
        codegen cut that keeps calendar/session/faceted-search traps out
        of a 10^10-URL frontier before any fetch. URLs are synthesized
        from order keys with identical concat rules in both engines;
        every feature and the score are value-oracled."""
        from web_scraper_spark.functions import urlops

        o = _t(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        url = F.concat(
            F.lit("https://h"), (k % 50).cast("string"),
            F.lit(".example.test/cat/"), (k % 9).cast("string"),
            F.lit("/item"), k.cast("string"),
            F.when(k % 11 == 0, F.lit("/p/q/r/s/t")).otherwise(F.lit("")),
            F.when(
                k % 7 == 0,
                F.concat(
                    F.lit("?session="), (k * 13).cast("string"),
                    F.lit("&ref=track&sort=price"),
                ),
            ).otherwise(F.lit("")),
        )
        feats = urlops.url_features_exprs(F.col("url"))
        return o.select(F.col("o_orderkey"), url.alias("url")).select(
            "o_orderkey",
            "url",
            *[c.alias(n) for n, c in feats.items()],
        )

    q["url_quality"] = q_url_quality

    def q_zadd_min_upsert(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return ev.groupBy(F.col("user_id").alias("member")).agg(
            F.round(F.min("value"), 6).alias("score"), F.count("*").alias("n_pushes")
        )

    q["zadd_min_upsert"] = q_zadd_min_upsert

    # ---------------- seen-set membership (S3/S4, J1, M1)
    def q_seen_membership(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        cand = spark.range(1, 20001).select(F.col("id").alias("key"))
        return cand.join(o.select(F.col("o_orderkey").alias("key")), "key", "left_anti")

    q["seen_membership"] = q_seen_membership

    def q_seen_membership_sketch(spark, sf_dir):
        """Same answer, via the engine's bloom/cuckoo-accelerated path:
        keys → sha1 → sharded sketches → bloom prefilter → exact anti-join.
        The oracle proves the sketch path changes nothing (M1 contract)."""
        from web_scraper_spark.functions.urlops import shard_expr
        from web_scraper_spark.operators import seen as seen_ops

        o = _t(spark, sf_dir, "orders")
        seen = o.select(F.sha1(F.col("o_orderkey").cast("string")).alias("url_sha1")).withColumn(
            "shard", shard_expr(F.col("url_sha1"), 16)
        )
        cand = (
            spark.range(1, 20001)
            .select(F.col("id").alias("key"))
            .withColumn("url_sha1", F.sha1(F.col("key").cast("string")))
            .withColumn("shard", shard_expr(F.col("url_sha1"), 16))
        )
        sk = seen_ops.build_sketches(seen, capacity=4096)
        out = seen_ops.filter_unseen(cand, seen, sk)
        return out.select("key")

    q["seen_membership_sketch"] = q_seen_membership_sketch

    def q_seen_membership_bucketed(spark, sf_dir):
        """Same answer again, via the round-3 SHARD-ALIGNED path: the seen
        set committed bucket-pure (Catalog.stage_append_cow) and membership
        verified by filter_unseen_files — bloom probe + direct pyarrow read
        of only the touched shards' files, the seen table never planned as
        a join side. Oracle = the same anti-join SQL, proving the storage
        layout + file probe change nothing."""
        import atexit
        import shutil
        import tempfile

        from web_scraper_spark.catalog import Catalog
        from web_scraper_spark.functions.urlops import shard_expr
        from web_scraper_spark.operators import seen as seen_ops

        o = _t(spark, sf_dir, "orders")
        seen = o.select(
            F.sha1(F.col("o_orderkey").cast("string")).alias("url_sha1")
        ).withColumn("shard", shard_expr(F.col("url_sha1"), 16))
        root = tempfile.mkdtemp(prefix="wss_seenb_", dir="/tmp")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        cat = Catalog(spark, root)
        cat.stage_append_cow("seen", seen, "shard")
        cat.commit(generation=0, t0=0.0)
        cand = (
            spark.range(1, 20001)
            .select(F.col("id").alias("key"))
            .withColumn("url_sha1", F.sha1(F.col("key").cast("string")))
            .withColumn("shard", shard_expr(F.col("url_sha1"), 16))
        )
        sk = seen_ops.build_sketches(seen, capacity=4096)
        out = seen_ops.filter_unseen(
            cand, None, sk, bucket_files=cat.bucket_files("seen")
        )
        return out.select("key")

    q["seen_membership_bucketed"] = q_seen_membership_bucketed

    # ---------------- text analysis (P8-P13 + pipeline)
    _probe_memo = {}

    def _probe8(spark, sf_dir):
        """First 8 whitespace tokens of doc 0 — the decontamination
        injection probe. A ONE-row head at query-build time (harness
        injection, not pipeline data): riding it as a literal keeps the
        query plans nested-loop-free; the oracle re-derives the same
        string with a scalar subquery."""
        if sf_dir not in _probe_memo:
            txt = (
                _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") == 0)
                .select("text")
                .head()["text"]
            )
            _probe_memo[sf_dir] = " ".join(txt.strip().split()[:8])
        return _probe_memo[sf_dir]

    def _docs(spark, sf_dir):
        # test-SF documents arrive as ONE parquet row group → a 1-partition
        # scan that serializes every per-doc kernel (simhash/minhash/ngram
        # folds) onto one core. One narrow shuffle spreads the corpus; at
        # production scale the table has many row groups and Spark's scan
        # split does this for free.
        return _t(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )

    q["sentiment"] = lambda s, d: _docs(s, d).select(
        "doc_id",
        F.round(textops.sentiment_sql_expr(F.lower(F.col("text"))), 6).alias("sentiment"),
    )
    q["lang_id"] = lambda s, d: _docs(s, d).select(
        "doc_id", ta.lang_id_expr(F.col("text")).alias("lang_pred")
    )
    q["token_count"] = lambda s, d: _docs(s, d).select(
        "doc_id", ta.token_count_expr(F.col("text")).cast("bigint").alias("n_tokens")
    )
    q["quality_score"] = lambda s, d: _docs(s, d).select(
        "doc_id", ta.quality_score_expr(F.col("text")).alias("quality")
    )
    q["fingerprint"] = lambda s, d: _docs(s, d).select(
        "doc_id", ta.fingerprint_expr(F.col("text")).alias("fp")
    )

    def q_corpus_report(spark, sf_dir):
        """Per-language corpus observability: doc/token totals, mean
        quality, and how many docs are exact-content duplicates inside the
        language — the health report a curation run prints before/after
        each filter stage. One groupBy per aggregate level (partial-agg
        friendly). Mean quality is summed INTEGER-scaled (quality is
        already round-6, so x1e6 is exact) — float partial sums order
        differently across engines and would hash-mismatch the oracle."""
        d = _docs(spark, sf_dir).select(
            "doc_id",
            "lang",
            ta.quality_score_expr(F.col("text")).alias("quality"),
            ta.token_count_expr(F.col("text")).cast("long").alias("tokens"),
            ta.fingerprint_expr(F.col("text")).alias("fp"),
        )
        dupd = (
            d.groupBy("lang", "fp")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .groupBy("lang")
            .agg(F.sum("n").alias("n_dup_docs"))
        )
        return (
            d.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("tokens").alias("total_tokens"),
                F.round(
                    F.sum(F.round(F.col("quality") * 1_000_000).cast("long"))
                    / F.count(F.lit(1))
                    / 1e6,
                    6,
                ).alias("mean_quality"),
            )
            .join(dupd, "lang", "left")
            .select(
                "lang",
                "n_docs",
                "total_tokens",
                "mean_quality",
                F.coalesce("n_dup_docs", F.lit(0)).cast("long").alias("n_dup_docs"),
            )
        )

    q["corpus_report"] = q_corpus_report

    def q_corpus_drift(spark, sf_dir):
        """Training-data drift monitor between two crawl snapshots: the
        per-language composition shift (old = doc_id % 3 != 0, new =
        % 3 == 0 — the deterministic stand-in for generation N vs N+1).
        Shares are integer ppm via bigint floor-division (n * 1e6 div N)
        so the report is hash-exact; the totals enter as two bounded
        driver scalars (the oracle's scalar subqueries). A full-outer
        join keeps languages that exist in only one snapshot."""
        d = _docs(spark, sf_dir)
        old = d.filter(F.col("doc_id") % 3 != 0)
        new = d.filter(F.col("doc_id") % 3 == 0)
        n_old, n_new = old.count(), new.count()
        oc = old.groupBy("lang").agg(F.count(F.lit(1)).alias("n_old"))
        nc = new.groupBy("lang").agg(F.count(F.lit(1)).alias("n_new"))
        j = oc.join(nc, "lang", "full_outer").select(
            "lang",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        share_old = F.expr(f"n_old * 1000000 div {max(n_old, 1)}")
        share_new = F.expr(f"n_new * 1000000 div {max(n_new, 1)}")
        return j.select(
            "lang", "n_old", "n_new",
            share_old.cast("long").alias("share_old_ppm"),
            share_new.cast("long").alias("share_new_ppm"),
            (share_new - share_old).cast("long").alias("delta_ppm"),
        )

    q["corpus_drift"] = q_corpus_drift

    def q_vocab_drift(spark, sf_dir):
        """One-row vocabulary drift metric between the same two
        snapshots: Jaccard overlap of the top-500 vocabularies (old vs
        new), in integer ppm — the cheap canary that fires when a new
        crawl generation's language mix or tokenization shifts. Both
        vocabs are bounded top-k frames; the intersection/union counts
        are exact joins of k-row sides."""
        d = _docs(spark, sf_dir)
        vo = ta.vocab_topk(d.filter(F.col("doc_id") % 3 != 0), k=500).select(
            "word", F.lit(1).alias("in_o")
        )
        vn = ta.vocab_topk(d.filter(F.col("doc_id") % 3 == 0), k=500).select(
            "word", F.lit(1).alias("in_n")
        )
        u = vo.join(vn, "word", "full_outer").select(
            F.coalesce("in_o", F.lit(0)).alias("in_o"),
            F.coalesce("in_n", F.lit(0)).alias("in_n"),
        )
        agg = u.agg(
            F.sum("in_o").cast("long").alias("n_old_vocab"),
            F.sum("in_n").cast("long").alias("n_new_vocab"),
            F.sum(F.col("in_o") * F.col("in_n")).cast("long").alias("n_common"),
            F.count(F.lit(1)).cast("long").alias("_union"),
        )
        return agg.select(
            "n_old_vocab", "n_new_vocab", "n_common",
            F.expr("n_common * 1000000 div greatest(_union, 1)")
            .cast("long")
            .alias("jaccard_ppm"),
        )

    q["vocab_drift"] = q_vocab_drift

    # ---------------- dedup family
    def q_meta_pairs(spark, sf_dir):
        """P9 general meta key/value extraction (extract_meta.c:8-60): every
        name=/property= + content pair, incl. OpenGraph, over deliberately
        MESSY markup (uppercase tags, reversed attr order, unquoted and
        single-quoted values, a commented-out decoy) synthesized
        deterministically from the documents table — so DuckDB can emit the
        expected pairs literally and the robust kernel is SQL-oracled."""
        import pandas as pd
        from pyspark.sql import types as T

        from web_scraper_spark.functions import htmlparse

        docs = _docs(spark, sf_dir)
        clean = F.regexp_replace(F.substring(F.col("text"), 1, 80), "[<>\"'&]", "")
        html = F.concat(
            F.lit('<html><head><META content="C_'),
            clean,
            F.lit('" name=description><meta property=og:id content='),
            F.col("doc_id").cast("string"),
            F.lit("><meta name='keywords' content='"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("'><meta name=nocontent></head><body>"),
            F.lit('<!-- <meta name="decoy" content="no"> --></body></html>'),
        )
        schema = T.ArrayType(
            T.StructType(
                [
                    T.StructField("key", T.StringType()),
                    T.StructField("value", T.StringType()),
                ]
            )
        )

        meta_udf = F.pandas_udf(
            lambda h: h.map(
                lambda s: [
                    {"key": k, "value": v}
                    for k, v in htmlparse.parse_document(s)["meta"]
                ]
            ),
            schema,
        )

        return docs.select("doc_id", F.explode(meta_udf(html)).alias("m")).select(
            "doc_id",
            F.col("m.key").alias("meta_key"),
            F.col("m.value").alias("meta_value"),
        )

    q["meta_pairs"] = q_meta_pairs

    def q_exact_dup_groups(spark, sf_dir):
        """Exact dedup with injected duplicates (ids +100000 are copies of
        the 10 smallest doc_ids) — groups found by fingerprint groupBy."""
        d = _docs(spark, sf_dir)
        dup = d.orderBy("doc_id").limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
        both = d.unionByName(dup)
        return dedupops.exact_dup_groups(both)

    q["exact_dup_groups"] = q_exact_dup_groups
    def q_dedup_keep_set(spark, sf_dir):
        """End-to-end training-set dedup: exact fingerprint keep-first +
        simhash near-dup pruning (drop any doc within hamming 3 of a
        smaller id), composed into the final keep list. Duplicates are
        injected (ids +100000 copy the 10 smallest doc_ids, as in
        exact_dup_groups) so both stages fire; fully SQL-oracled — both
        stages are exact (pigeonhole band join)."""
        d = _docs(spark, sf_dir)
        dup = d.orderBy("doc_id").limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
        both = d.unionByName(dup)
        return dedupops.dedup_keep_ids(both, max_hamming=3)

    q["dedup_keep_set"] = q_dedup_keep_set

    def q_dedup_keep_set_incremental(spark, sf_dir):
        """'Train on new data only': incremental keep-set of a NEW batch
        against an already-deduped OLD corpus (dedupops.
        dedup_keep_ids_incremental; pair with Catalog.read_incremental in
        the crawl loop). Docs split old/new by doc_id parity (so the
        precedence rule — old always wins — differs observably from
        min-id); dups injected BOTH ways (copies of old texts at new ids,
        and new-new copies) so every drop path provably fires. Old docs'
        text is never rescanned beyond its one-time index."""
        d = _docs(spark, sf_dir).select("doc_id", "text")
        old_raw = d.filter(F.col("doc_id") % 2 == 0)
        old = old_raw.join(
            dedupops.dedup_keep_ids(old_raw, max_hamming=3), "doc_id", "left_semi"
        )
        new_base = d.filter(F.col("doc_id") % 2 == 1)
        dup_old = old_raw.orderBy("doc_id").limit(5).withColumn(
            "doc_id", F.col("doc_id") + 500000
        )
        dup_new = new_base.orderBy("doc_id").limit(5).withColumn(
            "doc_id", F.col("doc_id") + 600000
        )
        new = new_base.unionByName(dup_old).unionByName(dup_new)
        return dedupops.dedup_keep_ids_incremental(old, new, max_hamming=3)

    q["dedup_keep_set_incremental"] = q_dedup_keep_set_incremental

    def q_corpus_clean(spark, sf_dir):
        """The full text-side training-data pipeline as ONE composite:
        language filter (keep 'en') + quality threshold (>= 0.9) + the
        exact+near-dup keep-set (dedup_keep_ids, hamming <= 3), returning
        each surviving doc with its scores. Duplicates are injected (as in
        dedup_keep_set) so the dedup stage provably fires. Every stage is
        an exact kernel with a SQL twin, so the whole pipeline is
        value-oracled end to end."""
        d = _docs(spark, sf_dir)
        dup = d.orderBy("doc_id").limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
        both = d.unionByName(dup)
        scored = (
            both.select(
                "doc_id",
                "text",
                ta.lang_id_expr(F.col("text")).alias("lang_pred"),
                ta.quality_score_expr(F.col("text")).alias("quality"),
                ta.token_count_expr(F.col("text")).cast("bigint").alias("n_tokens"),
            )
            .filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.9))
            # feeds the dedup derivation AND the final semi-join: one pass
            .persist()
        )
        kept = dedupops.dedup_keep_ids(scored, max_hamming=3)
        return scored.join(kept, "doc_id", "left_semi").select(
            "doc_id", "lang_pred", "quality", "n_tokens"
        )

    q["corpus_clean"] = q_corpus_clean

    def q_stratified_sample(spark, sf_dir):
        """Deterministic hash-stratified downsampling — the reproducible
        corpus-balancing op (e.g. keep 50% of 'en', 10% of everything
        else). Selection = md5-60 fingerprint mod 1000 < per-stratum rate:
        no RNG, no seed drift — the same doc is kept on every rerun, any
        partitioning, and any engine, so the op is exactly SQL-oracled
        (sampleBy-style semantics without sampleBy's RNG)."""
        d = _docs(spark, sf_dir)
        scored = d.select(
            "doc_id",
            ta.lang_id_expr(F.col("text")).alias("lang_pred"),
            F.pmod(ta.md5_60_expr(F.col("text")), F.lit(1000)).alias("bucket"),
        )
        rate = F.when(F.col("lang_pred") == "en", F.lit(500)).otherwise(F.lit(100))
        return scored.filter(F.col("bucket") < rate).select(
            "doc_id", "lang_pred", "bucket"
        )

    q["stratified_sample"] = q_stratified_sample

    def q_doc_repetition(spark, sf_dir):
        """Gopher-style repetition signals per document: duplicate-token
        fraction (pure JVM array exprs, per-row) and top word-bigram
        fraction (distributed explode + two-level groupBy histogram — the
        shape that survives pathological repeated-phrase docs at 100 TB;
        textanalysis.top_bigram_stats). Both value-oracled."""
        d = _docs(spark, sf_dir)
        rep = ta.top_bigram_stats(d)
        return (
            d.select(
                "doc_id",
                ta.dup_token_fraction_expr(F.col("text")).alias("dup_token_frac"),
            )
            .join(rep, "doc_id")
            .select("doc_id", "dup_token_frac", "top_bigram_frac", "n_bigrams")
        )

    q["doc_repetition"] = q_doc_repetition

    def q_lm_score(spark, sf_dir):
        """CCNet-style perplexity filter: a Laplace-smoothed word-bigram
        LM trained on a deterministic 30% reference slice (md5-60 of
        doc_id mod 10 < 3 — no RNG, same slice on any engine) scores
        every document's mean token surprisal (curation.lm_bigram_score).
        Per-token ln-probs are 1e-6 fixed-point BEFORE the per-doc sum,
        so the result is integer-exact under any partitioning and fully
        value-oracled. Model tables are vocab-sized equi-join sides; the
        only driver scalar is V."""
        from web_scraper_spark.functions import curation

        d = _docs(spark, sf_dir)
        ref = d.filter(
            F.pmod(ta.md5_60_expr(F.col("doc_id").cast("string")), F.lit(10)) < 3
        )
        return curation.lm_bigram_score(d, ref)

    q["lm_score"] = q_lm_score

    def q_vocab_topk(spark, sf_dir):
        """Tokenizer-seed vocabulary: top-800 corpus words by frequency
        with deterministic word-asc tie-break (textanalysis.vocab_topk).
        Plans as the O3 TakeOrderedAndProject top-k — per-partition heaps,
        only k rows cross the exchange; the rank window runs over the
        bounded k-row frame. Fully value-oracled."""
        return ta.vocab_topk(_docs(spark, sf_dir), k=800)

    q["vocab_topk"] = q_vocab_topk

    def q_oov_rate(spark, sf_dir):
        """Vocabulary-coverage check: per-doc out-of-vocabulary rate
        against the corpus's own top-500 vocab (textanalysis.oov_stats).
        The vocab is k rows — explicitly broadcast, so corpus tokens meet
        it in a broadcast-hash join and never shuffle on a token key.
        Fully value-oracled."""
        d = _docs(spark, sf_dir)
        return ta.oov_stats(d, ta.vocab_topk(d, k=500))

    q["oov_rate"] = q_oov_rate

    def q_tfidf_topk(spark, sf_dir):
        """Per-document top-3 keywords by tf-idf (textanalysis.tfidf_topk)
        — the corpus-aware upgrade of the reference's per-page keyword
        pass (content_analyzer.c:215-417). One explode feeds both the tf
        and df aggregates; scores are 1e-6 fixed-point integers so the
        ranking is exactly SQL-replayable; the per-doc window frame is
        bounded by single-document vocabulary. Fully value-oracled."""
        return ta.tfidf_topk(_docs(spark, sf_dir), k=3)

    q["tfidf_topk"] = q_tfidf_topk

    def q_temperature_mixture(spark, sf_dir):
        """Temperature-scaled multilingual selection (T=0.5): per-language
        budgets proportional to sqrt(language token total) — the standard
        low-resource upweighting rule — computed entirely as DataFrame
        aggregates (sampling.temperature_budgets: one groupBy + a
        broadcast 1-row normalizer, nothing on the driver) and fed into
        the two-phase budget sampler's computed-budget form. sqrt is
        IEEE-correctly-rounded, weights are 1e-6 fixed point, budgets are
        integer division — hash-exact, fully value-oracled."""
        from web_scraper_spark.operators import sampling

        d = _docs(spark, sf_dir).select(
            "doc_id",
            "lang",
            ta.quality_score_expr(F.col("text")).alias("priority"),
            ta.token_count_expr(F.col("text")).cast("long").alias("tokens"),
        )
        budgets = sampling.temperature_budgets(d, 60_000)
        return sampling.token_budget_sample(d, budgets)

    q["temperature_mixture"] = q_temperature_mixture

    def q_token_budget_sample(spark, sf_dir):
        """Budgeted per-language corpus selection: keep the highest-quality
        documents of each language until a 20k-token budget fills
        (sampling.token_budget_sample). The Spark plan is the two-phase
        bucket-verdict form — only the budget-crossing priority bucket
        flows through a per-document window, so the biggest language never
        funnels through one task; the oracle states the naive one-window
        semantics the plan must reproduce."""
        from web_scraper_spark.operators import sampling

        d = _docs(spark, sf_dir).select(
            "doc_id",
            "lang",
            ta.quality_score_expr(F.col("text")).alias("priority"),
            ta.token_count_expr(F.col("text")).cast("long").alias("tokens"),
        )
        return sampling.token_budget_sample(d, 20_000)

    q["token_budget_sample"] = q_token_budget_sample

    def q_pack_sequences(spark, sf_dir):
        """Sequence packing (sampling.pack_sequences): greedy first-fit of
        tokenized documents into 512-token training sequences, sharded by
        doc_id % 8 so each shard is an independent sequential stream — one
        Arrow-batched applyInPandas task per shard, a single numpy pass
        inside. Returns the (doc, sequence, offset) manifest a
        sequence-builder job consumes. The oracle states the identical
        greedy fold as a DuckDB recursive CTE."""
        from web_scraper_spark.operators import sampling

        d = _docs(spark, sf_dir).select(
            "doc_id",
            ta.token_count_expr(F.col("text")).cast("long").alias("tokens"),
        )
        return sampling.pack_sequences(d, capacity=512, num_shards=8)

    q["pack_sequences"] = q_pack_sequences

    def q_mixture_sample(spark, sf_dir):
        """Training-mixture selection (token_budget_sample's dict form):
        per-language token budgets — en 8k, zh 4k, es 4k, fr 2k, de
        EXCLUDED (absent from the mixture) — so the keep set realizes the
        domain-mixing weights a training run specifies. Budgets ride as a
        broadcast frame joined onto the bucket AGGREGATE, never the
        corpus; the plan stays the two-phase bucket-verdict shape. The
        oracle states the one-window semantics joined to a VALUES budget
        table."""
        from web_scraper_spark.operators import sampling

        d = _docs(spark, sf_dir).select(
            "doc_id",
            "lang",
            ta.quality_score_expr(F.col("text")).alias("priority"),
            ta.token_count_expr(F.col("text")).cast("long").alias("tokens"),
        )
        return sampling.token_budget_sample(d, _MIXTURE_BUDGETS)

    q["mixture_sample"] = q_mixture_sample

    def q_decontaminate(spark, sf_dir):
        """Benchmark decontamination (curation.contamination): flag every
        training doc sharing an 8-token n-gram with the eval split
        (doc_id % 97 == 0 — the held-out set). The eval gram-hash set is
        BROADCAST (eval sets are tiny; the corpus is the 100 TB side), the
        corpus side is explode → broadcast semi-join → per-doc count. To
        prove the cross-doc path fires, docs with doc_id % 50 == 13 are
        augmented with the first 8 tokens of eval doc 0 — the same
        injection built in SQL, so the oracle replays the exact report.
        The probe is a query-build-time scalar lookup of ONE row (the
        harness injection, not pipeline data) — it rides the plan as a
        literal, keeping every query plan free of nested-loop joins."""
        from web_scraper_spark.functions import curation as cu

        d = _docs(spark, sf_dir)
        train = (
            d.filter(F.col("doc_id") % 97 != 0)
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 50 == 13,
                    F.concat(F.col("text"), F.lit(" " + _probe8(spark, sf_dir))),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
        )
        ev = d.filter(F.col("doc_id") % 97 == 0)
        return cu.contamination(train, ev, n=8)

    q["decontaminate"] = q_decontaminate

    def q_pii_scrub(spark, sf_dir):
        """PII detection + masking (curation.pii_*): email/IPv4 counts and
        the masked-text fingerprint, all pure JVM regexp expressions in
        the RE2-compatible subset both engines share. Deterministic PII is
        injected (doc_id % 7 → an email, % 11 → two IPv4 literals) with
        the identical CASE in SQL, so every count and every masked byte is
        value-oracled and the scrub path provably fires."""
        from web_scraper_spark.functions import curation as cu

        d = _docs(spark, sf_dir)
        t1 = F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact alice.bob@example.org today")),
        ).otherwise(F.col("text"))
        t = F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(t1, F.lit(" from 10.0.3.77 and 192.168.1.5")),
        ).otherwise(t1)
        return d.select(
            "doc_id",
            cu.pii_email_count_expr(t).alias("n_emails"),
            cu.pii_ipv4_count_expr(t).alias("n_ipv4"),
            ta.md5_60_expr(cu.pii_mask_expr(t)).alias("masked_fp"),
        )

    q["pii_scrub"] = q_pii_scrub

    def q_boilerplate_scrub(spark, sf_dir):
        """CCNet-style line-level boilerplate scrub
        (curation.boilerplate_scrub): lines shared by >= 25 documents
        drop; blank lines and under-threshold shared lines survive. The
        corpus has no newlines, so the query wraps each document with
        deterministic page chrome replayed identically in SQL — a nav bar
        (half the docs), a cookie banner (a quarter), a copyright footer
        (half) → all provably dropped; a 'section N' line shared by only
        ~n/150 docs and an injected blank line → provably kept. Every
        byte of the rebuilt text is value-checked via clean_fp."""
        from web_scraper_spark.functions import curation as cu

        d = _docs(spark, sf_dir)
        t = F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 4 <= 1, F.lit("HOME | ABOUT | CONTACT")),
            F.when(
                F.col("doc_id") % 4 == 1, F.lit("Accept all cookies to continue")
            ),
            F.col("text"),
            F.concat(F.lit("section "), (F.col("doc_id") % 150).cast("string")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("(c) 2026 Example Corp - all rights reserved"),
            ),
        )
        out = cu.boilerplate_scrub(
            d.select("doc_id", t.alias("text")), min_docs=25
        )
        return out.select(
            "doc_id",
            ta.md5_60_expr(F.col("clean_text")).alias("clean_fp"),
            "n_lines",
            "n_dropped",
        )

    q["boilerplate_scrub"] = q_boilerplate_scrub

    def _curated(spark, sf_dir, lm_gate=False):
        """Shared by curation_pipeline(_lm) and curated_shard_manifest:
        the injected train/eval corpus (PII on doc_id % 7 / % 11, an eval
        8-gram on % 50 == 13, ten byte-identical duplicates at +100000,
        eval split % 97 held out) run through curate_corpus; lm_gate adds
        the perplexity stage against the deterministic 30% slice."""
        from web_scraper_spark.functions import curation as cu

        d = _docs(spark, sf_dir)
        t1 = F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact alice.bob@example.org today")),
        ).otherwise(F.col("text"))
        t2 = F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(t1, F.lit(" from 10.0.3.77 and 192.168.1.5")),
        ).otherwise(t1)
        t3 = F.when(
            F.col("doc_id") % 50 == 13,
            F.concat(t2, F.lit(" " + _probe8(spark, sf_dir))),
        ).otherwise(t2)
        inj = d.select("doc_id", "lang", t3.alias("text"))
        dup = (
            inj.orderBy("doc_id")
            .limit(10)
            .withColumn("doc_id", F.col("doc_id") + 100000)
        )
        train = inj.unionByName(dup).filter(F.col("doc_id") % 97 != 0)
        ev = d.filter(F.col("doc_id") % 97 == 0).select("text")
        lm_kwargs = {}
        if lm_gate:
            lm_kwargs = dict(
                lm_ref=d.filter(
                    F.pmod(
                        ta.md5_60_expr(F.col("doc_id").cast("string")), F.lit(10)
                    )
                    < 3
                ).select("doc_id", "text"),
                lm_score_max=3.55,
            )
        return cu.curate_corpus(
            train,
            ev,
            quality_min=0.9,
            dup_frac_max=0.55,
            max_hamming=3,
            budget_tokens=600,
            **lm_kwargs,
        )

    def q_curation_pipeline(spark, sf_dir):
        """The END-TO-END curation pipeline as one operator
        (curation.curate_corpus): quality+repetition filter → benchmark
        decontamination → exact+near dedup → per-language 600-token budget
        selection → PII mask. Every failure path provably fires (see
        _curated); the identical injections are built in SQL, so the
        composite — including every masked byte, via masked_fp — is
        value-oracled end to end."""
        out = _curated(spark, sf_dir)
        return out.select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            "cum_tokens",
            ta.md5_60_expr(F.col("masked_text")).alias("masked_fp"),
        )

    q["curation_pipeline"] = q_curation_pipeline

    def q_curation_pipeline_lm(spark, sf_dir):
        """curate_corpus with the bigram-LM perplexity gate in its
        production position (CCNet's filter order): rule filters → LM
        mean-surprisal <= 3.55 against a model trained on the
        deterministic 30% reference slice → decontamination → dedup →
        budget → PII mask; lm_score rides on the survivors. Same
        injected corpus as curation_pipeline, value-oracled end to end
        including every masked byte."""
        from web_scraper_spark.functions import curation as cu

        out = _curated(spark, sf_dir, lm_gate=True)
        return out.select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            "lm_score",
            "cum_tokens",
            ta.md5_60_expr(F.col("masked_text")).alias("masked_fp"),
        )

    q["curation_pipeline_lm"] = q_curation_pipeline_lm

    def q_blocklist_filter(spark, sf_dir):
        """Safety gate (curation.blocklist_filter): drop documents whose
        banned-term token fraction crosses 3% — the UT1-style blocklist
        stage with a neutral placeholder list. Banned terms injected at
        two densities (one term on doc_id % 13, five on % 17) so both
        keep-with-stats and drop paths provably fire; whole-token
        substring-count matching replays exactly in SQL. Row-local
        codegen pushed onto the scan."""
        from web_scraper_spark.functions import curation

        d = _docs(spark, sf_dir)
        t1 = F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" spamterm")),
        ).otherwise(F.col("text"))
        t2 = F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(t1, F.lit(" badword1 badword2 badword3 nsfwterm spamterm")),
        ).otherwise(t1)
        inj = d.select("doc_id", t2.alias("text"))
        return curation.blocklist_filter(inj, max_banned_frac=0.03).select(
            "doc_id", "n_banned", "banned_frac"
        )

    q["blocklist_filter"] = q_blocklist_filter

    def q_pair_shard_manifest(spark, sf_dir):
        """Multimodal shard hand-off accounting
        (sharding.pair_shard_manifest): the text manifest's contract
        extended with the per-shard IMAGE BYTE sum a multimodal loader
        sizes its prefetch/storage budget by. One partial-aggregable
        groupBy(shard); octet_length is codegen on the binary cell — no
        decode, no Python. Fully value-oracled (the oracle re-derives
        every image's byte length sequentially)."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import sharding

        imgs = synth.images_df(spark, 256, seed=42).select(
            "image_id", "caption", "bytes"
        )
        return sharding.pair_shard_manifest(imgs, 8, salt=5)

    q["pair_shard_manifest"] = q_pair_shard_manifest

    def q_curated_shard_manifest(spark, sf_dir):
        """The COMPLETE raw-corpus → training-input story in one oracled
        statement: curate_corpus's survivors handed off to the shard
        writer's manifest (sharding.shard_manifest) — per-shard doc/token
        counts plus a content checksum over (doc_id, masked-text
        fingerprint), so the oracle value-checks that BOTH pipeline output
        and shard placement agree byte-for-byte. No new shuffle family:
        curation's stages + one partial-aggregable groupBy(shard)."""
        from web_scraper_spark.operators import sharding

        out = _curated(spark, sf_dir)
        prepared = out.select(
            "doc_id",
            "n_tokens",
            ta.md5_60_expr(F.col("masked_text")).cast("string").alias("ckt"),
        )
        return sharding.shard_manifest(
            prepared,
            8,
            id_col="doc_id",
            text_col="ckt",
            tokens_col="n_tokens",
            salt=7,
        )

    q["curated_shard_manifest"] = q_curated_shard_manifest

    def q_dup_clusters(spark, sf_dir):
        """Transitive dup clusters: connected components over the simhash
        near-dup graph by hash-min label propagation (driver-controlled,
        executor-executed iterations with localCheckpoint lineage cuts) —
        every doc labeled with the min id reachable through near-dup
        edges. The one dedup semantics a single join cannot express;
        value-oracled via a DuckDB recursive CTE over the same closure."""
        return dedupops.dup_clusters(_docs(spark, sf_dir), max_hamming=3)

    q["dup_clusters"] = q_dup_clusters

    def q_cluster_reps(spark, sf_dir):
        """Quality-aware canonical doc per dup cluster
        (dedupops.cluster_representatives): from the transitive simhash
        clusters, keep the HIGHEST-quality member (id tie-break) — the
        production alternative to min-id keep-sets when near-duplicates
        differ in quality. Plan is join + ONE windowless groupBy-argmax
        (max of (score, -id) struct), partial-aggregable, so a
        pathological million-member cluster combines map-side; the oracle
        states the row_number-window semantics."""
        d = _docs(spark, sf_dir)
        members = dedupops.dup_clusters(d, max_hamming=3)
        scores = d.select(
            "doc_id", ta.quality_score_expr(F.col("text")).alias("quality")
        )
        return dedupops.cluster_representatives(members, scores)

    q["cluster_reps"] = q_cluster_reps

    def q_host_authority(spark, sf_dir):
        """Crawl-ordering authority (authority.host_authority): 5 rounds
        of FIXED-POINT PageRank over the host link graph — the numeric
        priority the reference's scheduler pops by, produced from the
        graph itself. Integer micro-unit arithmetic end to end (integer
        division + integer sums are associative), so the unrolled-CTE
        oracle matches bit-for-bit where float PageRank could not. Each
        round is one equi-join + one partial-aggregable groupBy(dst) sum:
        the same shuffle family as hash-min CC, k fixed. Synthetic hub
        graph from doc ids (src = id%50 → dst = id//50)."""
        from web_scraper_spark.operators import authority

        edges = _t(spark, sf_dir, "documents").select(
            (F.col("doc_id") % 50).alias("src"),
            F.expr("doc_id DIV 50").alias("dst"),
        )
        return authority.host_authority(edges, k=5)

    q["host_authority"] = q_host_authority

    def q_shard_positions(spark, sf_dir):
        """Training-shard hand-off (sharding.shard_positions): every doc's
        shard id + 0-based position in that shard's seeded shuffle order —
        the loader contract a trainer consumes. One window per shard (the
        writer's own unit of work), engine-portable md5 placement."""
        from web_scraper_spark.operators import sharding

        return sharding.shard_positions(
            _docs(spark, sf_dir), n_shards=8, id_col="doc_id", salt=7
        )

    q["shard_positions"] = q_shard_positions

    def q_shard_manifest(spark, sf_dir):
        """Per-shard manifest (sharding.shard_manifest): doc/token counts
        + an order-insensitive modular content checksum, all
        partial-aggregable so the manifest of a 100-TB corpus is one
        map-side-combined groupBy(shard)."""
        from web_scraper_spark.operators import sharding

        return sharding.shard_manifest(
            _docs(spark, sf_dir),
            n_shards=8,
            id_col="doc_id",
            text_col="text",
            salt=7,
        )

    q["shard_manifest"] = q_shard_manifest

    def q_corpus_split(spark, sf_dir):
        """Deterministic train/val/test split (sharding.split_assign): a
        pure codegen hash-threshold expr — no global sort or count — whose
        membership is stable under corpus growth (the property that keeps
        eval sets uncontaminated across refreshes) and re-derivable by any
        engine (ppm cuts are integer-exact on both sides)."""
        from web_scraper_spark.operators import sharding

        return sharding.split_assign(
            _docs(spark, sf_dir),
            {"train": 0.9, "val": 0.05, "test": 0.05},
            id_col="doc_id",
            salt=11,
        ).select("doc_id", "split", "split_u")

    q["corpus_split"] = q_corpus_split

    def q_chunk_docs(spark, sf_dir):
        """Context-window chunking (sampling.chunk_documents): documents
        → sliding 64-token windows with 16-token overlap, the step that
        turns variable-length text into model-context-sized rows. Pure
        per-row codegen (split + sequence + ONE explode) — no shuffle, no
        UDF; chunk text ships as its md5-60 fingerprint so every chunk
        byte is value-checked without bulk text in the comparator."""
        from web_scraper_spark.operators.sampling import chunk_documents

        return chunk_documents(_docs(spark, sf_dir), 64, 16).select(
            "doc_id",
            "chunk_id",
            "chunk_n",
            ta.md5_60_expr(F.col("chunk_text")).alias("chunk_fp"),
        )

    q["chunk_docs"] = q_chunk_docs

    q["simhash"] = lambda s, d: _docs(s, d).select(
        "doc_id", dedupops.simhash_expr(F.col("text")).alias("sh")
    )
    q["simhash_pairs"] = lambda s, d: dedupops.simhash_pairs(_docs(s, d), max_hamming=3)
    q["ngram_jaccard_pairs"] = lambda s, d: dedupops.ngram_jaccard_pairs(
        _docs(s, d), threshold=0.12, n=8
    )
    # fully value-oracled since the band key became md5-60 (r4 verdict
    # item 2a): recall < 1 is still the operator's contract, but the pair
    # set it emits is deterministic and the oracle replays the identical
    # signature→band→verify pipeline in SQL
    q["minhash_lsh_pairs"] = lambda s, d: dedupops.minhash_lsh_pairs(
        _docs(s, d), threshold=0.12, n=8
    )

    def q_minhash_sig(spark, sf_dir):
        """The MinHash signature kernel itself, fully SQL-oracled: the LSH
        PAIR set is rows-only by design (banding recall < 1), but each
        signature — min over shingles of the Carter-Wegman affine hash of
        the gram's md5-60 (dedupops.minhash_term_sql) per permutation — is
        exactly expressible in DuckDB. Exploded to one row per
        (doc, permutation) so the driver compares scalar int64s."""
        sig = _docs(spark, sf_dir).select(
            "doc_id",
            dedupops.minhash_signature_expr(
                dedupops.shingles_expr(F.col("text"), 8)
            ).alias("sig"),
        )
        return sig.select(
            "doc_id", F.posexplode("sig").alias("perm", "minhash")
        ).withColumn("perm", F.col("perm").cast("long"))

    q["minhash_sig"] = q_minhash_sig

    # ---------------- embeddings: similarity + phash analog (J6)
    def _emb(spark, sf_dir):
        # same single-row-group spread as _docs (sign-sig folds, gemm blocks)
        return _t(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        )

    def q_embedding_sig_neardup(spark, sf_dir):
        """16-bit sign signature of the embedding (the phash analog) →
        LSH band self-join → hamming <= 2 pairs; oracle = exact O(n²) SQL.
        Band config is parametrized with a pigeonhole-exactness assert
        (simsearch.sign_sig_pairs — round-3 item 8)."""
        e = _emb(spark, sf_dir)
        return simsearch.sign_sig_pairs(
            e, sig_bits=16, n_bands=4, max_hamming=2
        )

    q["embedding_sig_neardup"] = q_embedding_sig_neardup

    def q_cosine_dup_pairs(spark, sf_dir):
        """Embedding-cosine near-dup pairs, fully oracled: the EXACT
        all-pairs baseline (simsearch.cosine_dup_pairs) that the banded
        sign-sig join (embedding_sig_neardup) and the ANN paths
        approximate at scale. Threshold 0.35 is data-relative — the
        synthetic corpus is near-orthogonal (max pair cosine ≈ 0.51 at
        sf0.01); production near-dup pruning runs the same operator at
        0.9+. Both engines filter on the ROUND(,6) value so the boundary
        decision is identical."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        return simsearch.cosine_dup_pairs(
            e, threshold=0.35, id_col="vec_id", vec_col="embedding"
        ).select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            "cosine",
        )

    q["cosine_dup_pairs"] = q_cosine_dup_pairs

    def q_hard_negatives(spark, sf_dir):
        """Contrastive-training hard-negative mining: per anchor, the 5
        most-similar OTHER vectors below the near-dup threshold (0.35,
        data-relative like cosine_dup_pairs — informative negatives, not
        duplicates). EXACT via the block-gemm shape with per-task local
        top-k in both directions, so the final per-anchor window sees
        O(n_blocks * k) candidates, never the O(n²) score matrix. Fully
        value-oracled (same round-before-decide + neg-id tie-break)."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        return simsearch.hard_negative_topk(
            e, k=5, dup_threshold=0.35, id_col="vec_id", vec_col="embedding"
        )

    q["hard_negatives"] = q_hard_negatives

    def q_pair_hard_negatives(spark, sf_dir):
        """CROSS-MODAL hard-negative mining for contrastive (CLIP-style)
        training: for each pair's IMAGE embedding, the 5 most-similar
        CAPTION embeddings from OTHER pairs below the near-dup threshold
        (simsearch.cross_negative_topk). Own-pair exclusion is by id —
        an aligned pair scores ~1 and must never be its own negative.
        Pair i's caption side reads the next vector ((i+1) mod n, n = the
        one bounded driver scalar) so the mapping is nontrivial; fully
        value-oracled with the same shift replayed as scalar subqueries."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        n = e.count()
        anchors = e.select(
            F.col("vec_id").alias("pair_id"),
            F.col("embedding").alias("image_emb"),
        )
        corpus = e.select(
            ((F.col("vec_id") + n - 1) % n).alias("pair_id"),
            F.col("embedding").alias("caption_emb"),
        )
        return simsearch.cross_negative_topk(
            anchors, corpus, k=5, dup_threshold=0.35
        )

    q["pair_hard_negatives"] = q_pair_hard_negatives

    def q_embedding_dup_clusters(spark, sf_dir):
        """Third modality of the transitive-cluster family: connected
        components over the EXACT cosine near-dup graph (block-gemm
        pairs → hash-min CC). Same cluster semantics as dup_clusters
        (text/simhash) and image_dup_clusters (phash); oracle walks the
        closure with a recursive CTE over list_cosine_similarity edges."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        pairs = simsearch.cosine_dup_pairs(e, threshold=0.35)
        return dedupops.connected_components(
            e.select("vec_id"), pairs, id_col="vec_id",
            a_col="id_a", b_col="id_b",
        )

    q["embedding_dup_clusters"] = q_embedding_dup_clusters

    def q_semdedup(spark, sf_dir):
        """SemDeDup keep-set (simsearch.semdedup_keep_ids): seed-quantizer
        clusters (iters=0 — SQL-re-derivable), then the pigeonhole drop
        rule inside each cluster. The scale story vs cosine_dup_pairs:
        candidate pairs form only within a cluster (equi-join on an int
        key), so the exact O(n²) gemm becomes O(Σ|cluster|²) — the
        SemDeDup trade. Threshold 0.35 matches the corpus's near-dup
        level (see q_cosine_dup_pairs); fully value-oracled."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        return simsearch.semdedup_keep_ids(
            e, threshold=0.35, n_clusters=16, iters=0
        )

    q["semdedup"] = q_semdedup

    def q_pair_alignment(spark, sf_dir):
        """CLIP-score alignment gate (simsearch.pair_alignment): each
        training pair carries an image embedding and a caption embedding;
        misaligned pairs (caption describes a different image) score low
        and drop. The pair table derives deterministically from the
        embeddings view in BOTH engines: pair i's image side is vector i
        and its caption side is vector i again (aligned), except every
        5th pair reads vector i+1 and every remaining 7th reads vector
        i+3 (misaligned — near-orthogonal in this corpus), so the drop
        path provably fires with a spread of boundary scores. Scoring is
        row-local codegen; the only shuffle is the embedding fetch join."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        cap_id = (
            F.when(F.col("vec_id") % 5 == 0, F.col("vec_id") + 1)
            .when(F.col("vec_id") % 7 == 0, F.col("vec_id") + 3)
            .otherwise(F.col("vec_id"))
        )
        p = e.select(
            F.col("vec_id").alias("pair_id"),
            F.col("embedding").alias("image_emb"),
            cap_id.alias("cap_vec_id"),
        )
        caps = e.select(
            F.col("vec_id").alias("cap_vec_id"),
            F.col("embedding").alias("caption_emb"),
        )
        # inner join: pairs whose misaligned caption id runs past the
        # corpus end vanish identically in both engines (no modulo, so
        # the construction needs no corpus-size constant)
        pairs = p.join(caps, "cap_vec_id").select(
            "pair_id", "image_emb", "caption_emb"
        )
        return simsearch.pair_alignment(pairs, threshold=0.35)

    q["pair_alignment"] = q_pair_alignment

    def q_cosine_to_query(spark, sf_dir):
        e = _emb(spark, sf_dir).withColumn("embedding", F.col("embedding").cast("array<double>"))
        qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
        j = e.crossJoin(F.broadcast(qv))
        return j.select(
            "vec_id",
            F.round(simsearch.cosine_expr(F.col("embedding"), F.col("q_vec")), 4).alias("cos"),
        )

    q["cosine_to_query"] = q_cosine_to_query

    def q_ann_brute_topk(spark, sf_dir):
        e = _emb(spark, sf_dir).withColumn("embedding", F.col("embedding").cast("array<double>"))
        qs = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return simsearch.brute_topk(e, qs, k=5).select("q_id", "vec_id", "cosine", "rank")

    q["ann_brute_topk"] = q_ann_brute_topk

    def q_ann_lsh_topk(spark, sf_dir):
        """Approximate top-k via random-hyperplane LSH — FULLY value-
        oracled (r4 verdict item 2b) even though recall < 1: the planes
        are md5-seeded constants inlined into the DuckDB twin, and bucket
        bits come from the round(dot, 6)-then-sign rule in both engines,
        so the approximation itself is deterministic and checkable."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        qs = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return simsearch.lsh_topk(e, qs, k=5, dim=64)

    q["ann_lsh_topk"] = q_ann_lsh_topk

    def q_ann_ivf_topk(spark, sf_dir):
        """IVF ANN, seed-quantizer variant (iters=0: centroids are the
        md5-smallest corpus vectors — pure data selection, no float
        averaging), n_probe nearest clusters exactly ranked, all in
        DataFrame ops (ivf_topk_distributed — the query table is never
        collected). FULLY value-oracled: cluster assignment and probe
        choice use the round(cosine, 6)-then-argmax rule both engines
        replay. The Lloyd-refined k-means path (iters > 0) stays
        available and is pinned in pytest; its float-sum-order-dependent
        centroids are the one part a cross-engine oracle cannot pin."""
        e = _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        qs = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return simsearch.ivf_topk_distributed(
            e, qs, k=5, n_clusters=16, n_probe=4, iters=0
        )

    q["ann_ivf_topk"] = q_ann_ivf_topk

    # ---------------- crawl-native ops (no SQL oracle: synthetic web corpus)
    def q_robots_decisions(spark, sf_dir):
        """P5/P6 full matcher semantics under a DuckDB oracle: the frontier
        derives deterministically from `orders` (host = h<key%8>, five path
        shapes), the rule corpus exercises all four match branches (exact,
        trailing-*, leading-*, interior-*) plus the allow-first precedence
        quirk and rule-less/unknown hosts. The oracle re-implements
        path_matches_rule in SQL over the SAME (python-parsed) patterns."""
        from web_scraper_spark.functions.urlops import normalize_path_expr
        from web_scraper_spark.operators.robots import decide_allowed, rules_from_corpus

        corpus = spark.createDataFrame(
            list(ROBOTS_ORACLE_BODIES.items()), ["host", "body"]
        )
        robots = rules_from_corpus(corpus, fetched_at=0)
        o = _t(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        path = (
            F.when(k % 5 == 0, F.concat(F.lit("/private/p"), k.cast("string")))
            .when(k % 5 == 1, F.concat(F.lit("/public/doc"), k.cast("string"), F.lit(".html")))
            .when(k % 5 == 2, F.concat(F.lit("/tmp-"), k.cast("string"), F.lit("/cache")))
            .when(k % 5 == 3, F.lit("/exact"))
            .otherwise(F.concat(F.lit("/a/b/c"), (k % 7).cast("string")))
        )
        host = F.concat(F.lit("h"), (k % 8).cast("string"))
        fr = o.select(
            F.concat(F.lit("http://"), host, path).alias("url_canon"),
            host.alias("host"),
            normalize_path_expr(path).alias("norm_path"),
        ).dropDuplicates(["url_canon"])  # /exact and c<k%7> shapes collide by design
        return decide_allowed(fr, robots).select("url_canon", "allowed")

    q["robots_decisions"] = q_robots_decisions

    def q_crawl_smoke(spark, sf_dir):
        """Tiny end-to-end batched crawl (3 hosts) → pages table sans
        binary content. Exercises the full generation loop under the
        driver's rows-check; deep equality vs the simulator is pytest's job."""
        import shutil
        import tempfile

        from web_scraper_spark import synth
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import run_crawl

        web = synth.SynthWebConfig(n_hosts=3, pages_per_host=6)
        cfg = CrawlConfig(max_pages=10, max_depth=2, horizon=5.0, num_shards=8)
        root = tempfile.mkdtemp(prefix="wss_smoke_", dir="/tmp")
        crawl_dir = os.path.join(root, "cat")
        out_dir = os.path.join(root, "result")
        try:
            seeds = spark.createDataFrame(
                [(r["url"], r["priority"]) for r in synth.seed_url_rows(web)],
                ["url", "priority"],
            )
            cat = run_crawl(spark, crawl_dir, seeds, cfg, web, max_generations=12)
            pages = cat.read("pages").select(
                "url", "host", "status", "crawl_rank", "depth", "title", "sentiment"
            )
            # persist the result OUTSIDE the crawl dir and re-read — no
            # driver collect round-trip, stays a distributed scan; the
            # result dir outlives the catalog tmpdir cleanup below
            pages.write.mode("overwrite").parquet(out_dir)
            shutil.rmtree(crawl_dir, ignore_errors=True)
            # the result dir must outlive this call (lazy return value) but
            # not the process: remove it at interpreter exit instead of
            # leaking one /tmp/wss_smoke_* per bench/correctness run
            import atexit

            atexit.register(shutil.rmtree, root, ignore_errors=True)
            return spark.read.parquet(out_dir)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise

    q["crawl_smoke"] = q_crawl_smoke

    def q_crawl_dedup_incremental(spark, sf_dir):
        """'Train on new data only' ON REAL CRAWL OUTPUT (r4 verdict item
        1): phase A crawls a 2-host synthetic web to drain — the engine
        maintains the ``dedup_index`` table per generation — then phase B reseeds two more hosts
        and resumes to drain. The new batch = Catalog.read_incremental
        ("pages", S1) (manifest file-diff, only phase-B files opened);
        the keep-set = dedup_keep_ids_incremental(old_index=
        dedup_index@S1) — phase A's page CONTENT is never rescanned, only
        its materialized (id, fp, sh) index rows. The 404 bodies phase B
        shares with phase A make the old-wins exact-drop path provably
        fire; duplicate 404s within phase B fire the new-new keep-first
        path. Value-oracled: the expected keep set is re-derived WITHOUT
        the engine — a sequential pure-python crawl closure (synth pages +
        the package's own sequential parse/canonicalize/robots kernels,
        the image-oracle precedent) inlined as VALUES, deduped in SQL by
        the same fp/simhash rules."""
        import atexit
        import shutil
        import tempfile

        from web_scraper_spark import synth
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import reseed_crawl, resume_crawl, run_crawl

        web_a = synth.SynthWebConfig(**_INC_WEB_A)
        web_b = synth.SynthWebConfig(**_INC_WEB_B)
        # max_pages=0 = unlimited: the budget admission cut would otherwise
        # route every generation through the two-phase global rank; a
        # drain crawl needs no budget. horizon 60 ≫ max per-host delay ×
        # pages/host, so each generation admits every known page of a host
        # and the crawl drains in ~BFS-depth generations.
        cfg = CrawlConfig(
            max_pages=0, max_depth=64, horizon=60.0,
            num_shards=8, num_host_buckets=8,
        )
        root = tempfile.mkdtemp(prefix="wss_inc_", dir="/tmp")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        seeds_a = spark.createDataFrame(
            [(u, 1) for u in _INC_SEEDS_A], ["url", "priority"]
        )
        cat = run_crawl(spark, root, seeds_a, cfg, web_a, max_generations=40)
        s1 = cat.current_snapshot()
        seeds_b = spark.createDataFrame(
            [(u, 1) for u in _INC_SEEDS_B], ["url", "priority"]
        )
        reseed_crawl(cat, seeds_b, cfg)
        resume_crawl(cat, cfg, web_b, max_generations=40)
        new_pages = cat.read_incremental("pages", s1)
        old_index = cat.read("dedup_index", s1)
        new_docs = new_pages.select(
            F.col("url"), F.col("content").cast("string").alias("text")
        )
        return dedupops.dedup_keep_ids_incremental(
            None, new_docs, max_hamming=3, id_col="url", old_index=old_index
        )

    q["crawl_dedup_incremental"] = q_crawl_dedup_incremental

    def q_crawl_extract_oracle(spark, sf_dir):
        """The full crawl loop's PAGES OUTPUT value-checked: drain-crawl
        the 2-host synth web (same shape as crawl_dedup_incremental's
        phase A) and return every fetched page's (url, status, title,
        sentiment). A drained crawl's page SET is schedule-invariant, and
        status/title/sentiment are pure functions of the page — so the
        oracle re-derives every row sequentially (the python closure walk
        + the SAME analyze kernel the mapInPandas stage wraps) and inlines
        it as VALUES. Together with crawl_dedup_incremental this leaves
        crawl_smoke (budget-bounded, schedule-dependent by design) as the
        only rows-only entry."""
        import atexit
        import shutil
        import tempfile

        from web_scraper_spark import synth
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.crawl import run_crawl

        web = synth.SynthWebConfig(**_INC_WEB_A)
        cfg = CrawlConfig(
            max_pages=0, max_depth=64, horizon=60.0,
            num_shards=8, num_host_buckets=8,
        )
        root = tempfile.mkdtemp(prefix="wss_cxo_", dir="/tmp")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        seeds = spark.createDataFrame(
            [(u, 1) for u in _INC_SEEDS_A], ["url", "priority"]
        )
        cat = run_crawl(spark, root, seeds, cfg, web, max_generations=40)
        return cat.read("pages").select(
            "url",
            "status",
            "title",
            F.round("sentiment", 6).alias("sentiment"),
        )

    q["crawl_extract_oracle"] = q_crawl_extract_oracle

    def q_image_invariants(spark, sf_dir):
        """input_hint table → decode + phash recompute (must match stored)."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        # consumed twice (decode branch + the compare join): persist so
        # image synthesis (the mapInPandas byte generation) runs once
        imgs = synth.images_df(spark, 256, seed=42).persist()
        feats = multimodal.image_features(imgs).withColumnRenamed("phash", "phash_re")
        j = imgs.join(feats, "image_id")
        return j.select(
            "image_id",
            "fmt",
            (F.col("dec_w") == F.col("w")).alias("w_ok"),
            (F.col("dec_h") == F.col("h")).alias("h_ok"),
            (F.col("phash") == F.col("phash_re")).alias("phash_ok"),
            "decode_ok",
        )

    q["image_invariants"] = q_image_invariants

    def q_image_quality(spark, sf_dir):
        """Decode-side image quality gate (multimodal.image_quality):
        Laplacian-variance sharpness + histogram entropy + brightness/
        contrast as scaled integers, and the keep verdict that drops
        blurry / near-constant / undecodable images before batch assembly
        — the quality filter geometry checks cannot express. One
        mapInPandas decode pass, keep as a codegen boolean after it.
        Three edge rows (flat gray, checkerboard, undecodable jpeg) are
        unioned so every branch — blur-drop, entropy-drop, quarantine,
        and pass — provably fires; the oracle re-derives every integer
        sequentially via the same kernel."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        imgs = synth.images_df(spark, 256, seed=42).select(
            "image_id", "bytes", "fmt"
        )
        edges = spark.createDataFrame(
            _image_quality_edge_rows(), "image_id string, bytes binary, fmt string"
        )
        return multimodal.image_quality(imgs.unionByName(edges))

    q["image_quality"] = q_image_quality

    def q_image_batch_buckets(spark, sf_dir):
        """Batch-assembly bucketing (imageops.aspect_bucket_expr /
        area_bucket_expr): every image assigned its (aspect class,
        resolution class) training bucket — the shape-homogeneous groups
        a loader pads/crops within. Both classifications are integer
        cross-product CASE exprs (no float division), whole-stage
        codegen'd on the scan; the oracle replays the identical CASEs
        over the same deterministic dims."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import imageops

        imgs = synth.images_df(spark, 256, seed=42)
        ar = imageops.aspect_bucket_expr(F.col("w"), F.col("h"))
        res = imageops.area_bucket_expr(F.col("w"), F.col("h"))
        return imgs.select(
            "image_id",
            ar.alias("ar_bucket"),
            res.alias("res_bucket"),
            F.concat_ws("_", ar, res.cast("string")).alias("batch_key"),
        )

    q["image_batch_buckets"] = q_image_batch_buckets

    def q_pair_corpus_report(spark, sf_dir):
        """Pair-corpus observability (the image twin of corpus_report):
        per (fmt, aspect-bucket) group — pair count, total pixels, EXACT
        integer sums of the decode-quality stats, how many pairs the
        quality gate would drop, and mean caption tokens. One decode pass
        (quality_struct_udf inline) + ONE partial-agg-friendly groupBy;
        all sums are integers so the distributed aggregate matches the
        oracle bit-for-bit regardless of combine order."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import imageops

        imgs = synth.images_df(spark, 256, seed=42)
        d = imgs.select(
            "fmt",
            imageops.aspect_bucket_expr(F.col("w"), F.col("h")).alias("ar_bucket"),
            (F.col("w") * F.col("h")).cast("long").alias("n_pixels"),
            imageops.quality_struct_udf(F.col("bytes"), F.col("fmt")).alias("_q"),
            ta.token_count_expr(F.col("caption")).cast("long").alias("cap_tokens"),
        )
        return d.groupBy("fmt", "ar_bucket").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_pixels").alias("total_pixels"),
            F.sum(F.col("_q.sharp_milli")).alias("sum_sharp_milli"),
            F.sum(F.col("_q.ent_milli")).alias("sum_ent_milli"),
            F.sum(
                F.when(
                    (F.col("_q.sharp_milli") < 2_000_000)
                    | (F.col("_q.ent_milli") < 4_000),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast("long")
            ).alias("n_quality_fail"),
            F.round(F.sum("cap_tokens") / F.count(F.lit(1)), 6).alias(
                "mean_caption_tokens"
            ),
        )

    q["pair_corpus_report"] = q_pair_corpus_report

    def q_pair_batch_sample(spark, sf_dir):
        """Batch assembly under a budget: per (aspect, resolution) batch
        bucket — the shape-homogeneous unit a loader pads/crops within —
        keep the SHARPEST pairs (decode-side sharp_milli as the priority)
        until the bucket's caption-token budget is exhausted: the image
        twin of mixture_sample, on the SAME two-phase token_budget_sample
        operator (bucket totals first, per-row window only at the
        boundary priority). One decode pass supplies the priority; the
        oracle states the naive one-window semantics over the pair +
        quality VALUES."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import imageops
        from web_scraper_spark.operators import sampling

        imgs = synth.images_df(spark, 256, seed=42)
        ar = imageops.aspect_bucket_expr(F.col("w"), F.col("h"))
        res = imageops.area_bucket_expr(F.col("w"), F.col("h"))
        d = imgs.select(
            "image_id",
            F.concat_ws("_", ar, res.cast("string")).alias("batch_key"),
            imageops.quality_struct_udf(F.col("bytes"), F.col("fmt"))[
                "sharp_milli"
            ].alias("priority"),
            ta.token_count_expr(F.col("caption")).cast("long").alias("tokens"),
        )
        return sampling.token_budget_sample(
            d, 600, stratum_col="batch_key", id_col="image_id",
            priority_col="priority", tokens_col="tokens",
        )

    q["pair_batch_sample"] = q_pair_batch_sample

    def q_image_resize(spark, sf_dir):
        """Training-shard normalizer (multimodal.resize_images): decode →
        deterministic area-resample to 16×16 → re-encode ppm, all inside
        one mapInPandas stage. The binary output is digested to md5 hex so
        the oracle can hash-check every byte without a binary column."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        imgs = synth.images_df(spark, 128, seed=42)
        out = multimodal.resize_images(imgs, size=16)
        return out.select(
            "image_id", "w", "h", "fmt", F.md5(F.col("bytes")).alias("bytes_md5")
        )

    q["image_resize"] = q_image_resize

    def q_image_bucket_resize(spark, sf_dir):
        """Batch-assembly normalizer (multimodal.resize_to_buckets): every
        image resized to the canonical shape of ITS (aspect, resolution)
        batch bucket — square s → s×s, wide → 2s×s, tall → s×2s — with
        the bucket's batch_key attached for shape-homogeneous loader
        batches. Targets are integer codegen exprs on metadata; the
        decode → per-row-target resample → re-encode is ONE mapInPandas
        stage; every output byte value-checked via bytes_md5."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        imgs = synth.images_df(spark, 128, seed=42)
        out = multimodal.resize_to_buckets(imgs)
        return out.select(
            "image_id", "w", "h", "fmt",
            F.md5(F.col("bytes")).alias("bytes_md5"), "batch_key",
        )

    q["image_bucket_resize"] = q_image_bucket_resize

    def q_image_augment(spark, sf_dir):
        """Seeded per-epoch augmentation (multimodal.augment_images):
        flip/crop switched by bits of md5_60(image_id ':' epoch) — pure
        metadata codegen, replayable without pixels — then decode → flip
        → 1/8 crop → area-resample → ppm, one mapInPandas stage. Byte
        output pinned via bytes_md5 against a sequentially re-derived
        chain; re-running the epoch is byte-identical (no RNG state)."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        imgs = synth.images_df(spark, 128, seed=42)
        out = multimodal.augment_images(imgs, epoch=1, size=16)
        return out.select(
            "image_id", "epoch", "flip", "crop", "w", "h", "fmt",
            F.md5(F.col("bytes")).alias("bytes_md5"),
        )

    q["image_augment"] = q_image_augment

    def q_image_neardup_lsh(spark, sf_dir):
        """phash near-duplicate pruning (J6) on the image table: LSH band
        self-join over the persisted (id, phash) projection
        (pairs.neardup_image_pairs)."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42)
        return pairs_ops.neardup_image_pairs(imgs, max_hamming=3)

    q["image_neardup_lsh"] = q_image_neardup_lsh

    def q_image_dup_clusters(spark, sf_dir):
        """Transitive image dup clusters: connected components over the
        phash near-dup graph (pairs.image_dup_clusters — the image twin of
        dup_clusters); value-oracled via a DuckDB recursive CTE over the
        same pure-pandas phashes."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42)
        return pairs_ops.image_dup_clusters(imgs, max_hamming=3)

    q["image_dup_clusters"] = q_image_dup_clusters

    def q_image_keep_set(spark, sf_dir):
        """Image training keep-set (pairs.neardup_image_ids → anti-join):
        drop every image within phash hamming 3 of a lexicographically
        smaller id, keep the rest — the image twin of dedup_keep_set.
        Pigeonhole (3 < 4 bands) makes the LSH drop set exact, so the
        whole composite is value-oracled against the same pure-pandas
        phashes as image_neardup_lsh."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select("image_id", "phash")
        drops = pairs_ops.neardup_image_ids(imgs, max_hamming=3)
        return imgs.join(drops, "image_id", "left_anti")

    q["image_keep_set"] = q_image_keep_set

    def q_pair_keep_set(spark, sf_dir):
        """JOINT image+caption keep-set (pairs.pair_keep_ids): drop a
        training pair when the image is a phash near-dup of a smaller id
        OR the caption is an exact/simhash near-dup of a smaller id.
        Boilerplate captions are injected on ids ending in 7 (the same
        CASE is applied in the oracle) so the caption stage provably
        fires alongside the synth corpus's built-in image near-dups.
        Both stages pigeonhole-exact -> fully value-oracled."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "phash", "caption"
        )
        imgs = imgs.withColumn(
            "caption",
            F.when(
                F.substring("image_id", 14, 1) == "7", F.lit(_BOILER_CAPTION)
            ).otherwise(F.col("caption")),
        )
        # cache the SYNTHESIZED input: the operator scans it once per
        # derivation (phash drops, caption fp, caption simhash, final
        # join) — cheap columnar rescans on a real parquet table, but
        # here each rescan re-synthesizes 512 image payloads
        from web_scraper_spark.functions.dedupops import register_op_cache

        imgs = register_op_cache(imgs)
        return pairs_ops.pair_keep_ids(imgs)

    q["pair_keep_set"] = q_pair_keep_set

    def q_pair_corpus_clean(spark, sf_dir):
        """Full multimodal pipeline composite (pairs.pair_corpus_clean):
        geometry filter (>=1024 decoded pixels, aspect <= 4) + caption
        token filter (>= 4 tokens) + the joint image+caption keep-set.
        Boilerplate captions injected on ids ending in 3 so the caption
        stage provably fires after the filters; every stage exact ->
        value-oracled end to end."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "w", "h", "fmt", "caption", "phash"
        )
        imgs = imgs.withColumn(
            "caption",
            F.when(
                F.substring("image_id", 14, 1) == "3", F.lit(_BOILER_CAPTION)
            ).otherwise(F.col("caption")),
        )
        # pair_corpus_clean caches its scored survivors, but the filter
        # itself would still re-synthesize per branch without this
        from web_scraper_spark.functions.dedupops import register_op_cache

        imgs = register_op_cache(imgs)
        return pairs_ops.pair_corpus_clean(imgs)

    q["pair_corpus_clean"] = q_pair_corpus_clean

    def q_pair_corpus_clean_quality(spark, sf_dir):
        """pair_corpus_clean with the DECODE-side quality gate enabled:
        geometry + caption-token filters (codegen, before any pixel
        work) → quality_struct_udf inline on the survivors (blurry /
        near-constant images drop; sharp_milli/ent_milli ride along) →
        the joint image+caption keep-set. The complete image+caption
        curation flagship, value-oracled end to end — the oracle replays
        the gate from sequentially re-derived quality integers."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
        )
        imgs = imgs.withColumn(
            "caption",
            F.when(
                F.substring("image_id", 14, 1) == "3", F.lit(_BOILER_CAPTION)
            ).otherwise(F.col("caption")),
        )
        from web_scraper_spark.functions.dedupops import register_op_cache

        imgs = register_op_cache(imgs)
        return pairs_ops.pair_corpus_clean(
            imgs, min_sharp_milli=2_000_000, min_ent_milli=4_000
        )

    q["pair_corpus_clean_quality"] = q_pair_corpus_clean_quality

    def q_pair_corpus_clean_lang(spark, sf_dir):
        """pair_corpus_clean with the caption-language gate: geometry +
        caption-token filters → keep only captions identified as English
        or unknown (marker-argmax lang id, pure codegen — the LAION-style
        per-language corpus cut) → the joint keep-set. German captions
        injected on ids ending in 7 so the gate provably fires; fully
        value-oracled with lang_id replayed identically in SQL."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions.dedupops import register_op_cache
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "w", "h", "fmt", "caption", "phash"
        )
        imgs = imgs.withColumn(
            "caption",
            F.when(
                F.substring("image_id", 14, 1) == "7", F.lit(_GERMAN_CAPTION)
            ).otherwise(F.col("caption")),
        )
        imgs = register_op_cache(imgs)
        return pairs_ops.pair_corpus_clean(
            imgs, allowed_langs=("en", "und")
        )

    q["pair_corpus_clean_lang"] = q_pair_corpus_clean_lang

    def q_pair_corpus_clean_safe(spark, sf_dir):
        """pair_corpus_clean with the caption SAFETY gate: geometry +
        caption-token filters → zero-tolerance banned-term cut
        (curation.blocklist_filter's whole-token rule as pure codegen,
        banned_frac riding on survivors) → the joint keep-set. Captions
        containing a banned term injected on ids ending in 9 so the gate
        provably fires; fully value-oracled."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions.dedupops import register_op_cache
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "w", "h", "fmt", "caption", "phash"
        )
        imgs = imgs.withColumn(
            "caption",
            F.when(
                F.substring("image_id", 14, 1) == "9", F.lit(_BANNED_CAPTION)
            ).otherwise(F.col("caption")),
        )
        imgs = register_op_cache(imgs)
        return pairs_ops.pair_corpus_clean(imgs, max_banned_frac=0.0)

    q["pair_corpus_clean_safe"] = q_pair_corpus_clean_safe

    def q_pair_corpus_clean_aligned(spark, sf_dir):
        """pair_corpus_clean with the CLIP-score alignment gate in its
        production position: geometry + caption-token filters → alignment
        >= 0.9 on the (image_emb, caption_emb) columns an upstream
        inference stage attached (JVM cosine, before any pixel work) →
        the joint keep-set. Pair k carries embedding vector k % n_emb on
        both sides (alignment 1.0) except every 9th pair, whose caption
        side reads the NEXT vector (near-orthogonal in this corpus →
        provably dropped). The embedding attachment is two equi-joins on
        vec_id replayed identically in SQL; n_emb enters as one bounded
        driver scalar (the oracle's scalar-subquery twin)."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions.dedupops import register_op_cache
        from web_scraper_spark.operators import pairs as pairs_ops

        imgs = synth.images_df(spark, 512, seed=42).select(
            "image_id", "w", "h", "fmt", "caption", "phash"
        )
        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        n_emb = e.count()
        k = F.substring("image_id", 5, 10).cast("long")
        img_vid = k % n_emb
        cap_vid = F.when(k % 9 == 0, (k + 1) % n_emb).otherwise(img_vid)
        w = (
            imgs.withColumn("_ivid", img_vid)
            .withColumn("_cvid", cap_vid)
            .join(
                e.select(
                    F.col("vec_id").alias("_ivid"),
                    F.col("emb").alias("image_emb"),
                ),
                "_ivid",
            )
            .join(
                e.select(
                    F.col("vec_id").alias("_cvid"),
                    F.col("emb").alias("caption_emb"),
                ),
                "_cvid",
            )
            .drop("_ivid", "_cvid")
        )
        w = register_op_cache(w)
        return pairs_ops.pair_corpus_clean(w, min_alignment=0.9)

    q["pair_corpus_clean_aligned"] = q_pair_corpus_clean_aligned

    def q_pair_keep_set_incremental(spark, sf_dir):
        """'Train on NEW pairs only' (pairs.pair_keep_ids_incremental):
        the shipped corpus (synth images 0..255) enters ONLY as its
        materialized pair_index (id, phash, caption fp, caption simhash)
        — old pixels and captions never rescanned; the new batch
        (_pair_incremental_new_rows: fresh pairs + injected image
        re-posts + caption re-uses, so every drop path provably fires)
        is joint-keep-setted against it with OLD-ALWAYS-WINS precedence.
        Banded equi-joins throughout, pigeonhole-exact ⇒ fully
        value-oracled."""
        from web_scraper_spark import synth
        from web_scraper_spark.operators import pairs as pairs_ops

        old = synth.images_df(spark, 256, seed=42).select("image_id", "caption", "phash")
        old_index = pairs_ops.pair_index(old)
        new_pairs = spark.createDataFrame(
            _pair_incremental_new_rows(),
            "image_id string, caption string, phash long",
        )
        return pairs_ops.pair_keep_ids_incremental(new_pairs, old_index)

    q["pair_keep_set_incremental"] = q_pair_keep_set_incremental

    def q_video_frames(spark, sf_dir):
        """Multimodal video: synthesized QV01 clips → REAL container
        parse + qdct frame decode + per-frame phash inside mapInPandas
        (r4 verdict item 5 — the video stub is gone for the engine's own
        container; only foreign codecs remain disclosed fakes).
        Value-oracled: the oracle re-decodes the same deterministic clip
        bytes sequentially (synth.videos_pdf + decode_qvid_frames) and
        inlines the expected (clip_id, frame_idx, frame_phash) rows."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        return multimodal.video_frame_sample(
            synth.video_clips_df(spark, 48, seed=42), every_n=3
        )

    q["video_frames"] = q_video_frames

    def q_frame_neardup(spark, sf_dir):
        """Cross-modal reuse of the J6 phash band join: sampled video
        frames (REAL decode, see video_frames) flow straight into
        pairs.neardup_image_pairs keyed by clip#frame — in-clip frame
        redundancy and the synth corpus's duplicated clips both surface as
        near-dup pairs. Pigeonhole-exact, so the pair set is value-oracled
        against an all-pairs SQL join over sequentially re-derived frame
        phashes."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal
        from web_scraper_spark.operators import pairs as pairs_ops

        frames = multimodal.video_frame_sample(
            synth.video_clips_df(spark, 48, seed=42), every_n=3
        )
        keyed = frames.select(
            F.concat(
                "clip_id", F.lit("#"), F.lpad(F.col("frame_idx").cast("string"), 3, "0")
            ).alias("image_id"),
            F.col("frame_phash").alias("phash"),
        )
        return pairs_ops.neardup_image_pairs(keyed, max_hamming=3).select(
            F.col("img_a").alias("frame_a"),
            F.col("img_b").alias("frame_b"),
            "hamming",
        )

    q["frame_neardup"] = q_frame_neardup

    def q_video_keep_set(spark, sf_dir):
        """Video CLIP-level keep-set (pairs.clip_keep_ids): decode + sample
        frames from the QV01 clips, drop every clip with ANY sampled frame
        within phash hamming 3 of a smaller clip's frame — the synth
        corpus's duplicated clips (every 7th perturbs the previous clip's
        base) provably fire the drop path. Completes the per-modality
        keep-set family; pigeonhole-exact, fully value-oracled."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal
        from web_scraper_spark.operators import pairs as pairs_ops

        frames = multimodal.video_frame_sample(
            synth.video_clips_df(spark, 48, seed=42), every_n=3
        )
        return pairs_ops.clip_keep_ids(frames, max_hamming=3)

    q["video_keep_set"] = q_video_keep_set

    def q_audio_feats(spark, sf_dir):
        """Multimodal audio: synthesized PCM WAV clips → REAL stdlib-wave
        decode inside mapInPandas (r4 verdict item 4 — the stub is gone
        for fmt='wav'; only foreign codecs remain disclosed fakes).
        Value-oracled: the oracle re-decodes the same deterministic WAV
        bytes sequentially (synth.audio_pdf + multimodal.decode_wav, the
        image-oracle pattern) and inlines the expected feature rows."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal

        return multimodal.audio_features(synth.audio_clips_df(spark, 64, seed=42))

    q["audio_feats"] = q_audio_feats

    def q_audio_keep_set(spark, sf_dir):
        """Audio CLIP-level keep-set (pairs.audio_keep_ids): decode the
        PCM WAV clips into gain-invariant envelope-shape fingerprints
        (multimodal.wav_fingerprint — REAL samples, no stub) and drop
        every clip within hamming 3 of a smaller clip's fingerprint via
        the shared phash LSH band join. The synth corpus's spliced copies
        (every 7th clip gain-edits two envelope windows of the previous
        clip, hamming <= 3 by construction) provably fire the drop path.
        Completes the per-modality keep-set family (text / image / pair /
        video / audio); pigeonhole-exact, fully value-oracled against
        sequentially re-decoded fingerprints."""
        from web_scraper_spark import synth
        from web_scraper_spark.functions import multimodal
        from web_scraper_spark.operators import pairs as pairs_ops

        fps = multimodal.audio_fingerprints(synth.audio_clips_df(spark, 64, seed=42))
        return pairs_ops.audio_keep_ids(fps, max_hamming=3)

    q["audio_keep_set"] = q_audio_keep_set

    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — same names, same aliases
# ---------------------------------------------------------------------------


import functools


@functools.lru_cache(maxsize=4)
def _image_phash_values(n: int, seed: int) -> str:
    """(image_id, phash) VALUES literal for the image_neardup_lsh oracle —
    the same deterministic phashes the Spark query stores, derived without
    Spark (synth.images_pdf is pure pandas/numpy). Memoized: synthesizing
    n image byte payloads costs ~3s and oracle_sql() may be called more
    than once in a session."""
    import pandas as pd

    from web_scraper_spark import synth

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    return ", ".join(
        f"('{i}', {p})" for i, p in zip(pdf["image_id"], pdf["phash"])
    )


_BOILER_CAPTION = "stock photo of a sunset over the ocean"
_GERMAN_CAPTION = "der hund ist nicht gross und die katze ist klein"
_BANNED_CAPTION = "photo of spamterm content right here"

# crawl_dedup_incremental corpus: phase A crawls a 2-host web (links can
# only target hosts 0-1 — _out_links buckets by cfg.n_hosts), phase B
# resumes the SAME catalog against the 4-host web with hosts 2-3 seeded,
# so phase B's pages are guaranteed non-empty and disjoint from phase A's.
_INC_WEB_A = dict(n_hosts=2, pages_per_host=4)
_INC_WEB_B = dict(n_hosts=4, pages_per_host=4)
_INC_SEEDS_A = ["http://h0.example.test/p/0", "http://h1.example.test/p/0"]
_INC_SEEDS_B = ["http://h2.example.test/p/0", "http://h3.example.test/p/0"]


def _crawl_closure(seeds, web, blocked) -> dict[str, str]:
    """Sequential pure-python derivation of a drained crawl's fetched set:
    {url: page text}. BFS over the synthetic web reusing the package's own
    single-process kernels (htmlparse.parse_document, urlops.
    canonicalize_series, robots is_allowed_py) — the same independent-
    sequential-derivation pattern as the image oracles: no Spark, no
    scheduler, no catalog, so it checks the distributed crawl loop (seen
    gating, politeness batching, robots pruning, snapshot commits,
    incremental reads) against a 30-line reference walk. Valid whenever
    depth/page budgets don't bind (the entry query sizes them so): a
    drained crawl's fetched SET is schedule-invariant."""
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import htmlparse
    from web_scraper_spark.functions.urlops import canonicalize_series
    from web_scraper_spark.operators.robots import is_allowed_py, parse_robots_body

    rules: dict[str, tuple[list[str], list[str]]] = {}

    def allowed(url: str) -> bool:
        rest = url.split("://", 1)[1]
        host = rest.split("/", 1)[0]
        if host not in rules:
            body = synth.robots_body(host, web)
            rules[host] = (
                parse_robots_body(body)[:2] if body is not None else ([], [])
            )
        path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
        allow, dis = rules[host]
        return is_allowed_py(path, allow, dis)

    fetched: dict[str, str] = {}
    todo = list(seeds)
    while todo:
        u = todo.pop()
        if u in fetched or u in blocked or not allowed(u):
            continue
        _status, html, _ctype, _ms = synth.page_for_url(u, web)
        fetched[u] = html
        hrefs = [
            h
            for h in htmlparse.parse_document(html)["links"]
            if h and not h.startswith(("javascript:", "mailto:"))
        ]
        if hrefs:
            canon = canonicalize_series(
                pd.Series([u] * len(hrefs)), pd.Series(hrefs)
            )
            todo.extend(str(c) for c in canon.dropna())
    return fetched


@functools.lru_cache(maxsize=1)
def _crawl_extract_oracle_sql() -> str:
    """Expected (url, status, title, sentiment) rows of
    crawl_extract_oracle: the sequential closure walk gives the fetched
    set; status from the synth transport; title/sentiment from ONE
    sequential call of the SAME analyze kernel (textops.analyze_series)
    the crawl's mapInPandas stage wraps — the image-oracle pattern applied
    to the whole extract stage."""
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import textops

    web = synth.SynthWebConfig(**_INC_WEB_A)
    fetched = _crawl_closure(_INC_SEEDS_A, web, frozenset())
    urls = sorted(fetched)
    an = textops.analyze_series(pd.Series([fetched[u] for u in urls]))
    rows = []
    for i, u in enumerate(urls):
        status = synth.page_for_url(u, web)[0]
        title = an["title"].iloc[i]
        t_lit = "NULL" if title is None else "'" + title.replace("'", "''") + "'"
        senti = round(float(an["sentiment"].iloc[i]), 6)
        rows.append(f"('{u}', {status}, {t_lit}, {senti!r})")
    vals = ",\n".join(rows)
    return f"""
SELECT url, CAST(status AS INTEGER) AS status, title,
       CAST(sentiment AS DOUBLE) AS sentiment
FROM (VALUES {vals}) AS t(url, status, title, sentiment)
"""


@functools.lru_cache(maxsize=1)
def _crawl_incremental_oracle_sql() -> str:
    """Expected keep set of crawl_dedup_incremental: the two phase
    closures inlined as (url, text) VALUES, then the incremental keep-set
    rules (old always wins; new-new exact keep-first + simhash hamming<=3
    greedy) replayed in SQL with the same md5-60/simhash builders as the
    documents-table dedup oracles."""
    from web_scraper_spark import synth

    fetched_a = _crawl_closure(
        _INC_SEEDS_A, synth.SynthWebConfig(**_INC_WEB_A), frozenset()
    )
    fetched_b = _crawl_closure(
        _INC_SEEDS_B, synth.SynthWebConfig(**_INC_WEB_B), frozenset(fetched_a)
    )

    def vals(d: dict[str, str]) -> str:
        return ",\n".join(
            "('{}', '{}')".format(u, t.replace("'", "''"))
            for u, t in sorted(d.items())
        )

    fp = dedupops.md5_60_sql("text")
    sh = dedupops.simhash_sql("text")
    return f"""
WITH old_t(url, text) AS (VALUES {vals(fetched_a)}),
new_t(url, text) AS (VALUES {vals(fetched_b)}),
fpo AS (SELECT {fp} AS fp FROM old_t),
fpn AS (SELECT url AS id, {fp} AS fp FROM new_t),
sho AS (SELECT {sh} AS sh FROM old_t),
shn AS (SELECT url AS id, {sh} AS sh FROM new_t),
drops AS (
  SELECT id FROM fpn WHERE fp IN (SELECT fp FROM fpo)
  UNION
  SELECT a.id FROM fpn a JOIN fpn b ON b.id < a.id AND a.fp = b.fp
  UNION
  SELECT n.id FROM shn n JOIN sho o ON bit_count(xor(n.sh, o.sh)) <= 3
  UNION
  SELECT a.id FROM shn a JOIN shn b
    ON b.id < a.id AND bit_count(xor(a.sh, b.sh)) <= 3
)
SELECT url FROM new_t WHERE url NOT IN (SELECT id FROM drops)
"""


@functools.lru_cache(maxsize=4)
def _image_pair_values(n: int, seed: int) -> str:
    """(image_id, phash, caption) VALUES literal for the pair_keep_set
    oracle — same deterministic synth rows as the Spark query, derived
    without Spark (pure pandas/numpy). Captions are SQL-escaped (the
    wordlist includes quotes-free non-ASCII; escaping is still applied
    defensively)."""
    import pandas as pd

    from web_scraper_spark import synth

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    return ", ".join(
        "('{}', {}, '{}')".format(i, p, c.replace("'", "''"))
        for i, p, c in zip(pdf["image_id"], pdf["phash"], pdf["caption"])
    )


@functools.lru_cache(maxsize=4)
def _image_pair_full_values(n: int, seed: int) -> str:
    """(image_id, w, h, fmt, caption, phash) VALUES literal for the
    pair_corpus_clean oracle."""
    import pandas as pd

    from web_scraper_spark import synth

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    return ", ".join(
        "('{}', {}, {}, '{}', '{}', {})".format(
            r.image_id, r.w, r.h, r.fmt, r.caption.replace("'", "''"), r.phash
        )
        for r in pdf.itertuples()
    )


@functools.lru_cache(maxsize=1)
def _pair_incremental_new_rows() -> list:
    """The NEW pair batch for pair_keep_set_incremental, as
    (image_id, caption, phash) tuples — shared verbatim by the Spark
    query and the oracle VALUES literal. Composition against the OLD
    corpus (synth images 0..255, seed 42):

    - fresh synth pairs ids 300..363 (includes the built-in within-new
      image near-dup: 304 is a perturbed copy of 303);
    - three IMAGE RE-POSTS: an old image's exact phash under a new id
      with a brand-new caption (the image stage's old-wins drop);
    - three CAPTION RE-USES: an old caption verbatim on a fresh image
      (synth ids 400..402 — the caption stage's old-wins drop)."""
    import pandas as pd

    from web_scraper_spark import synth

    fresh = synth.images_pdf(pd.Series(range(300, 364)), 42)
    extra = synth.images_pdf(pd.Series(range(400, 403)), 42)
    old = synth.images_pdf(pd.Series([8, 40, 72, 3, 9, 27]), 42)
    by_id = {r.image_id: r for r in old.itertuples(index=False)}
    rows = [
        (r.image_id, r.caption, int(r.phash))
        for r in fresh.itertuples(index=False)
    ]
    for k in (8, 40, 72):
        o = by_id[f"img-{k:010d}"]
        rows.append(
            (
                f"new-imgdup-{k:04d}",
                f"a brand new caption written for replay number {k} today",
                int(o.phash),
            )
        )
    for k, e in zip((3, 9, 27), extra.itertuples(index=False)):
        o = by_id[f"img-{k:010d}"]
        rows.append((f"new-capdup-{k:04d}", o.caption, int(e.phash)))
    return rows


@functools.lru_cache(maxsize=1)
def _pair_incremental_new_values() -> str:
    return ", ".join(
        "('{}', '{}', {})".format(i, c.replace("'", "''"), p)
        for i, c, p in _pair_incremental_new_rows()
    )


@functools.lru_cache(maxsize=4)
def _image_quality_milli_values(n: int, seed: int) -> str:
    """(image_id, sharp_milli, ent_milli) VALUES literal — the quality
    kernel run sequentially over the synthetic corpus (every synth image
    decodes, so no quarantine rows here); feeds the
    pair_corpus_clean_quality oracle's gate stage."""
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        s = imageops.quality_stats(imageops.decode_image(bytes(r.bytes), r.fmt))
        rows.append(f"('{r.image_id}', {s['sharp_milli']}, {s['ent_milli']})")
    return ", ".join(rows)


@functools.lru_cache(maxsize=2)
def _video_frame_values(n: int, seed: int, every_n: int) -> str:
    """(clip_id, frame_idx, frame_phash) VALUES literal for the
    video_frames / frame_neardup oracles — the same deterministic QV01
    containers re-generated and re-decoded SEQUENTIALLY (synth.videos_pdf
    + multimodal.decode_qvid_frames, no Spark)."""
    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import decode_qvid_frames

    rows = []
    for r in synth.videos_pdf(range(n), seed).itertuples(index=False):
        for idx, arr in decode_qvid_frames(bytes(r.bytes), every_n):
            rows.append(f"('{r.clip_id}', {idx}, {imageops.phash64(arr)})")
    return ", ".join(rows)


@functools.lru_cache(maxsize=2)
def _audio_feat_values(n: int, seed: int) -> str:
    """(clip_id, duration_s, rms, sample_rate) VALUES literal for the
    audio_feats oracle — the same deterministic WAV bytes re-generated and
    re-decoded SEQUENTIALLY (synth.audio_pdf + multimodal.decode_wav, no
    Spark), so the distributed mapInPandas contract is checked against an
    independent single-process derivation."""
    from web_scraper_spark import synth
    from web_scraper_spark.functions.multimodal import decode_wav

    pdf = synth.audio_pdf(range(n), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        d = decode_wav(bytes(r.bytes))
        rows.append(
            f"('{r.clip_id}', {d['duration_s']!r}, {d['rms']!r}, {d['sample_rate']})"
        )
    return ", ".join(rows)


@functools.lru_cache(maxsize=2)
def _audio_fp_values(n: int, seed: int) -> str:
    """(clip_id, afp) VALUES literal for the audio_keep_set oracle — the
    same deterministic WAV bytes re-generated and re-fingerprinted
    SEQUENTIALLY (synth.audio_pdf + multimodal.wav_fingerprint, no Spark),
    so the distributed fingerprint + LSH keep-set is checked against an
    independent single-process derivation + an all-pairs SQL join."""
    from web_scraper_spark import synth
    from web_scraper_spark.functions.multimodal import wav_fingerprint

    pdf = synth.audio_pdf(range(n), seed)
    return ", ".join(
        f"('{r.clip_id}', {wav_fingerprint(bytes(r.bytes))})"
        for r in pdf.itertuples(index=False)
    )


@functools.lru_cache(maxsize=4)
def _image_invariant_values(n: int, seed: int) -> str:
    """(image_id, fmt, w_ok, h_ok, phash_ok, decode_ok) VALUES literal for
    the image_invariants oracle. Re-derives the invariants WITHOUT Spark:
    pure-pandas synthesis (synth.images_pdf) + a direct single-process call
    of the same decode/phash kernels the mapInPandas stage wraps — so the
    oracle checks the distributed plumbing (Arrow batching, the persist +
    compare join, schema) against an independent sequential derivation."""
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import SUPPORTED_IMAGE_FMTS

    def lit(x):
        return "NULL" if x is None else ("TRUE" if x else "FALSE")

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        if r.fmt in SUPPORTED_IMAGE_FMTS and r.bytes is not None:
            arr = imageops.decode_image(bytes(r.bytes), r.fmt)
            w_ok = int(arr.shape[1]) == int(r.w)
            h_ok = int(arr.shape[0]) == int(r.h)
            p_ok = imageops.phash64(arr) == int(r.phash)
            ok = True
        else:
            w_ok = h_ok = p_ok = None  # Spark's NULL == col is NULL
            ok = False
        rows.append(
            f"('{r.image_id}', '{r.fmt}', {lit(w_ok)}, {lit(h_ok)}, {lit(p_ok)}, {lit(ok)})"
        )
    return ", ".join(rows)


@functools.lru_cache(maxsize=1)
def _image_quality_edge_rows() -> list:
    """Three handcrafted (image_id, bytes, fmt) rows pinning the quality
    gate's edge branches: a flat gray image (sharpness 0 AND entropy 0 —
    both drop reasons), a checkerboard (extreme sharpness but 1-bit
    entropy — the entropy drop alone), and an undecodable foreign-format
    row (the quarantine path). Shared verbatim by the Spark query and the
    oracle derivation."""
    import numpy as np

    from web_scraper_spark.functions import imageops

    flat = np.full((16, 16, 3), 128, np.uint8)
    cb = np.zeros((16, 16, 3), np.uint8)
    cb[::2, ::2] = 255
    cb[1::2, 1::2] = 255
    return [
        ("img-edge-flat", imageops.encode_ppm(flat), "ppm"),
        ("img-edge-checker", imageops.encode_png(cb), "png"),
        ("img-edge-bad", b"\xff\xd8 not decodable here", "jpeg"),
    ]


@functools.lru_cache(maxsize=4)
def _image_quality_values(
    n: int, seed: int, min_sharp_milli: int, min_ent_milli: int
) -> str:
    """(image_id, sharp_milli, ent_milli, mean_milli, std_milli, decode_ok,
    keep) VALUES literal for the image_quality oracle — the same decode +
    quality_stats kernel run SEQUENTIALLY in pure pandas/numpy over the
    same synthetic corpus + edge rows, keep re-derived with the same
    thresholds, so the distributed Arrow stage is checked integer-for-
    integer against an independent single-process derivation."""
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import SUPPORTED_IMAGE_FMTS

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    triples = [(r.image_id, bytes(r.bytes), r.fmt) for r in pdf.itertuples(index=False)]
    triples += [(i, b, f) for i, b, f in _image_quality_edge_rows()]
    rows = []
    for iid, data, fmt in triples:
        if fmt in SUPPORTED_IMAGE_FMTS and data is not None:
            s = imageops.quality_stats(imageops.decode_image(data, fmt))
            keep = (
                s["sharp_milli"] >= min_sharp_milli
                and s["ent_milli"] >= min_ent_milli
            )
            rows.append(
                f"('{iid}', {s['sharp_milli']}, {s['ent_milli']}, "
                f"{s['mean_milli']}, {s['std_milli']}, TRUE, "
                f"{'TRUE' if keep else 'FALSE'})"
            )
        else:
            rows.append(f"('{iid}', NULL, NULL, NULL, NULL, FALSE, FALSE)")
    return ", ".join(rows)


@functools.lru_cache(maxsize=4)
def _image_resize_values(n: int, seed: int, size: int) -> str:
    """(image_id, w, h, fmt, bytes_md5) VALUES literal for the
    image_resize oracle — the full decode → area-resample → ppm re-encode
    chain re-run sequentially in pure pandas/numpy, every output byte
    pinned via md5."""
    import hashlib

    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import _area_resize

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        arr = _area_resize(imageops.decode_image(bytes(r.bytes), r.fmt), size)
        digest = hashlib.md5(imageops.encode_ppm(arr)).hexdigest()
        rows.append(f"('{r.image_id}', {size}, {size}, 'ppm', '{digest}')")
    return ", ".join(rows)


def _image_bucket_resize_values(n: int, seed: int) -> str:
    """(image_id, w, h, fmt, bytes_md5, batch_key) VALUES literal for the
    image_bucket_resize oracle — per-bucket target dims + the decode →
    rectangular area-resample → ppm re-encode chain re-run sequentially,
    every output byte pinned via md5."""
    import hashlib

    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import _area_resize_wh

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        tw, th = imageops.bucket_target_dims(int(r.w), int(r.h))
        if int(r.w) * 3 > int(r.h) * 4:
            ar = "wide"
        elif int(r.w) * 4 < int(r.h) * 3:
            ar = "tall"
        else:
            ar = "square"
        bk = f"{ar}_{min(tw, th)}"
        arr = _area_resize_wh(
            imageops.decode_image(bytes(r.bytes), r.fmt), tw, th
        )
        digest = hashlib.md5(imageops.encode_ppm(arr)).hexdigest()
        rows.append(f"('{r.image_id}', {tw}, {th}, 'ppm', '{digest}', '{bk}')")
    return ", ".join(rows)


def _image_augment_values(n: int, seed: int, epoch: int, size: int) -> str:
    """(image_id, epoch, flip, crop, w, h, fmt, bytes_md5) VALUES literal
    for the image_augment oracle — the md5-60 flip/crop decisions AND the
    decode → flip → crop → resample → ppm chain re-derived sequentially in
    pure pandas/numpy, every output byte pinned via md5."""
    import hashlib

    import numpy as np
    import pandas as pd

    from web_scraper_spark import synth
    from web_scraper_spark.functions import imageops
    from web_scraper_spark.functions.multimodal import _area_resize

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        hsh = int(hashlib.md5(f"{r.image_id}:{epoch}".encode()).hexdigest()[:15], 16)
        flip, crop = hsh % 2 == 1, (hsh >> 1) % 2 == 1
        arr = imageops.decode_image(bytes(r.bytes), r.fmt)
        if flip:
            arr = arr[:, ::-1, :]
        if crop:
            hh, ww, _ = arr.shape
            mh, mw = hh // 8, ww // 8
            arr = arr[mh:hh - mh, mw:ww - mw]
        digest = hashlib.md5(
            imageops.encode_ppm(_area_resize(np.ascontiguousarray(arr), size))
        ).hexdigest()
        rows.append(
            f"('{r.image_id}', {epoch}, {str(flip).upper()}, {str(crop).upper()}, "
            f"{size}, {size}, 'ppm', '{digest}')"
        )
    return ", ".join(rows)


def _pair_bytes_len_values(n: int, seed: int) -> str:
    """(image_id, caption, n_bytes) VALUES literal — encoded payload
    lengths re-derived sequentially for the pair_shard_manifest oracle
    (caption quoting matches the synth wordlist: no quotes inside)."""
    import pandas as pd

    from web_scraper_spark import synth

    pdf = synth.images_pdf(pd.Series(range(n)), seed)
    rows = []
    for r in pdf.itertuples(index=False):
        cap = str(r.caption).replace("'", "''")
        rows.append(f"('{r.image_id}', '{cap}', {len(bytes(r.bytes))})")
    return ", ".join(rows)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["pricing_summary"] = """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    """

    o["trend_topk"] = """
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS frequency
        FROM events GROUP BY 1, 2
      ), g AS (
        SELECT event_type, day, frequency,
               lag(frequency) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM daily
      )
      SELECT event_type, day, frequency,
             CASE WHEN prev IS NOT NULL THEN round((frequency - prev) / CAST(prev AS DOUBLE), 6) END AS growth_rate,
             row_number() OVER (ORDER BY frequency DESC, event_type, day) AS rk
      FROM g QUALIFY rk <= 20
    """

    o["top_hosts"] = """
      SELECT host_id, n_urls, rk FROM (
        SELECT user_id AS host_id, count(*) AS n_urls,
               row_number() OVER (ORDER BY count(*) DESC, user_id) AS rk
        FROM events GROUP BY user_id
      ) WHERE rk <= 10
    """

    o["fk_lookup"] = """
      SELECT o_orderkey, o_totalprice, count(*) AS n_items, round(sum(l_quantity), 2) AS qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey = 7
      GROUP BY o_orderkey, o_totalprice
    """

    o["link_2hop"] = """
      SELECT c_custkey, n_2hop, rk FROM (
        SELECT c_custkey, count(*) AS n_2hop,
               row_number() OVER (ORDER BY count(*) DESC, c_custkey) AS rk
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY c_custkey
      ) WHERE rk <= 25
    """

    o["crawl_report_grouping_sets"] = """
      SELECT event_type, CAST(user_id % 10 AS BIGINT) AS host_bucket,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10))
    """

    o["frontier_next_batch"] = f"""
      WITH fr AS ({_EVENTS_FRONTIER_SQL})
      SELECT host_id, event_id, priority, host_rank FROM (
        SELECT host_id, event_id, priority,
               row_number() OVER (PARTITION BY host_id ORDER BY priority ASC, url_canon ASC) AS host_rank
        FROM fr
      ) WHERE host_rank <= 3
    """

    o["frontier_admission"] = f"""
      WITH fr AS ({_EVENTS_FRONTIER_SQL}),
      ranked AS (
        SELECT host_id, event_id,
               row_number() OVER (PARTITION BY host_id ORDER BY priority ASC, url_canon ASC) AS host_rank,
               1.0 + (host_id % 3) AS delay
        FROM fr
      )
      SELECT host_id, event_id, CAST(host_rank AS INTEGER) AS host_rank,
             round(host_rank * delay, 6) AS fetch_time
      FROM ranked WHERE host_rank * delay < 5.0
    """

    o["priority_reorder"] = """
      SELECT pop_rank, o_orderkey, o_orderpriority FROM (
        SELECT row_number() OVER (ORDER BY o_orderpriority ASC, o_orderkey ASC) AS pop_rank,
               o_orderkey, o_orderpriority
        FROM orders
      ) WHERE pop_rank <= 100
    """

    from web_scraper_spark.functions.urlops import url_features_sql

    _uf = url_features_sql("url")
    o["url_quality"] = f"""
      WITH u AS (
        SELECT o_orderkey,
               'https://h' || CAST(o_orderkey % 50 AS VARCHAR)
               || '.example.test/cat/' || CAST(o_orderkey % 9 AS VARCHAR)
               || '/item' || CAST(o_orderkey AS VARCHAR)
               || CASE WHEN o_orderkey % 11 = 0 THEN '/p/q/r/s/t' ELSE '' END
               || CASE WHEN o_orderkey % 7 = 0
                       THEN '?session=' || CAST(o_orderkey * 13 AS VARCHAR)
                            || '&ref=track&sort=price'
                       ELSE '' END AS url
        FROM orders
      )
      SELECT o_orderkey, url,
             {_uf['url_len']} AS url_len,
             {_uf['digit_ratio']} AS digit_ratio,
             {_uf['depth']} AS depth,
             {_uf['n_params']} AS n_params,
             {_uf['url_quality']} AS url_quality
      FROM u
    """

    o["zadd_min_upsert"] = """
      SELECT user_id AS member, round(min(value), 6) AS score, count(*) AS n_pushes
      FROM events GROUP BY user_id
    """

    o["seen_membership"] = """
      SELECT gs.key FROM (SELECT unnest(generate_series(1, 20000)) AS key) gs
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = gs.key)
    """
    o["seen_membership_sketch"] = o["seen_membership"]
    o["seen_membership_bucketed"] = o["seen_membership"]

    o["sentiment"] = _sentiment_oracle_sql()
    o["lang_id"] = f"SELECT doc_id, {ta.lang_id_sql('text')} AS lang_pred FROM documents"
    o["token_count"] = f"SELECT doc_id, {ta.token_count_sql('text')} AS n_tokens FROM documents"
    o["quality_score"] = f"SELECT doc_id, {ta.quality_score_sql('text')} AS quality FROM documents"
    o["fingerprint"] = f"SELECT doc_id, {ta.fingerprint_sql('text')} AS fp FROM documents"

    o["robots_decisions"] = _robots_oracle_sql()

    o["meta_pairs"] = """
      WITH c AS (
        SELECT doc_id,
               regexp_replace(substr(text, 1, 80), '[<>"''&]', '', 'g') AS clean
        FROM documents
      )
      SELECT doc_id, 'description' AS meta_key, 'C_' || clean AS meta_value FROM c
      UNION ALL
      SELECT doc_id, 'og:id', CAST(doc_id AS VARCHAR) FROM c
      UNION ALL
      SELECT doc_id, 'keywords', CAST(doc_id % 7 AS VARCHAR) FROM c
    """

    fp = ta.fingerprint_sql("text")  # exact_dup_groups uses md5-60 of raw text
    from web_scraper_spark.functions.textanalysis import md5_60_sql

    raw_fp = md5_60_sql("text")
    o["exact_dup_groups"] = f"""
      WITH unioned AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10)
      )
      SELECT {raw_fp} AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
      FROM unioned GROUP BY 1 HAVING count(*) > 1
    """

    # same +100000 duplicate injection as exact_dup_groups, run through the
    # composite keep-set SQL (dedupops.dedup_keep_ids_sql with the unioned
    # corpus substituted for the table)
    _unioned = """(
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10)
      )"""
    o["dedup_keep_set"] = dedupops.dedup_keep_ids_sql(max_hamming=3, table=_unioned)

    _inc_fp = dedupops.md5_60_sql("text")
    _inc_sh = dedupops.simhash_sql("text")
    _old_keep = dedupops.dedup_keep_ids_sql(
        max_hamming=3,
        table="(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
    )
    o["dedup_keep_set_incremental"] = f"""
      WITH old_t AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 2 = 0 AND doc_id IN ({_old_keep})
      ),
      new_t AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 500000, text FROM (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
          ORDER BY doc_id LIMIT 5)
        UNION ALL
        SELECT doc_id + 600000, text FROM (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
          ORDER BY doc_id LIMIT 5)
      ),
      fpo AS (SELECT {_inc_fp} AS fp FROM old_t),
      fpn AS (SELECT doc_id AS id, {_inc_fp} AS fp FROM new_t),
      sho AS (SELECT {_inc_sh} AS sh FROM old_t),
      shn AS (SELECT doc_id AS id, {_inc_sh} AS sh FROM new_t),
      drops AS (
        SELECT id FROM fpn WHERE fp IN (SELECT fp FROM fpo)
        UNION
        SELECT a.id FROM fpn a JOIN fpn b ON b.id < a.id AND a.fp = b.fp
        UNION
        SELECT n.id FROM shn n JOIN sho o ON bit_count(xor(n.sh, o.sh)) <= 3
        UNION
        SELECT a.id FROM shn a JOIN shn b
          ON b.id < a.id AND bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT doc_id FROM new_t WHERE doc_id NOT IN (SELECT id FROM drops)
    """

    from web_scraper_spark.operators.authority import host_authority_sql

    o["host_authority"] = host_authority_sql(
        "SELECT doc_id % 50 AS src, doc_id // 50 AS dst FROM documents",
        k=5,
    )

    from web_scraper_spark.operators.sharding import (
        shard_manifest_sql,
        shard_positions_sql,
        split_assign_sql,
    )

    o["shard_positions"] = shard_positions_sql(
        8, id_col="doc_id", salt=7, table="documents"
    )
    o["shard_manifest"] = shard_manifest_sql(
        8, id_col="doc_id", text_col="text", salt=7, table="documents"
    )
    _split_inner = split_assign_sql(
        {"train": 0.9, "val": 0.05, "test": 0.05},
        id_col="doc_id",
        salt=11,
        table="documents",
    )
    o["corpus_split"] = (
        f"SELECT doc_id, split, split_u FROM ({_split_inner})"
    )
    from web_scraper_spark.operators.sampling import chunk_documents_sql

    o["chunk_docs"] = (
        "SELECT doc_id, chunk_id, chunk_n, "
        f"{ta.md5_60_sql('chunk_text')} AS chunk_fp "
        f"FROM ({chunk_documents_sql(64, 16)})"
    )

    o["dup_clusters"] = dedupops.dup_clusters_sql(max_hamming=3)
    o["cluster_reps"] = dedupops.cluster_representatives_sql(
        f"SELECT * FROM ({dedupops.dup_clusters_sql(max_hamming=3)})",
        f"SELECT doc_id, {ta.quality_score_sql('text')} AS quality FROM documents",
    )

    o["stratified_sample"] = f"""
      WITH s AS (
        SELECT doc_id,
               {ta.lang_id_sql('text')} AS lang_pred,
               ({ta.md5_60_sql('text')}) % 1000 AS bucket
        FROM documents
      )
      SELECT doc_id, lang_pred, bucket FROM s
      WHERE bucket < CASE WHEN lang_pred = 'en' THEN 500 ELSE 100 END
    """

    o["corpus_report"] = f"""
      WITH d AS (
        SELECT doc_id, lang,
               {ta.quality_score_sql('text')} AS quality,
               CAST({ta.token_count_sql('text')} AS BIGINT) AS tokens,
               {ta.fingerprint_sql('text')} AS fp
        FROM documents
      ),
      dupd AS (
        SELECT lang, sum(n) AS n_dup_docs FROM (
          SELECT lang, fp, count(*) AS n FROM d GROUP BY 1, 2
        ) WHERE n > 1 GROUP BY 1
      )
      SELECT d.lang,
             count(*) AS n_docs,
             sum(tokens) AS total_tokens,
             round(sum(CAST(round(quality * 1000000) AS BIGINT))
                   / count(*) / 1e6, 6) AS mean_quality,
             CAST(coalesce(any_value(dupd.n_dup_docs), 0) AS BIGINT) AS n_dup_docs
      FROM d LEFT JOIN dupd ON d.lang = dupd.lang
      GROUP BY d.lang
    """

    _rep = ta.top_bigram_stats_sql("documents")
    o["doc_repetition"] = f"""
      WITH rep AS ({_rep})
      SELECT d.doc_id,
             {ta.dup_token_fraction_sql('d.text')} AS dup_token_frac,
             rep.top_bigram_frac, rep.n_bigrams
      FROM documents d JOIN rep ON d.doc_id = rep.doc_id
    """

    from web_scraper_spark.functions.curation import lm_bigram_score_sql

    o["lm_score"] = lm_bigram_score_sql(
        "SELECT doc_id, text FROM documents",
        f"SELECT doc_id, text FROM documents"
        f" WHERE ({ta.md5_60_sql('CAST(doc_id AS VARCHAR)')}) % 10 < 3",
    )

    o["tfidf_topk"] = ta.tfidf_topk_sql("documents", k=3)

    o["corpus_drift"] = """
      WITH oldd AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
      newd AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
      oc AS (SELECT lang, count(*) AS n_old FROM oldd GROUP BY 1),
      nc AS (SELECT lang, count(*) AS n_new FROM newd GROUP BY 1),
      j AS (
        SELECT coalesce(oc.lang, nc.lang) AS lang,
               coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
        FROM oc FULL OUTER JOIN nc ON oc.lang = nc.lang
      )
      SELECT lang, CAST(n_old AS BIGINT) AS n_old,
             CAST(n_new AS BIGINT) AS n_new,
             CAST(n_old * 1000000 //
                  greatest((SELECT count(*) FROM oldd), 1) AS BIGINT)
               AS share_old_ppm,
             CAST(n_new * 1000000 //
                  greatest((SELECT count(*) FROM newd), 1) AS BIGINT)
               AS share_new_ppm,
             CAST(n_new * 1000000 //
                  greatest((SELECT count(*) FROM newd), 1)
                  - n_old * 1000000 //
                  greatest((SELECT count(*) FROM oldd), 1) AS BIGINT)
               AS delta_ppm
      FROM j
    """

    _vo_sql = ta.vocab_topk_sql(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)", k=500
    )
    _vn_sql = ta.vocab_topk_sql(
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)", k=500
    )
    o["vocab_drift"] = f"""
      WITH vo AS (SELECT word, 1 AS in_o FROM ({_vo_sql})),
      vn AS (SELECT word, 1 AS in_n FROM ({_vn_sql})),
      u AS (
        SELECT coalesce(in_o, 0) AS in_o, coalesce(in_n, 0) AS in_n
        FROM vo FULL OUTER JOIN vn ON vo.word = vn.word
      )
      SELECT CAST(sum(in_o) AS BIGINT) AS n_old_vocab,
             CAST(sum(in_n) AS BIGINT) AS n_new_vocab,
             CAST(sum(in_o * in_n) AS BIGINT) AS n_common,
             CAST(sum(in_o * in_n) * 1000000 //
                  greatest(count(*), 1) AS BIGINT) AS jaccard_ppm
      FROM u
    """

    from web_scraper_spark.functions.curation import blocklist_stats_sql

    _bl = blocklist_stats_sql("text")
    o["blocklist_filter"] = f"""
      WITH inj AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN
                 (CASE WHEN doc_id % 13 = 0 THEN text || ' spamterm' ELSE text END)
                 || ' badword1 badword2 badword3 nsfwterm spamterm'
               WHEN doc_id % 13 = 0 THEN text || ' spamterm'
               ELSE text END AS text
        FROM documents
      ),
      scored AS (
        SELECT doc_id,
               {_bl['n_banned']} AS n_banned,
               {_bl['banned_frac']} AS banned_frac
        FROM inj
      )
      SELECT doc_id, n_banned, banned_frac
      FROM scored WHERE banned_frac <= 0.03
    """

    o["vocab_topk"] = ta.vocab_topk_sql("documents", k=800)
    o["oov_rate"] = ta.oov_stats_sql(
        "documents", ta.vocab_topk_sql("documents", k=500)
    )

    from web_scraper_spark.operators.sampling import token_budget_sample_sql

    o["token_budget_sample"] = token_budget_sample_sql(
        f"""(
          SELECT doc_id, lang,
                 {ta.quality_score_sql('text')} AS priority,
                 CAST({ta.token_count_sql('text')} AS BIGINT) AS tokens
          FROM documents
        )""",
        20_000,
    )

    from web_scraper_spark.operators.sampling import (
        temperature_budget_sample_sql,
    )

    o["temperature_mixture"] = temperature_budget_sample_sql(
        f"""(
          SELECT doc_id, lang,
                 {ta.quality_score_sql('text')} AS priority,
                 CAST({ta.token_count_sql('text')} AS BIGINT) AS tokens
          FROM documents
        )""",
        60_000,
    )

    o["mixture_sample"] = token_budget_sample_sql(
        f"""(
          SELECT doc_id, lang,
                 {ta.quality_score_sql('text')} AS priority,
                 CAST({ta.token_count_sql('text')} AS BIGINT) AS tokens
          FROM documents
        )""",
        _MIXTURE_BUDGETS,
    )

    from web_scraper_spark.operators.sampling import pack_sequences_sql

    o["pack_sequences"] = pack_sequences_sql(
        f"""(
          SELECT doc_id,
                 CAST({ta.token_count_sql('text')} AS BIGINT) AS tokens
          FROM documents
        )""",
        capacity=512,
        num_shards=8,
    )

    from web_scraper_spark.functions import curation as _cu

    _ws0 = (
        "regexp_split_to_array(trim((SELECT text FROM documents "
        "WHERE doc_id = 0)), '\\s+')"
    )
    _train_text = (
        "CASE WHEN doc_id % 50 = 13 THEN text || ' ' || "
        f"array_to_string({_ws0}[1:8], ' ') ELSE text END"
    )
    o["decontaminate"] = _cu.contamination_sql(
        "documents", "doc_id % 97 = 0", n=8, train_text=_train_text
    )

    _pii_t = (
        "CASE WHEN doc_id % 7 = 0 THEN text || "
        "' contact alice.bob@example.org today' ELSE text END"
    )
    _pii_t = (
        f"CASE WHEN doc_id % 11 = 0 THEN ({_pii_t}) || "
        f"' from 10.0.3.77 and 192.168.1.5' ELSE ({_pii_t}) END"
    )
    o["pii_scrub"] = f"""
      SELECT doc_id,
             {_cu.pii_email_count_sql(f'({_pii_t})')} AS n_emails,
             {_cu.pii_ipv4_count_sql(f'({_pii_t})')} AS n_ipv4,
             {ta.md5_60_sql(_cu.pii_mask_sql(f'({_pii_t})'))} AS masked_fp
      FROM documents
    """

    _boiler_wrap = """
      SELECT doc_id, concat_ws(chr(10),
        CASE WHEN doc_id % 4 <= 1 THEN 'HOME | ABOUT | CONTACT' END,
        CASE WHEN doc_id % 4 = 1 THEN 'Accept all cookies to continue' END,
        text,
        'section ' || CAST(doc_id % 150 AS VARCHAR),
        CASE WHEN doc_id % 3 = 0 THEN '' END,
        CASE WHEN doc_id % 2 = 0 THEN '(c) 2026 Example Corp - all rights reserved' END
      ) AS text FROM documents
    """
    o["boilerplate_scrub"] = f"""
      WITH scrubbed AS ({_cu.boilerplate_scrub_sql(_boiler_wrap, min_docs=25)})
      SELECT doc_id, {ta.md5_60_sql('clean_text')} AS clean_fp,
             n_lines, n_dropped
      FROM scrubbed
    """

    o["semdedup"] = simsearch.semdedup_sql(threshold=0.35, n_clusters=16)

    # curation_pipeline: the same injections as pii_scrub + decontaminate
    # (emails on % 7, IPv4 on % 11, the eval 8-gram on % 50 == 13), ten
    # byte-identical +100000 duplicates, eval split held out AFTER the
    # union (dup ids are checked too, exactly as the Spark side filters
    # the unioned frame) — then the one-statement ground truth of the
    # five-stage pipeline (curation.curate_corpus_sql).
    _cur_t3 = (
        f"CASE WHEN doc_id % 50 = 13 THEN ({_pii_t}) || ' ' || "
        f"array_to_string({_ws0}[1:8], ' ') ELSE ({_pii_t}) END"
    )
    _cur_train = f"""(
      SELECT * FROM (
        WITH _cinj AS (SELECT doc_id, lang, {_cur_t3} AS text FROM documents)
        SELECT doc_id, lang, text FROM _cinj
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, lang, text
        FROM (SELECT * FROM _cinj ORDER BY doc_id LIMIT 10)
      ) WHERE doc_id % 97 <> 0
    )"""
    o["curation_pipeline"] = _cu.curate_corpus_sql(
        _cur_train,
        "(SELECT text FROM documents WHERE doc_id % 97 = 0)",
        quality_min=0.9,
        dup_frac_max=0.55,
        max_hamming=3,
        budget_tokens=600,
    )
    o["curation_pipeline_lm"] = _cu.curate_corpus_sql(
        _cur_train,
        "(SELECT text FROM documents WHERE doc_id % 97 = 0)",
        quality_min=0.9,
        dup_frac_max=0.55,
        max_hamming=3,
        budget_tokens=600,
        lm_ref=f"SELECT doc_id, text FROM documents"
        f" WHERE ({ta.md5_60_sql('CAST(doc_id AS VARCHAR)')}) % 10 < 3",
        lm_score_max=3.55,
    )
    from web_scraper_spark.operators.sharding import pair_shard_manifest_sql

    o["pair_shard_manifest"] = pair_shard_manifest_sql(
        8,
        salt=5,
        bytes_len_sql="n_bytes",
        table=(
            f"(SELECT * FROM (VALUES {_pair_bytes_len_values(256, 42)})"
            f" AS t(image_id, caption, n_bytes))"
        ),
    )

    o["curated_shard_manifest"] = shard_manifest_sql(
        8,
        id_col="doc_id",
        text_col="ckt",
        tokens_sql="n_tokens",
        salt=7,
        table=(
            "(SELECT doc_id, n_tokens, CAST(masked_fp AS VARCHAR) AS ckt "
            f"FROM ({o['curation_pipeline']}))"
        ),
    )

    # the composite pipeline: score + filter the unioned corpus, run the
    # keep-set SQL over the filtered subquery, re-attach the scores
    _filt = f"""(
        SELECT doc_id, text,
               {ta.lang_id_sql('text')} AS lang_pred,
               {ta.quality_score_sql('text')} AS quality,
               {ta.token_count_sql('text')} AS n_tokens
        FROM {_unioned} u
        WHERE {ta.lang_id_sql('text')} = 'en'
          AND {ta.quality_score_sql('text')} >= 0.9
      )"""
    o["corpus_clean"] = f"""
      SELECT f.doc_id, f.lang_pred, f.quality, f.n_tokens
      FROM {_filt} f
      JOIN ({dedupops.dedup_keep_ids_sql(max_hamming=3, table=_filt)}) k
        USING (doc_id)
    """

    o["simhash"] = f"SELECT doc_id, {dedupops.simhash_sql('text')} AS sh FROM documents"
    o["simhash_pairs"] = dedupops.simhash_pairs_sql(max_hamming=3)
    _mh = dedupops.minhash_term_sql("p.perm", "s.g")
    o["minhash_sig"] = f"""
WITH sh AS (
  SELECT doc_id, unnest({dedupops.shingles_sql('text', 8)}) AS g FROM documents
)
SELECT s.doc_id, p.perm AS perm, min({_mh}) AS minhash
FROM sh s, (SELECT unnest(generate_series(0, {dedupops.MINHASH_PERMS - 1})) AS perm) p
GROUP BY 1, 2
"""
    o["ngram_jaccard_pairs"] = dedupops.ngram_jaccard_pairs_sql(threshold=0.12, n=8)
    o["minhash_lsh_pairs"] = dedupops.minhash_lsh_pairs_sql(threshold=0.12, n=8)

    sig_sql = (
        "("
        + " + ".join(
            f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
        )
        + ")"
    )
    o["embedding_sig_neardup"] = f"""
      WITH s AS (SELECT vec_id, CAST({sig_sql} AS BIGINT) AS sig FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, bit_count(xor(a.sig, b.sig)) AS hamming
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 2
    """

    # phash near-dup (J6): the Spark side carries phash through the real
    # image-synthesis pipeline (bytes → stored phash) and an LSH band
    # self-join; the oracle re-derives the SAME deterministic phashes in
    # pure pandas (synth.images_pdf — no Spark) as a VALUES literal and
    # checks the exact all-pairs hamming join. Pigeonhole (hamming <= 3 <
    # 4 bands) makes the band join's output identical to all-pairs, so
    # this is a full value oracle, not a recall check.
    # image invariants (input_hint per-row contract): full value oracle —
    # the expected boolean row set is re-derived sequentially in pure
    # pandas/numpy (no Spark) and inlined as a VALUES literal.
    o["image_invariants"] = f"""
      SELECT * FROM (VALUES {_image_invariant_values(256, 42)})
        AS t(image_id, fmt, w_ok, h_ok, phash_ok, decode_ok)
    """

    # image quality gate: full value oracle — every scaled-integer stat and
    # the keep verdict re-derived sequentially via the same kernel (the
    # BIGINT casts keep DuckDB's VALUES inference aligned with LongType).
    o["image_quality"] = f"""
      SELECT image_id,
             CAST(sharp_milli AS BIGINT) AS sharp_milli,
             CAST(ent_milli AS BIGINT) AS ent_milli,
             CAST(mean_milli AS BIGINT) AS mean_milli,
             CAST(std_milli AS BIGINT) AS std_milli,
             decode_ok, keep
      FROM (VALUES {_image_quality_values(256, 42, 2_000_000, 4_000)})
        AS t(image_id, sharp_milli, ent_milli, mean_milli, std_milli,
             decode_ok, keep)
    """

    from web_scraper_spark.functions.imageops import (
        aspect_bucket_sql,
        area_bucket_sql,
    )

    o["image_batch_buckets"] = f"""
      WITH p(image_id, w, h, fmt, caption, phash) AS
        (VALUES {_image_pair_full_values(256, 42)})
      SELECT image_id,
             {aspect_bucket_sql('w', 'h')} AS ar_bucket,
             {area_bucket_sql('w', 'h')} AS res_bucket,
             concat({aspect_bucket_sql('w', 'h')}, '_',
                    CAST({area_bucket_sql('w', 'h')} AS VARCHAR)) AS batch_key
      FROM p
    """

    o["image_resize"] = f"""
      SELECT * FROM (VALUES {_image_resize_values(128, 42, 16)})
        AS t(image_id, w, h, fmt, bytes_md5)
    """

    o["image_bucket_resize"] = f"""
      SELECT * FROM (VALUES {_image_bucket_resize_values(128, 42)})
        AS t(image_id, w, h, fmt, bytes_md5, batch_key)
    """

    o["image_augment"] = f"""
      SELECT image_id, CAST(epoch AS INTEGER) AS epoch, flip, crop,
             CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, fmt, bytes_md5
      FROM (VALUES {_image_augment_values(128, 42, 1, 16)})
        AS t(image_id, epoch, flip, crop, w, h, fmt, bytes_md5)
    """

    # incremental pair keep-set: old corpus as VALUES → its (phash, fp, sh)
    # index derived in SQL; new batch from the shared literal; drops
    # replay the operator's old-wins precedence exactly.
    from web_scraper_spark.functions.textanalysis import (
        md5_60_sql as _inc_md5_sql,
    )

    _inc_cap_fp = _inc_md5_sql("caption")
    _inc_cap_sh = dedupops.simhash_sql("caption")
    o["pair_keep_set_incremental"] = f"""
      WITH old_p(image_id, w, h, fmt, caption, phash) AS
        (VALUES {_image_pair_full_values(256, 42)}),
      old_i AS (
        SELECT image_id AS id, phash, {_inc_cap_fp} AS fp,
               {_inc_cap_sh} AS sh
        FROM old_p
      ),
      new_p(image_id, caption, phash) AS
        (VALUES {_pair_incremental_new_values()}),
      new_i AS (
        SELECT image_id AS id, phash, {_inc_cap_fp} AS fp,
               {_inc_cap_sh} AS sh
        FROM new_p
      ),
      drops AS (
        SELECT n.id FROM new_i n JOIN old_i o
          ON bit_count(xor(n.phash, o.phash)) <= 3
        UNION
        SELECT a.id FROM new_i a JOIN new_i b
          ON b.id < a.id AND bit_count(xor(a.phash, b.phash)) <= 3
        UNION
        SELECT n.id FROM new_i n WHERE n.fp IN (SELECT fp FROM old_i)
        UNION
        SELECT a.id FROM new_i a JOIN new_i b ON b.id < a.id AND a.fp = b.fp
        UNION
        SELECT n.id FROM new_i n JOIN old_i o
          ON bit_count(xor(n.sh, o.sh)) <= 3
        UNION
        SELECT a.id FROM new_i a JOIN new_i b
          ON b.id < a.id AND bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id FROM new_p
      WHERE image_id NOT IN (SELECT id FROM drops)
    """

    # pair batch sample: the same one-window oracle statement as the text
    # mixture, over pair metadata ⋈ sequentially re-derived quality.
    from web_scraper_spark.functions.textanalysis import (
        token_count_sql as _tok_sql_pairs,
    )
    from web_scraper_spark.operators.sampling import (
        token_budget_sample_sql as _tbs_sql,
    )

    o["pair_batch_sample"] = _tbs_sql(
        f"""(
          SELECT p.image_id,
                 concat({aspect_bucket_sql('w', 'h')}, '_',
                        CAST({area_bucket_sql('w', 'h')} AS VARCHAR))
                   AS batch_key,
                 CAST(qv.sharp0 AS BIGINT) AS priority,
                 CAST({_tok_sql_pairs('caption')} AS BIGINT) AS tokens
          FROM (VALUES {_image_pair_full_values(256, 42)})
            p(image_id, w, h, fmt, caption, phash)
          JOIN (VALUES {_image_quality_milli_values(256, 42)})
            qv(image_id, sharp0, ent0)
            ON p.image_id = qv.image_id
        )""",
        600,
        stratum_col="batch_key",
        id_col="image_id",
        priority_col="priority",
        tokens_col="tokens",
    )

    # pair corpus report: metadata from the pair VALUES, quality integers
    # from the sequentially re-derived kernel VALUES; integer sums combine
    # order-free, so the whole report value-checks exactly.
    from web_scraper_spark.functions.textanalysis import (
        token_count_sql as _tok_sql_pairs,
    )

    o["pair_corpus_report"] = f"""
      WITH p(image_id, w, h, fmt, caption, phash) AS
        (VALUES {_image_pair_full_values(256, 42)}),
      qv(image_id, sharp0, ent0) AS
        (VALUES {_image_quality_milli_values(256, 42)})
      SELECT fmt,
             {aspect_bucket_sql('w', 'h')} AS ar_bucket,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS total_pixels,
             CAST(sum(sharp0) AS BIGINT) AS sum_sharp_milli,
             CAST(sum(ent0) AS BIGINT) AS sum_ent_milli,
             CAST(sum(CASE WHEN sharp0 < 2000000 OR ent0 < 4000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
             round(sum({_tok_sql_pairs('caption')}) / count(*), 6)
               AS mean_caption_tokens
      FROM p JOIN qv USING (image_id)
      GROUP BY 1, 2
    """

    o["image_neardup_lsh"] = f"""
      WITH p(image_id, phash) AS (VALUES {_image_phash_values(512, 42)})
      SELECT a.image_id AS img_a, b.image_id AS img_b,
             bit_count(xor(a.phash, b.phash)) AS hamming
      FROM p a JOIN p b ON a.image_id < b.image_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """

    o["image_keep_set"] = f"""
      WITH p(image_id, phash) AS (VALUES {_image_phash_values(512, 42)}),
      drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      )
      SELECT image_id, phash FROM p
      WHERE image_id NOT IN (SELECT image_id FROM drops)
    """

    _pair_vals = _image_pair_values(512, 42)
    _cap_sh = dedupops.simhash_sql("caption")
    from web_scraper_spark.functions.textanalysis import md5_60_sql as _md5_60_sql

    _cap_fp = _md5_60_sql("caption")
    o["pair_keep_set"] = f"""
      WITH p0(image_id, phash, caption0) AS (VALUES {_pair_vals}),
      p AS (
        SELECT image_id, phash,
               CASE WHEN substr(image_id, 14, 1) = '7'
                    THEN '{_BOILER_CAPTION}' ELSE caption0 END AS caption
        FROM p0
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, phash, caption FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    _pair_full = _image_pair_full_values(512, 42)
    from web_scraper_spark.functions.textanalysis import token_count_sql as _tok_sql

    _cap_tok = _tok_sql("caption")
    o["pair_corpus_clean"] = f"""
      WITH p0(image_id, w, h, fmt, caption0, phash) AS (VALUES {_pair_full}),
      p1 AS (
        SELECT image_id, w, h, fmt, phash,
               CASE WHEN substr(image_id, 14, 1) = '3'
                    THEN '{_BOILER_CAPTION}' ELSE caption0 END AS caption
        FROM p0
      ),
      p AS (
        SELECT image_id, w, h, fmt, caption, phash,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(greatest(w, h) / least(w, h), 6) AS aspect,
               CAST({_cap_tok} AS INTEGER) AS caption_tokens
        FROM p1
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {_cap_tok} >= 4
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, w, h, fmt, caption, phash,
             n_pixels, aspect, caption_tokens
      FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    # pair_corpus_clean_lang: the same closure with the caption-language
    # gate between the token filter and the dedup stages — lang_id_sql
    # replays the marker-argmax rule identically.
    _cap_lang = ta.lang_id_sql("caption")
    o["pair_corpus_clean_lang"] = f"""
      WITH p0(image_id, w, h, fmt, caption0, phash) AS (VALUES {_pair_full}),
      p1 AS (
        SELECT image_id, w, h, fmt, phash,
               CASE WHEN substr(image_id, 14, 1) = '7'
                    THEN '{_GERMAN_CAPTION}' ELSE caption0 END AS caption
        FROM p0
      ),
      p AS (
        SELECT image_id, w, h, fmt, caption, phash,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(greatest(w, h) / least(w, h), 6) AS aspect,
               CAST({_cap_tok} AS INTEGER) AS caption_tokens,
               {_cap_lang} AS caption_lang
        FROM p1
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {_cap_tok} >= 4
          AND ({_cap_lang}) IN ('en', 'und')
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, w, h, fmt, caption, phash,
             n_pixels, aspect, caption_tokens, caption_lang
      FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    # pair_corpus_clean_safe: the same closure with the zero-tolerance
    # caption blocklist gate between the token filter and the dedup
    # stages — blocklist_stats_sql replays the whole-token rule.
    _cap_bl = blocklist_stats_sql("caption")
    o["pair_corpus_clean_safe"] = f"""
      WITH p0(image_id, w, h, fmt, caption0, phash) AS (VALUES {_pair_full}),
      p1 AS (
        SELECT image_id, w, h, fmt, phash,
               CASE WHEN substr(image_id, 14, 1) = '9'
                    THEN '{_BANNED_CAPTION}' ELSE caption0 END AS caption
        FROM p0
      ),
      p AS (
        SELECT image_id, w, h, fmt, caption, phash,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(greatest(w, h) / least(w, h), 6) AS aspect,
               CAST({_cap_tok} AS INTEGER) AS caption_tokens,
               {_cap_bl['banned_frac']} AS banned_frac
        FROM p1
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {_cap_tok} >= 4
          AND ({_cap_bl['banned_frac']}) <= 0.0
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, w, h, fmt, caption, phash,
             n_pixels, aspect, caption_tokens, banned_frac
      FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    # pair_corpus_clean_quality: the same closure with the decode-side
    # quality gate between the metadata filters and the dedup stages —
    # the gate's integers come from the sequentially re-derived kernel
    # values (every drop and every carried stat is value-checked).
    o["pair_corpus_clean_quality"] = f"""
      WITH p0(image_id, w, h, fmt, caption0, phash) AS (VALUES {_pair_full}),
      qv(image_id, sharp0, ent0) AS
        (VALUES {_image_quality_milli_values(512, 42)}),
      p1 AS (
        SELECT image_id, w, h, fmt, phash,
               CASE WHEN substr(image_id, 14, 1) = '3'
                    THEN '{_BOILER_CAPTION}' ELSE caption0 END AS caption
        FROM p0
      ),
      p AS (
        SELECT p1.image_id, w, h, fmt, caption, phash,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(greatest(w, h) / least(w, h), 6) AS aspect,
               CAST({_cap_tok} AS INTEGER) AS caption_tokens,
               CAST(qv.sharp0 AS BIGINT) AS sharp_milli,
               CAST(qv.ent0 AS BIGINT) AS ent_milli
        FROM p1 JOIN qv ON p1.image_id = qv.image_id
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {_cap_tok} >= 4
          AND qv.sharp0 >= 2000000 AND qv.ent0 >= 4000
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, w, h, fmt, caption, phash,
             n_pixels, aspect, caption_tokens, sharp_milli, ent_milli
      FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    # pair_corpus_clean_aligned: the same closure with the CLIP-score
    # alignment gate between the metadata filters and the dedup stages —
    # embeddings attach via the identical two vec_id equi-joins, and the
    # corpus size enters as a scalar subquery (the Spark side's one
    # bounded driver count).
    o["pair_corpus_clean_aligned"] = f"""
      WITH p0(image_id, w, h, fmt, caption, phash) AS (VALUES {_pair_full}),
      d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      n AS (SELECT count(*) AS n_emb FROM d),
      pa AS (
        SELECT p0.*,
               round(list_cosine_similarity(ei.emb, ec.emb), 6) AS alignment
        FROM p0 CROSS JOIN n
        JOIN d ei
          ON ei.vec_id = CAST(substr(image_id, 5) AS BIGINT) % n.n_emb
        JOIN d ec
          ON ec.vec_id = CASE
               WHEN CAST(substr(image_id, 5) AS BIGINT) % 9 = 0
               THEN (CAST(substr(image_id, 5) AS BIGINT) + 1) % n.n_emb
               ELSE CAST(substr(image_id, 5) AS BIGINT) % n.n_emb END
      ),
      p AS (
        SELECT image_id, w, h, fmt, caption, phash,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(greatest(w, h) / least(w, h), 6) AS aspect,
               CAST({_cap_tok} AS INTEGER) AS caption_tokens,
               alignment
        FROM pa
        WHERE w * h >= 1024
          AND greatest(w, h) / least(w, h) <= 4.0
          AND {_cap_tok} >= 4
          AND alignment >= 0.9
      ),
      img_drops AS (
        SELECT DISTINCT b.image_id FROM p a JOIN p b
          ON a.image_id < b.image_id
         AND bit_count(xor(a.phash, b.phash)) <= 3
      ),
      fp AS (SELECT image_id AS id, {_cap_fp} AS fp FROM p),
      exact_drops AS (
        SELECT f.id FROM fp f
        JOIN (SELECT fp, min(id) AS m FROM fp GROUP BY fp) g
          ON f.fp = g.fp AND f.id <> g.m
      ),
      sh AS (SELECT image_id AS id, {_cap_sh} AS sh FROM p),
      near_drops AS (
        SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
      )
      SELECT image_id, w, h, fmt, caption, phash,
             n_pixels, aspect, caption_tokens, alignment
      FROM p
      WHERE image_id NOT IN (SELECT image_id FROM img_drops)
        AND image_id NOT IN (
          SELECT id FROM exact_drops UNION SELECT id FROM near_drops)
    """

    # same shared closure builder as dup_clusters_sql — the three cluster
    # oracles (text/image/embedding) cannot diverge in closure shape
    o["image_dup_clusters"] = dedupops.cc_closure_sql(
        "n AS (SELECT image_id AS id, phash FROM (VALUES "
        f"{_image_phash_values(512, 42)}) AS v(image_id, phash))",
        "bit_count(xor(a.phash, b.phash)) <= 3",
        "image_id",
    )

    o["cosine_dup_pairs"] = """
      WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
      FROM d a JOIN d b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.35
    """

    o["hard_negatives"] = simsearch.hard_negative_topk_sql(
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)",
        k=5,
        dup_threshold=0.35,
    )

    o["pair_hard_negatives"] = simsearch.cross_negative_topk_sql(
        "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
        "SELECT (vec_id + (SELECT count(*) FROM embeddings) - 1)"
        " % (SELECT count(*) FROM embeddings) AS id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
        k=5,
        dup_threshold=0.35,
    )

    o["pair_alignment"] = """
      WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
      p AS (
        SELECT vec_id AS pair_id, embedding AS img,
               CASE WHEN vec_id % 5 = 0 THEN vec_id + 1
                    WHEN vec_id % 7 = 0 THEN vec_id + 3
                    ELSE vec_id END AS cap_vec_id
        FROM d
      ),
      j AS (
        SELECT p.pair_id,
               round(list_cosine_similarity(p.img, c.embedding), 6) AS alignment
        FROM p JOIN d c ON c.vec_id = p.cap_vec_id
      )
      SELECT pair_id, alignment, alignment >= 0.35 AS keep FROM j
    """

    o["embedding_dup_clusters"] = dedupops.cc_closure_sql(
        "n AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS embedding"
        " FROM embeddings)",
        "round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.35",
        "vec_id",
    )

    o["cosine_to_query"] = """
      WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
      q AS (SELECT embedding AS q_vec FROM d WHERE vec_id = 0)
      SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.q_vec), 4) AS cos
      FROM d e CROSS JOIN q
    """

    o["ann_brute_topk"] = """
      WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
      q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM d WHERE vec_id IN (0, 1, 2)),
      scored AS (
        SELECT q.q_id, e.vec_id,
               round(list_cosine_similarity(e.embedding, q.q_vec), 6) AS cosine
        FROM d e CROSS JOIN q
      )
      SELECT q_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5
    """

    o["crawl_dedup_incremental"] = _crawl_incremental_oracle_sql()
    o["crawl_extract_oracle"] = _crawl_extract_oracle_sql()

    o["ann_lsh_topk"] = simsearch.lsh_topk_sql([0, 1, 2], k=5, n_planes=6, dim=64)
    o["ann_ivf_topk"] = simsearch.ivf_flat_topk_sql(
        [0, 1, 2], k=5, n_clusters=16, n_probe=4
    )

    # ---------------- multimodal audio/video — REAL decode since r5 (WAV
    # via stdlib wave, video via the engine's QV01 qdct container):
    # expected rows are re-derived sequentially from the same
    # deterministic bytes, the image-oracle pattern.
    # audio is no longer a stub for WAV: expected rows come from a
    # sequential re-decode of the same deterministic PCM bytes
    o["audio_feats"] = f"""
      SELECT clip_id,
             CAST(duration_s AS DOUBLE) AS duration_s,
             CAST(rms AS DOUBLE) AS rms,
             CAST(sample_rate AS INTEGER) AS sample_rate
      FROM (VALUES {_audio_feat_values(64, 42)})
        AS t(clip_id, duration_s, rms, sample_rate)
    """
    # video is no longer a stub for QV01: expected rows come from a
    # sequential re-decode of the same deterministic container bytes
    _frame_vals = _video_frame_values(48, 42, 3)
    o["video_frames"] = f"""
      SELECT clip_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST(frame_phash AS BIGINT) AS frame_phash
      FROM (VALUES {_frame_vals}) AS t(clip_id, frame_idx, frame_phash)
    """

    o["video_keep_set"] = f"""
      WITH f0(clip_id, frame_idx, frame_phash) AS (VALUES {_frame_vals}),
      drops AS (
        SELECT DISTINCT b.clip_id FROM f0 a JOIN f0 b
          ON a.clip_id < b.clip_id
         AND bit_count(xor(CAST(a.frame_phash AS BIGINT),
                           CAST(b.frame_phash AS BIGINT))) <= 3
      )
      SELECT DISTINCT clip_id FROM f0
      WHERE clip_id NOT IN (SELECT clip_id FROM drops)
    """

    o["audio_keep_set"] = f"""
      WITH f0(clip_id, afp) AS (VALUES {_audio_fp_values(64, 42)}),
      drops AS (
        SELECT DISTINCT b.clip_id FROM f0 a JOIN f0 b
          ON a.clip_id < b.clip_id
         AND bit_count(xor(CAST(a.afp AS BIGINT),
                           CAST(b.afp AS BIGINT))) <= 3
      )
      SELECT DISTINCT clip_id FROM f0
      WHERE clip_id NOT IN (SELECT clip_id FROM drops)
    """

    o["frame_neardup"] = f"""
      WITH f0(clip_id, frame_idx, frame_phash) AS (VALUES {_frame_vals}),
      f AS (
        SELECT clip_id || '#' || lpad(CAST(frame_idx AS VARCHAR), 3, '0') AS fid,
               CAST(frame_phash AS BIGINT) AS phash
        FROM f0
      )
      SELECT a.fid AS frame_a, b.fid AS frame_b,
             bit_count(xor(a.phash, b.phash)) AS hamming
      FROM f a JOIN f b ON a.fid < b.fid
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """

    return o


def _sentiment_oracle_sql() -> str:
    from web_scraper_spark.functions.textops import NEGATIVE_WORDS, POSITIVE_WORDS

    def cnt(w):
        return f"(length(t) - length(replace(t, '{w}', ''))) / {len(w)}"

    pos = " + ".join(cnt(w) for w in POSITIVE_WORDS)
    neg = " + ".join(cnt(w) for w in NEGATIVE_WORDS)
    return f"""
      WITH l AS (SELECT doc_id, lower(text) AS t FROM documents)
      SELECT doc_id,
             CASE WHEN ({pos}) + ({neg}) > 0
                  THEN round((({pos}) - ({neg})) / (({pos}) + ({neg})), 6)
                  ELSE 0.0 END AS sentiment
      FROM l
    """
