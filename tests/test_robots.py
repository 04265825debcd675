"""robots.txt parse / match / decision vs reference semantics.

The native Spark matcher (rule_match_expr + decide_allowed) must agree with
the pure-python kernel (path_matches_rule_py / is_allowed_py) on every
(path, ruleset) pair, and the kernel itself is pinned to the reference's
quirks (robots_parser.c:318-439): allow-first precedence, first-star prefix,
leading-star suffix, strtok interior split, default allow.
"""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from web_scraper_spark.operators.robots import (
    decide_allowed,
    is_allowed_py,
    normalize_path_py,
    parse_robots_body,
    path_matches_rule_py,
    rule_match_expr,
    rules_from_corpus,
)


class TestParse:
    def test_basic_and_sorting(self):
        body = "User-agent: *\nDisallow: /a\nDisallow: /longer/path\nAllow: /a/b\n"
        allow, disallow, delay = parse_robots_body(body)
        assert allow == ["/a/b"]
        assert disallow == ["/longer/path", "/a"]  # length desc
        assert delay is None

    def test_trim_normalize_skip_empty(self):
        body = "  \tDisallow:   /x/  \nDisallow:\nAllow: /q?drop=1\nallow: /case\n"
        allow, disallow, _ = parse_robots_body(body)
        # path whitespace-trimmed; trailing whitespace survives trim then rstrip'/' —
        # reference trims only LEADING ws on the path, so '/x/  ' keeps its spaces
        assert disallow == ["/x/  "]
        assert allow == ["/q"]  # query cut by normalize_path

    def test_case_sensitive_directives(self):
        allow, disallow, _ = parse_robots_body("ALLOW: /a\ndisallow: /b\n")
        assert allow == [] and disallow == []

    def test_crawl_delay_engine_extension(self):
        _, _, delay = parse_robots_body("Crawl-delay: 2.5\nCrawl-delay: 4\n")
        assert delay == 4.0


class TestMatchKernel:
    @pytest.mark.parametrize(
        "path,rule,want",
        [
            ("/a/b", "/a/b", True),
            ("/a/b", "/a", False),           # exact only without *
            ("/private/3", "/private*", True),
            ("/private", "/private*", True),
            ("/p", "/private*", False),
            ("/x/tracking", "*tracking", True),
            ("/tracking/x", "*tracking", False),
            ("/x123y", "/x*y", True),
            ("/x123z", "/x*y", False),
            ("/a/mid/b", "/a*b", True),
            ("/anything", "*", True),         # trailing-star branch, empty prefix
            ("/ab", "/a*b*", True),           # trailing star: prefix to FIRST star
            ("/azzz", "/a*b*", True),
            ("", "/a", False),
        ],
    )
    def test_pinned(self, path, rule, want):
        assert path_matches_rule_py(path, rule) is want

    def test_decision_allow_first_precedence(self):
        # allow matches AND disallow matches → allowed (reference quirk)
        assert is_allowed_py("/private/7", ["/private/7"], ["/private*"]) is True
        assert is_allowed_py("/private/8", ["/private/7"], ["/private*"]) is False
        assert is_allowed_py("/other", [], []) is True


RULES = ["/a", "/a/b", "/private*", "*track", "/x*y", "*", "/q/r/s", "/m*"]
PATHS = ["/a", "/a/b", "/a/b/c", "/private/1", "/xxtrack", "/x1y", "/m/n", "/q", ""]


class TestSparkMatcherAgreesWithKernel:
    def test_match_expr_parity(self, spark):
        rows = [(p, r) for p in PATHS for r in RULES]
        df = spark.createDataFrame(rows, ["path", "rule"])
        got = df.select("path", "rule", rule_match_expr(F.col("path"), F.col("rule")).alias("m")).collect()
        for r in got:
            assert r["m"] == path_matches_rule_py(r["path"], r["rule"]), (r["path"], r["rule"])

    def test_decide_allowed_parity(self, spark):
        corpus = spark.createDataFrame(
            [
                ("h0.test", "Disallow: /private*\nAllow: /private/7\nDisallow: *track\n"),
                ("h1.test", "Disallow: /x*y\nCrawl-delay: 3\n"),
                ("h2.test", ""),  # empty body → sentinel row, allow everything
            ],
            ["host", "body"],
        )
        robots = rules_from_corpus(corpus, fetched_at=0)
        frontier = spark.createDataFrame(
            [
                (f"u{i}", h, p, normalize_path_py(p))
                for i, (h, p) in enumerate(
                    (h, p)
                    for h in ["h0.test", "h1.test", "h2.test", "h9.test"]
                    for p in PATHS + ["/private/7", "/private/9"]
                )
            ],
            ["url_canon", "host", "raw_path", "norm_path"],
        )
        got = {
            (r["host"], r["raw_path"]): r["allowed"]
            for r in decide_allowed(frontier, robots).collect()
        }
        rules_py = {
            "h0.test": parse_robots_body("Disallow: /private*\nAllow: /private/7\nDisallow: *track\n"),
            "h1.test": parse_robots_body("Disallow: /x*y\nCrawl-delay: 3\n"),
            "h2.test": parse_robots_body(""),
            "h9.test": ([], [], None),  # unknown host → default allow
        }
        for (h, p), allowed in got.items():
            a, d, _ = rules_py[h]
            assert allowed == is_allowed_py(p, a, d), (h, p)

    def test_crawl_delay_lands_in_rules(self, spark):
        corpus = spark.createDataFrame([("h1.test", "Crawl-delay: 3\nDisallow: /z\n")], ["host", "body"])
        robots = rules_from_corpus(corpus, fetched_at=0)
        row = robots.filter("rule_type = 'disallow'").collect()[0]
        assert row["crawl_delay"] == 3.0


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="ab/*", min_size=0, max_size=12),
    st.text(alphabet="ab/", min_size=0, max_size=12),
)
def test_kernel_never_crashes_and_star_rule_dominates(rule, path):
    r = path_matches_rule_py(path, rule)
    assert isinstance(r, bool)
    if rule == "*":
        assert r is True


class TestTtlRefresh:
    """T4: EXISTS gate + 24h EXPIRE analog (robots_parser.c:191-199,282-283)."""

    def test_hosts_needing_robots(self, spark):
        from web_scraper_spark.operators.robots import hosts_needing_robots, rules_from_corpus

        corpus = spark.createDataFrame(
            [("h0.test", "Disallow: /x\n"), ("h1.test", "")], ["host", "body"]
        )
        robots = rules_from_corpus(corpus, fetched_at=0)
        batch = spark.createDataFrame([("h0.test",), ("h1.test",), ("h2.test",)], ["host"])

        # fresh cache: only the never-fetched host needs a fetch; note h1's
        # empty body still counts as cached via its 'none' sentinel row
        need = {r["host"] for r in hosts_needing_robots(batch, robots, now=100).collect()}
        assert need == {"h2.test"}

        # expired cache (> 24h): everything needs a refetch
        need = {r["host"] for r in hosts_needing_robots(batch, robots, now=86_401).collect()}
        assert need == {"h0.test", "h1.test", "h2.test"}

        # no robots table at all
        need = {r["host"] for r in hosts_needing_robots(batch, None, now=0).collect()}
        assert need == {"h0.test", "h1.test", "h2.test"}


class TestLatestRulesTieBreak:
    def test_equal_fetched_at_applies_exactly_one_fetch(self, spark):
        """Two fetches for one host tied at max(fetched_at) (e.g. a
        fetched_at=0 corpus built twice) must resolve to exactly ONE
        fetch's rule set — overwrite-on-refetch (robots_parser.c:282-283
        DELETE+SET), never a mix of both."""
        from web_scraper_spark.operators.robots import latest_rules, rules_from_corpus

        c1 = spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /a\n")], ["host", "body"]
        )
        c2 = spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /b\n")], ["host", "body"]
        )
        r1 = rules_from_corpus(c1, fetched_at=0, fetch_seq=1)
        r2 = rules_from_corpus(c2, fetched_at=0, fetch_seq=2)
        live = latest_rules(r1.unionByName(r2)).collect()
        pats = {r["path_pattern"] for r in live}
        # only the later fetch (seq 2) applies
        assert pats == {"/b"}, pats
