"""URL canonicalization / host / path semantics vs the reference quirks.

Reference behaviors tested (clean-room, SURVEY.md §2.2 P1-P4):
- normalize_url (extract_hrefs.c:25-74): javascript:/mailto: dropped,
  fragment stripped BEFORE the absolute check, absolute URLs returned
  verbatim (trailing slash kept), relative resolution + ONE trailing
  slash stripped.
- extract_domain (robots_parser.c:41-60): between :// and next /, port
  and case preserved.
- split_url (scraper.c:61-73): first / at index >= 8.
- normalize_path (robots_parser.c:66-105): cut at ?/#, strip trailing /s.
"""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from web_scraper_spark.functions.urlops import (
    canonicalize_series,
    host_expr,
    normalize_path_expr,
    shard_expr,
    split_base_path_exprs,
)

B = "http://h1.example.test/a/b/page.html"


def canon(base, href):
    return canonicalize_series(pd.Series([base]), pd.Series([href])).iloc[0]


class TestCanonicalize:
    def test_junk_schemes_dropped(self):
        assert pd.isna(canon(B, "javascript:void(0)"))
        assert pd.isna(canon(B, "mailto:x@y.z"))
        assert pd.isna(canon(B, None))
        assert pd.isna(canon(B, ""))

    def test_fragment_only_resolves_to_base(self):
        assert canon(B, "#top") == B

    def test_absolute_kept_verbatim_including_trailing_slash(self):
        # reference quirk: the absolute branch strdup's without slash strip
        assert canon(B, "http://x.test/p/") == "http://x.test/p/"
        assert canon(B, "https://x.test/p#frag") == "https://x.test/p"

    def test_absolute_path_relative(self):
        assert canon(B, "/p/3") == "http://h1.example.test/p/3"
        assert canon(B, "/p/3/") == "http://h1.example.test/p/3"  # slash stripped

    def test_document_relative(self):
        assert canon(B, "c.html") == "http://h1.example.test/a/b/c.html"
        assert canon(B, "../up.html") == "http://h1.example.test/a/up.html"
        assert canon(B, "./here.html") == "http://h1.example.test/a/b/here.html"

    def test_protocol_relative(self):
        assert canon(B, "//other.test/q") == "http://other.test/q"

    def test_protocol_relative_without_authority_dropped(self):
        """hypothesis-found: '//' has no authority; resolving it used to
        yield 'http://' → slash-strip → the non-idempotent 'http:/'.
        Structurally unresolvable → null, like junk hrefs."""
        assert pd.isna(canon(B, "//"))
        assert pd.isna(canon(B, "///x"))
        assert pd.isna(canon(B, "//#frag"))
        assert canon(B, "//h") == "http://h"  # 1-char authority still fine

    def test_query_only(self):
        assert canon(B, "?x=1") == "http://h1.example.test/a/b/page.html?x=1"

    def test_idempotent_on_absolute(self):
        u = canon(B, "/p/3")
        assert canon(B, u) == u

    @settings(max_examples=50, deadline=None)
    @given(st.text(alphabet="abc/._-", min_size=0, max_size=20))
    def test_canon_never_raises_and_idempotent(self, href):
        out = canon(B, href)
        if not pd.isna(out) and out.startswith("http"):
            assert canon(B, out) == out


class TestNativeExprs:
    @pytest.fixture(scope="class")
    def df(self, spark):
        rows = [
            ("http://H1.test:8080/a/b?q=1#f",),
            ("https://h2.test/",),
            ("http://h3.test",),
            ("nohost",),
        ]
        return spark.createDataFrame(rows, ["url"])

    def test_host(self, spark, df):
        out = [r[0] for r in df.select(host_expr(F.col("url"))).collect()]
        # port + case preserved (extract_domain keeps bytes verbatim)
        assert out == ["H1.test:8080", "h2.test", "h3.test", None]

    def test_split_base_path(self, spark, df):
        b, p = split_base_path_exprs(F.col("url"))
        out = df.select(b.alias("b"), p.alias("p")).collect()
        assert (out[0]["b"], out[0]["p"]) == ("http://H1.test:8080", "/a/b?q=1#f")
        assert (out[1]["b"], out[1]["p"]) == ("https://h2.test", "/")
        assert (out[2]["b"], out[2]["p"]) == ("http://h3.test", "/")

    def test_normalize_path(self, spark):
        df = spark.createDataFrame(
            [("/a/b?q=1",), ("/a/b#f",), ("/a/b///",), ("/" * 3000,)], ["p"]
        )
        out = [r[0] for r in df.select(normalize_path_expr(F.col("p"))).collect()]
        assert out == ["/a/b", "/a/b", "/a/b", ""]  # trailing slashes all stripped

    def test_shard_stable_and_in_range(self, spark):
        df = spark.createDataFrame([(f"u{i}",) for i in range(200)], ["u"])
        out = df.select(
            shard_expr(F.sha1(F.col("u")), 32).alias("s")
        ).agg(F.min("s"), F.max("s"), F.countDistinct("s")).collect()[0]
        assert out[0] >= 0 and out[1] < 32 and out[2] > 16  # well spread


class TestNativeCanonicalizeParity:
    """canonicalize_expr (JVM hot path) must equal canonicalize_series
    (the executable spec shared with the oracle simulator) row-for-row."""

    HREFS = [
        None, "", "#top", "#a#b",
        "javascript:void(0)", "mailto:a@b.c", "javascript:", "mailto:",
        "http://x.test/p", "http://x.test/p/", "https://X.test:8080/Q?a=1#f",
        "http://x.test", "https://x.test/",
        "//other.test/q", "//other.test", "/abs", "/abs/", "/a/b/c",
        "?q=1", "?", "rel.html", "rel/", "./here", "../up", "../../up2",
        "a/./b", "a/../b", "./.", "..", ".", "a/b/../../c", "x/../../y",
        "p?q=2#frag", "./q#f", "spaces in href", "trailing//", "//",
        "///x", "//#frag", "//h", "////",
        # embedded newlines: the trailing-slash strip looks at the last
        # character only (a '$' anchor would also match before a final \n)
        "dir/\n", "/abs/\n", "a\n/", "\n", "x/\n/", "../\n/",
    ]
    BASES = [
        "http://h1.example.test/a/b/page.html",
        "http://h1.example.test/",
        "http://h1.example.test",
        "https://h2.test:99/deep/1/2/3?x=9#frag",
        # malformed bases: no scheme://authority — relative resolution must
        # yield null exactly like the pandas kernel's <NA> propagation
        # (except the fragment-only href, which returns the base verbatim)
        "nonsense",
        "/just/a/path",
        "ftp:missing-slashes",
        "",
    ]

    def test_parity_on_corpus(self, spark):
        import pandas as pd
        from web_scraper_spark.functions.urlops import (
            canonicalize_expr,
            canonicalize_series,
        )

        rows = [(b, h) for b in self.BASES for h in self.HREFS]
        df = spark.createDataFrame(rows, ["base", "href"])
        got = [
            r["c"]
            for r in df.select(
                canonicalize_expr(F.col("base"), F.col("href")).alias("c")
            ).collect()
        ]
        want_s = canonicalize_series(
            pd.Series([b for b, _ in rows]), pd.Series([h for _, h in rows])
        )
        want = [None if pd.isna(x) else str(x) for x in want_s]
        for (b, h), g, w in zip(rows, got, want):
            assert g == w, (b, h, g, w)

    def test_compiles_without_codegen_fallback(self, spark, tmp_path):
        """The expression fits whole-stage codegen: with the interpreted
        fallback off, a projection of canonicalize must execute (a CASE
        tree inlined once per reference overflows the 64 KB method
        limit, and Spark then runs the stage interpreted)."""
        from web_scraper_spark.functions.urlops import canonicalize

        # two plain string columns read from parquet, like the crawl's
        # (parent_url, href): a projection over local rows is folded by
        # the optimizer and never compiled
        rows = [(f"http://h.test/a/{i}/p.html", f"../x/{i}/") for i in range(8)]
        spark.createDataFrame(rows, ["base", "href"]).write.parquet(str(tmp_path / "in"))
        prev = spark.conf.get("spark.sql.codegen.fallback")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            df = spark.read.parquet(str(tmp_path / "in"))
            got = [
                r["c"]
                for r in df.select(canonicalize(F.col("base"), F.col("href")).alias("c")).collect()
            ]
        finally:
            spark.conf.set("spark.sql.codegen.fallback", prev)
        assert sorted(got) == sorted(f"http://h.test/a/x/{i}" for i in range(8))

    @settings(max_examples=120, deadline=None)
    @given(st.text(alphabet="ab/.?#:", min_size=0, max_size=18))
    def test_parity_property(self, spark, href):
        import pandas as pd
        from web_scraper_spark.functions.urlops import (
            canonicalize_expr,
            canonicalize_series,
        )

        base = "http://h1.example.test/a/b/page.html"
        df = spark.createDataFrame([(base, href)], ["base", "href"])
        g = df.select(canonicalize_expr(F.col("base"), F.col("href")).alias("c")).collect()[0]["c"]
        w = canonicalize_series(pd.Series([base]), pd.Series([href])).iloc[0]
        w = None if pd.isna(w) else str(w)
        assert g == w, (href, g, w)


class TestUrlFeatures:
    """urlops.url_features_exprs — URL shape/spam scoring."""

    def _feats(self, spark, url):
        from web_scraper_spark.functions import urlops

        df = spark.createDataFrame([(url,)], "url string")
        feats = urlops.url_features_exprs(F.col("url"))
        row = df.select(*[c.alias(n) for n, c in feats.items()]).head()
        return dict(row.asDict())

    def test_clean_url(self, spark):
        got = self._feats(spark, "https://example.test/a/b")
        assert got["depth"] == 2 and got["n_params"] == 0
        assert got["url_quality"] == 1.0  # no digits, shallow, no params

    def test_trap_url_scores_low(self, spark):
        url = "https://h.test/cal/2026/08/21/2026/08/22?session=12345&ref=9&x=1&y=2&z=3"
        got = self._feats(spark, url)
        assert got["n_params"] == 5 and got["depth"] == 7
        # digit-heavy + deep + param-laden: floor at a low score
        assert got["url_quality"] < 0.3

    def test_hand_computed_score(self, spark):
        url = "https://h.test/a?id=7"  # 1 digit / 21 chars, depth 1, 1 param
        got = self._feats(spark, url)
        assert got["url_len"] == 21
        assert got["digit_ratio"] == round(1 / 21, 6)
        assert got["n_params"] == 1
        assert got["url_quality"] == round(1.0 - (round(1 / 21, 6) + 0.1), 6)

    def test_no_python_in_plan(self, spark):
        from web_scraper_spark.functions import urlops

        df = spark.createDataFrame([("https://x/y",)], "url string")
        feats = urlops.url_features_exprs(F.col("url"))
        plan = (
            df.select(*[c.alias(n) for n, c in feats.items()])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan
