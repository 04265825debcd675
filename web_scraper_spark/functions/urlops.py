"""URL operators: canonicalization, host extraction, base/path split.

Semantics match the reference exactly (clean-room reimplementation):

- ``canonicalize_urls`` — reference ``normalize_url`` (extract_hrefs.c:25-74):
  * None/empty href → null
  * ``javascript:`` / ``mailto:`` prefixes → null
  * fragment (`#...`) truncated BEFORE the absolute-URL check
  * already-absolute http(s) hrefs returned as-is (trailing slash KEPT —
    a reference quirk: the strdup branch skips the trailing-slash strip)
  * relative hrefs resolved against the base (RFC-3986 merge + dot-segment
    removal, the xmlBuildURI analog), then ONE trailing slash stripped
    when len > 1
- ``host_expr`` — reference ``extract_domain`` (robots_parser.c:41-60):
  substring between ``://`` and the next ``/``; keeps port and case;
  null when no ``://``.
- ``split_base_path_exprs`` — reference ``split_url`` (scraper.c:61-73):
  split at the first ``/`` at index >= 8; path defaults to ``/``.
- ``normalize_path_expr`` — reference ``normalize_path``
  (robots_parser.c:66-105): truncate at the first ``?`` or ``#``, strip ALL
  trailing slashes, null when >= 2048 chars (callers treat null as allow).

All heavy lifting is Arrow-vectorized (pandas str ops); no per-row Python
UDFs. SHA1 keys use Spark's JVM-side ``sha1`` builtin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_RULE_LENGTH = 2048  # robots_parser.c:21


# --------------------------------------------------------------------------
# Pure-pandas kernel (shared by the Spark UDF, tests and the oracle
# simulator's vectorized mode) — everything is Series-level string ops.
# --------------------------------------------------------------------------
def canonicalize_series(base: pd.Series, href: pd.Series) -> pd.Series:
    href = href.astype("string")
    base = base.astype("string")
    out = pd.Series(pd.NA, index=href.index, dtype="string")

    valid = href.notna() & (href.str.len() > 0)
    valid &= ~href.str.startswith("javascript:", na=False)
    valid &= ~href.str.startswith("mailto:", na=False)
    if not valid.any():
        return out

    h = href.where(valid)
    # fragment strip happens before the absolute check (extract_hrefs.c:36-39)
    h = h.str.split("#", n=1).str[0]
    # after fragment strip an empty string means the href was only a fragment;
    # the reference would then resolve "" against base via xmlBuildURI, which
    # yields the base URL itself.
    absolute = h.str.startswith("http://", na=False) | h.str.startswith(
        "https://", na=False
    )

    # absolute: returned as-is (trailing slash kept — reference quirk)
    out[absolute.fillna(False)] = h[absolute.fillna(False)]

    rel = valid & ~absolute.fillna(False)
    if rel.any():
        b = base.where(rel).str.split("#", n=1).str[0]
        # base components: scheme, root (scheme://authority), dir (up to last /)
        scheme = b.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.-]*):", expand=False)
        root = b.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", expand=False)
        path = b.str.replace(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "", regex=True)
        path = path.str.split("?", n=1).str[0]
        # directory of the base path (RFC 3986 §5.3 merge)
        basedir = path.str.replace(r"[^/]*$", "", regex=True)
        basedir = basedir.where(basedir.str.len() > 0, "/")

        hr = h.where(rel)
        resolved = pd.Series(pd.NA, index=href.index, dtype="string")

        # protocol-relative NEEDS a non-empty authority: '//' (or '///x')
        # has nothing to be the host, resolving it would yield 'http://'
        # → trailing-slash strip → the non-idempotent garbage 'http:/'
        # (hypothesis-found). Such hrefs stay NA = dropped, like junk.
        proto_any = hr.str.startswith("//", na=False)
        proto_rel = hr.str.match(r"^//[^/]", na=False)
        resolved[proto_rel] = scheme[proto_rel] + ":" + hr[proto_rel]

        abs_path = hr.str.startswith("/", na=False) & ~proto_any
        resolved[abs_path] = root[abs_path] + hr[abs_path]

        query_only = hr.str.startswith("?", na=False)
        resolved[query_only] = root[query_only] + path[query_only] + hr[query_only]

        empty = (hr.str.len() == 0).fillna(False)
        resolved[empty] = b[empty]

        relpath = rel & ~proto_any & ~abs_path & ~query_only & ~empty
        resolved[relpath] = root[relpath] + basedir[relpath] + hr[relpath]

        # dot-segment removal (RFC 3986 §5.2.4), applied to the path part only;
        # bounded vectorized fixpoint — depth of ../ chains is tiny in practice
        for _ in range(DOT_ROUNDS):
            before = resolved
            resolved = resolved.str.replace(r"(://[^/]*(?:/[^/]*)*?)/\.(?=/|$)", r"\1", regex=True)
            resolved = resolved.str.replace(
                r"(://[^/]*(?:/[^/]*)*?)/(?!\.\.(?:/|$))[^/]+/\.\.(?=/|$)", r"\1", regex=True
            )
            if resolved.equals(before):
                break

        # strip ONE trailing slash when len > 1 (extract_hrefs.c:68-71)
        strip = resolved.str.endswith("/", na=False) & (resolved.str.len() > 1)
        resolved[strip] = resolved[strip].str[:-1]
        out[rel] = resolved[rel]

    return out


@F.pandas_udf(T.StringType())
def canonicalize_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return canonicalize_series(base, href).astype(object).where(lambda s: s.notna(), None)


# Dot-segment removal regexes (RFC 3986 §5.2.4 over the path part only).
# Java regex (lookahead/lookbehind supported); $1 replacement syntax.
_DOT_SELF = r"(://[^/]*(?:/[^/]*)*?)/\.(?=/|$)"
_DOT_PARENT = r"(://[^/]*(?:/[^/]*)*?)/(?!\.\.(?:/|$))[^/]+/\.\.(?=/|$)"
# Bounded dot-segment fixpoint, SHARED by the native expr and the pandas
# kernel so they stay bit-identical: ../-chains deeper than this leave a
# residual (never seen in practice). Kept small because Catalyst INLINES
# the whole resolution CASE-tree into every nesting level — each extra
# round multiplies the expression size (measured: 16 rounds → plan-text
# blowup + JIT-hostile codegen that anti-scaled at 32 cores).
DOT_ROUNDS = 4


def canonicalize_expr(base: Column, href: Column) -> Column:
    """normalize_url as pure JVM column expressions (whole-stage codegen).

    Semantics identical to ``canonicalize_series`` (the pandas kernel is
    the executable spec, shared with the oracle simulator; parity is
    pinned by tests/test_urlops.py). The kernel's python string ops were
    measured as the crawl pipeline's scaling bottleneck (pandas StringDtype
    is object-backed → allocator/GC contention across python workers), so
    the hot path stays JVM-side."""
    empty_or_junk = (
        href.isNull()
        | (F.length(href) == 0)
        | href.startswith("javascript:")
        | href.startswith("mailto:")
    )
    # fragment strip BEFORE the absolute check (extract_hrefs.c:36-39)
    h = F.substring_index(href, "#", 1)
    absolute = h.startswith("http://") | h.startswith("https://")

    b = F.substring_index(base, "#", 1)
    scheme = F.regexp_extract(b, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    root = F.regexp_extract(b, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    bpath = F.substring_index(
        F.regexp_replace(b, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", ""), "?", 1
    )
    basedir = F.regexp_replace(bpath, r"[^/]*$", "")
    basedir = F.when(F.length(basedir) > 0, basedir).otherwise(F.lit("/"))

    resolved = (
        # proto-relative needs a non-empty authority ('//[^/]...'); a bare
        # '//' resolves to nothing sensible and is dropped (kernel parity)
        F.when(h.rlike(r"^//[^/]"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("//"), F.lit(None).cast("string"))
        .when(h.startswith("/"), F.concat(root, h))
        .when(h.startswith("?"), F.concat(root, bpath, h))
        .when(F.length(h) == 0, b)  # fragment-only href → the base itself
        .otherwise(F.concat(root, basedir, h))
    )
    # dot-segment removal only when a dot segment can exist: "/." is a
    # cheap contains probe, and the 16-round lookahead-regex fixpoint is
    # ~10x the cost of the whole rest of the expression — virtually all
    # real links skip it (when() branches evaluate lazily in codegen)
    dotted = resolved
    for _ in range(DOT_ROUNDS):
        dotted = F.regexp_replace(dotted, _DOT_SELF, "$1")
        dotted = F.regexp_replace(dotted, _DOT_PARENT, "$1")
    resolved = F.when(resolved.contains("/."), dotted).otherwise(resolved)
    # strip ONE trailing slash when len > 1 (extract_hrefs.c:68-71). One
    # reference to `resolved`: a when() over it would inline its CASE tree
    # once per reference and overflow the 64 KB generated-method limit.
    # (?s) and \z (not $, which also matches before a final newline) keep
    # hrefs with newlines on the kernel's endswith("/") rule.
    resolved = F.regexp_replace(resolved, r"(?s)^(.+)/\z", "$1")

    # malformed base: the pandas kernel's extracts yield <NA> which
    # propagates through concat → null result — but Spark regexp_extract
    # returns '' on no-match, so without this guard a base like 'nonsense'
    # would produce '/x' instead of null. Per-branch requirements mirror
    # the kernel exactly: protocol-relative hrefs need only a scheme
    # ('ftp:x' base still resolves '//h/q' → 'ftp://h/q'), fragment-only
    # hrefs return the base verbatim (even malformed), everything else
    # needs the full scheme://authority root.
    scheme_ok = b.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")
    root_ok = b.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
    base_ok = (
        F.when(h.startswith("//"), scheme_ok)
        .when(F.length(h) == 0, F.lit(True))
        .otherwise(root_ok)
    )
    return (
        F.when(empty_or_junk, F.lit(None).cast("string"))
        .when(absolute, h)  # absolute returned verbatim (trailing slash kept)
        .when(base_ok, resolved)
        .otherwise(F.lit(None).cast("string"))
    )


def canonicalize(base: Column, href: Column) -> Column:
    """url_canon column; null for dropped (javascript:/mailto:/empty) hrefs.
    JVM-native; ``canonicalize_udf`` is the Arrow-vectorized fallback/spec."""
    return canonicalize_expr(base, href)


def junk_href(href: Column) -> Column:
    """True for hrefs canonicalize maps to null (empty/javascript:/mailto:).

    Filter on THIS (cheap, href-only) instead of `canonicalize(...).isNotNull()`:
    a null-filter on the canonical column gets pushed down as a duplicate of
    the entire resolution expression — one giant evaluation per row per use."""
    return (
        href.isNull()
        | (F.length(href) == 0)
        | href.startswith("javascript:")
        | href.startswith("mailto:")
    )


# --------------------------------------------------------------------------
# Native (JVM, codegen'd) column expressions — no Python in the hot path.
# --------------------------------------------------------------------------
def host_expr(url: Column) -> Column:
    """extract_domain: between '://' and next '/', port+case preserved."""
    h = F.regexp_extract(url, r"://([^/]*)", 1)
    return F.when(url.contains("://"), h).otherwise(F.lit(None).cast("string"))


def sha1_expr(url_canon: Column) -> Column:
    """URL key per north rule: SHA1 hex of the canonical URL (JVM builtin)."""
    return F.sha1(url_canon)


def shard_expr(url_sha1: Column, num_shards: int) -> Column:
    """Deterministic shard id for the seen set: first 8 hex chars of sha1.

    Uses conv(hex→dec) so shard assignment is reproducible anywhere
    (not tied to Spark's hash seed), which the resume contract needs.
    """
    return F.pmod(F.conv(F.substring(url_sha1, 1, 8), 16, 10).cast("long"), F.lit(num_shards)).cast("int")


def host_bucket_expr(host: Column, num_buckets: int) -> Column:
    """Deterministic bucket id for HOST-keyed state tables (host_state,
    robots): first 8 hex chars of sha1(host) mod B — same engine-portable
    construction as shard_expr, so bucket assignment survives resume on any
    Spark build. This is the partition key that makes per-generation
    host-state/robots commits O(touched buckets) instead of O(hosts ever
    seen) — the distributed analog of the reference's O(1) per-domain Redis
    keys (rate_limiter.c:17-52, robots_parser.c:398-408)."""
    return F.pmod(
        F.conv(F.substring(F.sha1(host), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    ).cast("int")


def split_base_path_exprs(url: Column) -> tuple[Column, Column]:
    """split_url: base = up to first '/' at index>=8; path defaults to '/'."""
    head = F.substring(url, 1, 8)
    tail = F.substring(url, 9, 1_000_000)
    slash_in_tail = F.instr(tail, "/")
    base = F.when(slash_in_tail > 0, F.concat(head, F.substring(tail, 1, slash_in_tail - 1))).otherwise(url)
    path = F.when(slash_in_tail > 0, F.substring(tail, slash_in_tail, 1_000_000)).otherwise(F.lit("/"))
    return base, path


def normalize_path_expr(path: Column) -> Column:
    """robots normalize_path: cut at first ?/#, strip trailing slashes,
    null when the normalized form would be >= 2048 chars (callers must
    treat null as 'allow by default', mirroring CHECK_NULL → return 1)."""
    p = F.regexp_replace(path, r"[?#].*$", "")
    p = F.regexp_replace(p, r"/+$", "")
    return F.when(F.length(p) < MAX_RULE_LENGTH, p).otherwise(F.lit(None).cast("string"))


def with_url_identity(df, url_col: str = "url", num_shards: int = 32):
    """Attach url_canon/url_sha1/host/shard identity columns.

    For URLs that are already canonical (engine-internal paths), url_canon
    is the url itself; discovered hrefs must be canonicalized first.
    """
    return (
        df.withColumn("url_sha1", sha1_expr(F.col(url_col)))
        .withColumn("host", host_expr(F.col(url_col)))
        .withColumn("shard", shard_expr(F.col("url_sha1"), num_shards))
    )


# --------------------------------------------------------------------------
# URL shape / spam features (frontier prioritization + admission filter)
# --------------------------------------------------------------------------
#
# Crawl frontiers at 10^10 URLs cannot afford to fetch-then-judge: the URL
# string itself is the only signal available at admission time, and
# digit-heavy, deep, parameter-laden URLs (session ids, calendars, faceted
# search, tracking redirects) are the classic crawler traps. These features
# are pure codegen string exprs (the metadata-cut idiom every gate here
# uses) with exact DuckDB twins; the composite score is a deterministic
# rational so the admission decision replays value-for-value in SQL.
# Reference analog: the scheduler only orders by host/priority (main.c
# frontier push) — this is the URL-shape signal it lacks.


def _count_char_expr(url: Column, ch: str) -> Column:
    return F.length(url) - F.length(F.replace(url, F.lit(ch), F.lit("")))


def _count_char_sql(url: str, ch: str) -> str:
    return f"(length({url}) - length(replace({url}, '{ch}', '')))"


def url_features_exprs(url: Column) -> dict[str, Column]:
    """Codegen feature columns: url_len, digit_ratio, depth, n_params,
    url_quality (1.0 = clean, 0.0 = certain trap). depth counts path
    segments ('/' beyond the protocol's two); n_params counts query
    parameters; the score subtracts bounded penalties for digit mass,
    excess depth, parameter count and extreme length."""
    ln = F.length(url)
    digits = ln - F.length(F.regexp_replace(url, "[0-9]", ""))
    digit_ratio = F.when(ln == 0, F.lit(0.0)).otherwise(
        F.round(digits / ln.cast("double"), 6)
    )
    depth = F.greatest(_count_char_expr(url, "/") - F.lit(2), F.lit(0))
    n_params = F.when(
        url.contains("?"), _count_char_expr(url, "&") + F.lit(1)
    ).otherwise(F.lit(0))
    penalty = (
        digit_ratio
        + F.least(F.greatest(depth - F.lit(3), F.lit(0)), F.lit(5)) * 0.05
        + F.least(n_params, F.lit(5)) * 0.1
        + F.when(ln > 80, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    quality = F.round(F.greatest(F.lit(1.0) - penalty, F.lit(0.0)), 6)
    return {
        "url_len": ln.cast("long"),
        "digit_ratio": digit_ratio,
        "depth": depth.cast("long"),
        "n_params": n_params.cast("long"),
        "url_quality": quality,
    }


def url_features_sql(url: str) -> dict[str, str]:
    """DuckDB twins of url_features_exprs (same rules, same rounding;
    regexp_replace needs the explicit 'g' flag in DuckDB)."""
    ln = f"length({url})"
    digits = f"({ln} - length(regexp_replace({url}, '[0-9]', '', 'g')))"
    digit_ratio = (
        f"CASE WHEN {ln} = 0 THEN 0.0 "
        f"ELSE round({digits} / CAST({ln} AS DOUBLE), 6) END"
    )
    depth = f"greatest({_count_char_sql(url, '/')} - 2, 0)"
    n_params = (
        f"CASE WHEN contains({url}, '?') "
        f"THEN {_count_char_sql(url, '&')} + 1 ELSE 0 END"
    )
    penalty = (
        f"({digit_ratio}) + least(greatest(({depth}) - 3, 0), 5) * 0.05 "
        f"+ least({n_params}, 5) * 0.1 "
        f"+ CASE WHEN {ln} > 80 THEN 0.2 ELSE 0.0 END"
    )
    quality = f"round(greatest(1.0 - ({penalty}), 0.0), 6)"
    return {
        "url_len": f"CAST({ln} AS BIGINT)",
        "digit_ratio": digit_ratio,
        "depth": f"CAST({depth} AS BIGINT)",
        "n_params": f"CAST({n_params} AS BIGINT)",
        "url_quality": quality,
    }
