"""robots.txt operators: parse → rules table → broadcast decision join.

Clean-room reproduction of the reference semantics (robots_parser.c):

Parsing (fetch_robots_txt, robots_parser.c:227-263):
- line-split on '\\n'; leading spaces/tabs trimmed;
- ONLY lines starting (case-sensitively) with ``Allow:`` / ``Disallow:``
  are rules — there is NO User-agent sectioning: every rule applies;
- the path is whitespace-trimmed, empty paths skipped, then
  normalize_path'd (cut at first ``?``/``#``, strip ALL trailing ``/``,
  reject >= 2048 chars);
- rules sorted by (length desc, bytes asc) — kept as ``rule_rank`` for
  fidelity (the decision below is order-insensitive anyway);
- the reference never parses ``Crawl-delay:`` (delay only arrives via the
  rate_limiter_set_crawl_delay API, rate_limiter.c:140-146); our engine
  parses it here and feeds that same API-analog (scheduler.py), defining
  the politeness-budget contract together with the oracle simulator.

Matching (path_matches_rule, robots_parser.c:318-367), exactly:
- no ``*``           → exact string equality
- LAST char is ``*`` → prefix match on the part before the FIRST ``*``
- first char ``*``   → suffix match on everything after the leading ``*``
- interior ``*``     → prefix(part-before-first-star) AND
                       contains(part-after-star-run) in the remainder

Decision (is_crawl_allowed, robots_parser.c:378-439):
- allow rules checked FIRST: any allow match ⇒ allowed (even when a more
  specific disallow also matches — the reference's precedence quirk);
- then any disallow match ⇒ denied; default ⇒ allowed;
- unknown host / no rules / path normalize failure ⇒ allowed.

Spark shape: the per-host rules table is tiny relative to the frontier, so
the rules collapse to one (allow_patterns, deny_patterns) array row per
host, that table **broadcasts**, and the decision is an `F.exists`
higher-order predicate inside the join projection — zero shuffle and zero
aggregation of the frontier (SURVEY.md §2.3 J2; plan-audited). The matcher
is pure JVM column expressions (whole-stage codegen; no Python).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urlops import MAX_RULE_LENGTH

# --------------------------------------------------------------------------
# pure-python parse kernel (shared with tests/oracle_sim.py)
# --------------------------------------------------------------------------


def normalize_path_py(path: str) -> str | None:
    """normalize_path (robots_parser.c:66-105) in python."""
    if path is None:
        return None
    cut = len(path)
    for ch in "?#":
        i = path.find(ch)
        if i != -1:
            cut = min(cut, i)
    p = path[:cut].rstrip("/")
    if len(p) >= MAX_RULE_LENGTH:
        return None
    return p


def parse_robots_body(body: str) -> tuple[list[str], list[str], float | None]:
    """body → (allow_rules, disallow_rules, crawl_delay) with reference
    trimming/normalization/sorting."""
    allow: list[str] = []
    disallow: list[str] = []
    delay: float | None = None
    for line in (body or "").split("\n"):
        line = line.lstrip(" \t")
        target = None
        if line.startswith("Disallow:"):
            target, rest = disallow, line[9:]
        elif line.startswith("Allow:"):
            target, rest = allow, line[6:]
        elif line.startswith("Crawl-delay:"):  # engine extension (see module doc)
            m = re.match(r"[ \t]*([0-9]+(?:\.[0-9]+)?)", line[12:])
            if m:
                delay = max(delay or 0.0, float(m.group(1)))
            continue
        else:
            continue
        rest = rest.lstrip(" \t")
        if rest:
            norm = normalize_path_py(rest)
            if norm is not None:
                target.append(norm)
    key = lambda r: (-len(r), r)  # length desc, bytes asc (rule_compare)
    return sorted(allow, key=key), sorted(disallow, key=key), delay


def path_matches_rule_py(path: str, rule: str) -> bool:
    """path_matches_rule (robots_parser.c:318-367) in python."""
    if rule is None:
        return True
    if "*" not in rule:
        return path == rule
    if rule.endswith("*"):
        prefix = rule[: rule.index("*")]
        return path.startswith(prefix)
    if rule.startswith("*"):
        suffix = rule[1:]
        return path.endswith(suffix)
    # interior: strtok semantics — part1/part2 are the first two non-star runs
    parts = [p for p in rule.split("*") if p != ""]
    if len(parts) >= 2:
        part1, part2 = parts[0], parts[1]
        if path.startswith(part1):
            return part2 in path[len(part1):]
    return False


def is_allowed_py(path: str, allow: list[str], disallow: list[str]) -> bool:
    """is_crawl_allowed decision (robots_parser.c:410-436)."""
    norm = normalize_path_py(path)
    if norm is None:
        return True
    for r in allow:
        if path_matches_rule_py(norm, r):
            return True
    for r in disallow:
        if path_matches_rule_py(norm, r):
            return False
    return True


# --------------------------------------------------------------------------
# corpus → rules table
# --------------------------------------------------------------------------

_PARSED_SCHEMA = T.StructType(
    [
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("rule_type", T.StringType()),
                        T.StructField("path_pattern", T.StringType()),
                        T.StructField("rule_rank", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)


@F.pandas_udf(_PARSED_SCHEMA)
def parse_robots_udf(body: pd.Series) -> pd.DataFrame:
    rules_col, delay_col = [], []
    for b in body:
        allow, disallow, delay = parse_robots_body(b)
        rules = [
            {"rule_type": "allow", "path_pattern": r, "rule_rank": i}
            for i, r in enumerate(allow)
        ] + [
            {"rule_type": "disallow", "path_pattern": r, "rule_rank": i}
            for i, r in enumerate(disallow)
        ]
        rules_col.append(rules)
        delay_col.append(delay)
    return pd.DataFrame({"rules": rules_col, "crawl_delay": delay_col})


def rules_from_corpus(
    corpus: DataFrame, fetched_at: int, fetch_seq: int | None = None
) -> DataFrame:
    """(host, body) → ROBOTS-schema rules table.

    Hosts with a body but zero rules still emit one ``(host, 'none', '')``
    sentinel row so T4's "robots already fetched?" anti-join (EXISTS analog,
    robots_parser.c:191-199) sees them as cached.

    fetch_seq (default: fetched_at) is the tie-break identity latest_rules
    uses when two fetches for one host share a timestamp — the crawl loop
    passes its generation number, which is strictly monotone.
    """
    parsed = corpus.select(
        "host",
        parse_robots_udf(F.col("body")).alias("p"),
    ).select("host", F.col("p.rules").alias("rules"), F.col("p.crawl_delay").alias("crawl_delay"))
    exploded = parsed.select(
        "host",
        F.explode_outer("rules").alias("r"),
        "crawl_delay",
    ).select(
        "host",
        F.coalesce(F.col("r.rule_type"), F.lit("none")).alias("rule_type"),
        F.coalesce(F.col("r.path_pattern"), F.lit("")).alias("path_pattern"),
        F.length(F.coalesce(F.col("r.path_pattern"), F.lit(""))).alias("rule_len"),
        "crawl_delay",
        F.lit(fetched_at).cast("long").alias("fetched_at"),
        F.lit(fetched_at if fetch_seq is None else fetch_seq)
        .cast("long")
        .alias("fetch_seq"),
    )
    return exploded


# --------------------------------------------------------------------------
# native match expression + decision join
# --------------------------------------------------------------------------


def rule_match_expr(path: Column, rule: Column) -> Column:
    """path_matches_rule as a pure JVM column expression (codegen'd)."""
    no_star = ~rule.contains("*")
    prefix_to_first_star = F.substring_index(rule, "*", 1)
    trailing = rule.endswith("*")
    leading = rule.startswith("*")
    suffix = F.substring(rule, 2, MAX_RULE_LENGTH)
    # interior: part1 = before first star; part2 = next non-star run
    part1 = prefix_to_first_star
    part2 = F.regexp_extract(rule, r"^[^*]*\*+([^*]*)", 1)
    remainder = F.substring(path, F.length(part1) + 1, MAX_RULE_LENGTH)
    return (
        F.when(no_star, path == rule)
        .when(trailing, path.startswith(prefix_to_first_star))
        .when(leading, path.endswith(suffix))
        .otherwise(path.startswith(part1) & remainder.contains(part2))
    )


def latest_rules(robots: DataFrame) -> DataFrame:
    """Restrict the append-only robots table to each host's most recent
    fetch (overwrite-on-refetch semantics, robots_parser.c:282-283: the C
    DELETEs then re-SETs the host key). Without this filter, stale rules
    from expired fetches would keep applying forever as the table accretes
    per-generation appends. The window runs over the rules table only —
    small (one row per rule), never over the frontier.

    Ties at max(fetched_at) — e.g. a fetched_at=0 test corpus built twice,
    or a same-second refresh — are broken by fetch_seq so exactly ONE
    fetch's rules apply per host (overwrite-on-refetch, never a mix)."""
    w = Window.partitionBy("host")
    return (
        robots.withColumn("_k", F.struct("fetched_at", "fetch_seq"))
        .withColumn("_maxk", F.max("_k").over(w))
        .filter(F.col("_k") == F.col("_maxk"))
        .drop("_k", "_maxk")
    )


def host_rule_arrays(robots: DataFrame) -> DataFrame:
    """Collapse the (latest-fetch) rules table to ONE row per host:
    (host, allow_patterns:array, deny_patterns:array).

    This is the broadcastable form of the decision input: the aggregation
    shuffles only the tiny rules table, never the frontier. Arrays are
    sorted (the decision is order-insensitive — any allow match wins — so
    sorting is purely for deterministic plans/results)."""
    return (
        latest_rules(robots)
        .groupBy("host")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rule_type") == "allow", F.col("path_pattern"))
                )
            ).alias("allow_patterns"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rule_type") == "disallow", F.col("path_pattern"))
                )
            ).alias("deny_patterns"),
        )
    )


def decide_allowed(
    frontier: DataFrame,
    robots: DataFrame | None,
    path_col: str = "norm_path",
) -> DataFrame:
    """Attach ``allowed:boolean`` to frontier rows via broadcast rule join.

    frontier must carry `host` and a normalize_path'd `path_col` (null ⇒
    allow-by-default, mirroring CHECK_NULL → return 1). Rows keep all
    original columns.

    Shape: the per-host rules collapse to two pattern arrays
    (host_rule_arrays), that one-row-per-host table broadcasts, and the
    decision evaluates as `F.exists(patterns, p -> match(path, p))` inside
    the broadcast-join projection — the frontier is never shuffled and no
    aggregation runs over frontier rows (plan-audited in test_plans).

    CONTRACT: `robots` must be pre-pruned to the batch's hosts before the
    call — the crawl loop passes robots_batch (a left_semi slice bounded
    by hosts-in-batch, crawl.py step 3), which is what keeps the forced
    broadcast bounded. The FULL rules table grows with every host ever
    fetched (the same unbounded host-keyed growth scheduler.py refuses to
    broadcast) and would OOM the broadcast at frontier scale."""
    if robots is None:
        return frontier.withColumn("allowed", F.lit(True))
    rules = host_rule_arrays(robots)
    j = frontier.join(F.broadcast(rules), "host", "left")
    path = F.col(path_col)
    allow_any = F.coalesce(
        F.exists("allow_patterns", lambda p: rule_match_expr(path, p)), F.lit(False)
    )
    deny_any = F.coalesce(
        F.exists("deny_patterns", lambda p: rule_match_expr(path, p)), F.lit(False)
    )
    return j.withColumn(
        "allowed", path.isNull() | allow_any | ~deny_any
    ).drop("allow_patterns", "deny_patterns")


def hosts_needing_robots(
    batch_hosts: DataFrame, robots: DataFrame | None, now: int, ttl: int = 86_400
) -> DataFrame:
    """T4 refresh gate: hosts in the batch with no live cached rules
    (EXISTS + 24h EXPIRE analog, robots_parser.c:191-199,282-283)."""
    hosts = batch_hosts.select("host").distinct()
    if robots is None:
        return hosts
    live = robots.filter(F.col("fetched_at") > F.lit(now - ttl)).select("host").distinct()
    return hosts.join(live, "host", "left_anti")
