"""Corpus-curation operators: benchmark decontamination and PII scrubbing.

Two training-data-pipeline stages the reference's analyzer surface
(content_analyzer.c:215-417 — sentiment/keyword extraction over fetched
pages) stops short of, but that any corpus feeding a model needs before
the tokenizer sees a byte:

- **Decontamination** — drop/flag training documents that share a long
  token n-gram with an evaluation set (the standard 13-gram collision
  rule from the LM-eval literature, parametrized here). The Spark shape
  is scale-asymmetric on purpose: eval sets are tiny (thousands of
  items) while the training corpus is the 100 TB side, so the eval
  n-gram hash set is BROADCAST and the corpus side is one explode +
  broadcast-hash semi-join + per-doc count — no shuffle of corpus grams,
  no driver collect of corpus data.

- **PII scrub** — detect and mask email addresses and IPv4 literals with
  pure JVM regexp expressions (count + replace); no Python in the hot
  path. Patterns are written in the RE2-compatible subset shared by
  Java's regex engine and DuckDB, so the *_sql twins replay the exact
  decision and the driver's oracle verifies mask + counts value-for-value.

House pattern: every operator is a paired ``*_expr``/``*_sql`` (or
DataFrame op + ``*_sql``) builder generated from the same constants —
see functions/textanalysis.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.functions.textanalysis import md5_60_expr, md5_60_sql

# --------------------------------------------------------------------------
# token n-grams (decontamination unit)
# --------------------------------------------------------------------------


def token_ngrams_expr(text: Column, n: int = 8) -> Column:
    """Distinct space-joined token n-grams of the document, sorted for
    determinism; fewer than n tokens (or blank text) → empty array.
    Native sequence/transform/slice — no Python. The >=n guard runs
    BEFORE sequence(): sequence(1, size-n+1) with a negative end would
    DESCEND (same pitfall pinned in top_bigram_stats)."""
    ws = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(ws, i, F.lit(n)), " "))
    return F.when(
        (F.length(F.trim(text)) > 0) & (F.size(ws) >= n),
        F.array_sort(F.array_distinct(grams)),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def token_ngrams_sql(text: str, n: int = 8) -> str:
    """DuckDB twin (list comprehension over 1-based inclusive slices)."""
    ws = f"regexp_split_to_array(trim({text}), '\\s+')"
    return (
        f"CASE WHEN length(trim({text})) > 0 AND len({ws}) >= {n} THEN "
        f"list_sort(list_distinct([array_to_string({ws}[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len({ws}) - {n - 1})])) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------


def contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-training-document contamination report against an eval set.

    Returns (id, matched_grams, contaminated): matched_grams = how many
    DISTINCT token n-grams of the training document also occur anywhere
    in the eval set (token_ngrams_expr already dedups per doc, so the
    per-doc count is a distinct-gram count); contaminated = any hit.

    100 TB shape: the eval side reduces to a distinct 60-bit gram-hash
    set (thousands of rows) that is explicitly ``broadcast()``; the
    corpus side is explode → hash → broadcast-hash join → per-doc count
    with map-side partial aggregation. The corpus never shuffles its
    grams on a corpus-sized key, and nothing corpus-sized reaches the
    driver. A doc with zero hits is reported with 0 via the left join
    back to the input ids (the report is total, not sparse).
    """
    ev = (
        eval_docs.select(F.explode(token_ngrams_expr(F.col(text_col), n)).alias("g"))
        .select(md5_60_expr(F.col("g")).alias("g"))
        .distinct()
    )
    tg = train.select(
        F.col(id_col), F.explode(token_ngrams_expr(F.col(text_col), n)).alias("g")
    ).select(id_col, md5_60_expr(F.col("g")).alias("g"))
    hits = tg.join(F.broadcast(ev), "g").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("matched_grams")
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("matched_grams", F.lit(0)).cast("long").alias("matched_grams"),
            (F.coalesce("matched_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_sql(
    table: str,
    eval_pred: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_text: str | None = None,
) -> str:
    """DuckDB ground truth: eval = rows of ``table`` WHERE eval_pred,
    train = the rest (optionally with ``train_text`` — an expression over
    the base table's columns — standing in for the training text, so an
    entry query that augments/injects text stays oracle-exact)."""
    t_text = train_text if train_text is not None else text_col
    return f"""
WITH ev AS (
  SELECT DISTINCT {md5_60_sql("g")} AS g FROM (
    SELECT unnest({token_ngrams_sql(text_col, n)}) AS g
    FROM {table} WHERE {eval_pred}
  )
), train AS (
  SELECT {id_col}, {t_text} AS _t FROM {table} WHERE NOT ({eval_pred})
), tg AS (
  SELECT {id_col}, {md5_60_sql("g")} AS g FROM (
    SELECT {id_col}, unnest({token_ngrams_sql("_t", n)}) AS g FROM train
  )
), hits AS (
  SELECT {id_col}, count(*) AS matched FROM tg JOIN ev USING (g) GROUP BY 1
)
SELECT t.{id_col},
       CAST(coalesce(matched, 0) AS BIGINT) AS matched_grams,
       coalesce(matched, 0) > 0 AS contaminated
FROM train t LEFT JOIN hits USING ({id_col})
"""


# --------------------------------------------------------------------------
# PII detection + masking
# --------------------------------------------------------------------------

# RE2-compatible subset (no backrefs/lookaround) — identical semantics in
# Java regex (Spark) and RE2 (DuckDB). \\b is the ASCII word boundary in
# both engines.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b\d{1,3}(\.\d{1,3}){3}\b"


def pii_email_count_expr(text: Column) -> Column:
    return F.regexp_count(text, F.lit(EMAIL_PATTERN)).cast("long")


def pii_ipv4_count_expr(text: Column) -> Column:
    return F.regexp_count(text, F.lit(IPV4_PATTERN)).cast("long")


def pii_mask_expr(text: Column) -> Column:
    """Masked text: emails → <EMAIL>, then IPv4 literals → <IP>.
    Email masking runs FIRST so a dotted hostname inside an address can't
    be half-rewritten by the IP pass."""
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_email, IPV4_PATTERN, "<IP>")


def pii_email_count_sql(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{EMAIL_PATTERN}')) AS BIGINT)"


def pii_ipv4_count_sql(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{IPV4_PATTERN}')) AS BIGINT)"


def pii_mask_sql(text: str) -> str:
    no_email = f"regexp_replace({text}, '{EMAIL_PATTERN}', '<EMAIL>', 'g')"
    return f"regexp_replace({no_email}, '{IPV4_PATTERN}', '<IP>', 'g')"


# --------------------------------------------------------------------------
# line-level boilerplate scrub (the CCNet-style nav/footer cleaner)
# --------------------------------------------------------------------------


def boilerplate_scrub(
    docs: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop lines that repeat across >= min_docs documents — the
    CCNet-style line-level cleaner that strips navigation bars, cookie
    banners and copyright footers a page-level dedup never sees (those
    lines ride inside otherwise-unique documents).

    Returns (id_col, clean_text, n_lines, n_dropped) for EVERY input
    document (a doc whose lines are all boilerplate survives with
    clean_text = ''). Semantics: lines split on '\\n', compared byte-exact
    via md5_60 (the corpus fingerprint the exact-dedup family already
    uses); blank lines (trim = '') never count toward frequency and are
    always kept.

    Scale shape: explode → one distinct-count aggregate on the 64-bit
    line key (partial-agg friendly; count-distinct of doc ids plans as
    Spark's two-phase expand) → equi-join back (no forced broadcast — the
    frequent-line set is data-dependent; AQE may still pick one when it
    measures small) → per-document ordered rebuild
    (collect_list is bounded by single-document size, the same per-row
    bound every per-doc kernel here has). No UDF, no O(n²), no
    driver-side data.
    """
    sid = F.col(id_col)
    lines = docs.select(
        sid,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_fp", md5_60_expr(F.col("line")))
    freq = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line_fp")
        .agg(F.count_distinct(sid).alias("n_docs"))
    )
    boiler = freq.filter(F.col("n_docs") >= int(min_docs)).select("line_fp")
    kept = lines.join(boiler, "line_fp", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_lines is row-local on the ORIGINAL frame (size of the split array)
    # — no third pass over the exploded corpus
    totals = docs.select(
        sid, F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            sid,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def boilerplate_scrub_sql(
    docs_cte: str,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: identical split / md5_60 line key / blank-line and
    threshold rules, rebuilt with an ORDER BY pos string_agg.
    ``docs_cte`` is the body of a CTE producing (id_col, text_col)."""
    fp = md5_60_sql("line")
    return f"""
      WITH d AS ({docs_cte}),
      l AS (
        SELECT {id_col},
               unnest(generate_series(1, len(string_split({text_col}, chr(10))))) AS pos,
               unnest(string_split({text_col}, chr(10))) AS line
        FROM d
      ),
      lf AS (SELECT {id_col}, pos, line, {fp} AS line_fp FROM l),
      boiler AS (
        SELECT line_fp FROM lf WHERE trim(line) <> ''
        GROUP BY line_fp HAVING count(DISTINCT {id_col}) >= {int(min_docs)}
      ),
      kept AS (
        SELECT * FROM lf WHERE line_fp NOT IN (SELECT line_fp FROM boiler)
      ),
      rebuilt AS (
        SELECT {id_col},
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY {id_col}
      ),
      totals AS (SELECT {id_col}, count(*) AS n_lines FROM lf GROUP BY {id_col})
      SELECT t.{id_col},
             coalesce(r.clean_text, '') AS clean_text,
             CAST(t.n_lines AS BIGINT) AS n_lines,
             CAST(t.n_lines - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
      FROM totals t LEFT JOIN rebuilt r USING ({id_col})
    """


# --------------------------------------------------------------------------
# n-gram LM fluency score (CCNet-style perplexity filter)
# --------------------------------------------------------------------------


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per word-bigram position of the lowercased
    document. The >=2 guard runs BEFORE sequence() (the descending-range
    pitfall pinned in top_bigram_stats)."""
    base = docs.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("ws"),
    ).where(F.size("ws") >= 2)
    return base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def lm_bigram_score(
    docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document fluency under a word-bigram language model trained on
    ``ref_docs`` — the CCNet-style perplexity filter (Wenzek et al.): a
    corpus slice known to be clean trains a cheap LM, and every document
    is scored by its mean token surprisal under it; high-score outliers
    (gibberish, boilerplate soup, wrong-language residue) are the drop
    candidates. The reference's analyzer stops at keyword/sentiment
    (content_analyzer.c:215-417); this is the model-side quality gate a
    training corpus needs beyond rule scores.

    Model: add-one (Laplace) smoothed bigram over lowercased
    whitespace tokens. P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V) where
    C(w1) = sum over the row of the bigram table (context occurrences)
    and V = distinct(second words in the reference) + 1 (the unseen
    slot). Per-token surprisal -ln P is rounded to 1e-6 fixed point
    BEFORE summing so the per-doc sum is an integer — order-independent
    across any partitioning, hence exactly replayable in SQL.

    Returns (id, n_scored, lm_sum_fp, lm_score) for EVERY input doc:
    n_scored = bigram positions, lm_sum_fp = integer sum of fixed-point
    ln-probs, lm_score = round(-lm_sum_fp / n_scored / 1e6, 6) — mean
    surprisal in nats (lower = more fluent); docs with < 2 tokens report
    (0, 0, 0.0).

    100 TB shape: the model is built with ONE explode + groupBy(w1,w2)
    partial-agg (the context table is a re-aggregate of it, no second
    corpus pass); scoring is per-doc-distinct grams (groupBy partial agg
    first, so a repeated-phrase doc joins each distinct gram once) →
    equi-joins on the model keys (model tables are vocab-sized and
    data-dependent — not forced broadcast; AQE promotes them when they
    measure small) → one per-doc integer aggregate. V is the single
    bounded driver scalar (the oracle's scalar subquery). No UDF, no
    corpus data on the driver.
    """
    from web_scraper_spark.functions.dedupops import register_op_cache

    refg = _doc_bigrams(ref_docs, id_col, text_col)
    # the bigram table feeds THREE consumers (the context re-aggregate,
    # the V scalar, and the scoring join) and — inside curate_corpus —
    # re-enters the lineage of every downstream pipeline stage; without a
    # cache the reference explode+agg recomputes per consumer
    c2 = register_op_cache(
        refg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    )
    ctx = c2.groupBy("w1").agg(F.sum("c2").alias("cw"))
    vocab = c2.select("w2").distinct().count() + 1  # bounded scalar

    dg = (
        _doc_bigrams(docs, id_col, text_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    term = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("cw"), F.lit(0)) + F.lit(vocab)).cast("double")
        )
        * 1_000_000
    ).cast("bigint")
    per_doc = (
        dg.join(c2, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("k") * term).alias("lm_sum_fp"),
            F.sum("k").alias("n_scored"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.coalesce("lm_sum_fp", F.lit(0)).cast("long").alias("lm_sum_fp"),
            F.when(
                F.coalesce("n_scored", F.lit(0)) > 0,
                F.round(
                    -F.col("lm_sum_fp")
                    / (F.col("n_scored").cast("double") * F.lit(1_000_000.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lm_score"),
        )
    )


def lm_bigram_score_sql(
    docs_cte: str,
    ref_cte: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of lm_bigram_score: same lowercased tokenization
    (zipped unnest), same Laplace rule, same 1e-6 fixed-point-per-token
    integer sum, V as a scalar subquery. Internal CTE names carry an
    ``lm_`` prefix: this twin nests inside larger WITH chains
    (curate_corpus_sql), and DuckDB's binder miresolves an inner CTE that
    SHADOWS an outer name (reported as a circular reference)."""

    def bigrams(src: str) -> str:
        return f"""
        SELECT {id_col},
               unnest([ws[i] for i in generate_series(1, len(ws) - 1)]) AS w1,
               unnest([ws[i + 1] for i in generate_series(1, len(ws) - 1)]) AS w2
        FROM (
          SELECT {id_col},
                 regexp_split_to_array(trim(lower({text_col})), '\\s+') AS ws
          FROM {src}
        ) WHERE len(ws) >= 2
        """

    return f"""
      WITH lm_d AS ({docs_cte}),
      lm_r AS ({ref_cte}),
      lm_refg AS ({bigrams('lm_r')}),
      lm_c2 AS (SELECT w1, w2, count(*) AS c2 FROM lm_refg GROUP BY 1, 2),
      lm_ctx AS (SELECT w1, sum(c2) AS cw FROM lm_c2 GROUP BY 1),
      lm_v AS (SELECT count(DISTINCT w2) + 1 AS vocab FROM lm_c2),
      lm_dg AS (
        SELECT {id_col}, w1, w2, count(*) AS k
        FROM ({bigrams('lm_d')}) GROUP BY 1, 2, 3
      ),
      lm_scored AS (
        SELECT lm_dg.{id_col},
               sum(lm_dg.k * CAST(round(ln(
                 CAST(coalesce(lm_c2.c2, 0) + 1 AS DOUBLE)
                 / CAST(coalesce(lm_ctx.cw, 0) + (SELECT vocab FROM lm_v) AS DOUBLE)
               ) * 1000000) AS BIGINT)) AS lm_sum_fp,
               sum(lm_dg.k) AS n_scored
        FROM lm_dg
        LEFT JOIN lm_c2 ON lm_dg.w1 = lm_c2.w1 AND lm_dg.w2 = lm_c2.w2
        LEFT JOIN lm_ctx ON lm_dg.w1 = lm_ctx.w1
        GROUP BY 1
      )
      SELECT lm_d.{id_col},
             CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
             CAST(coalesce(s.lm_sum_fp, 0) AS BIGINT) AS lm_sum_fp,
             CASE WHEN coalesce(s.n_scored, 0) > 0
                  THEN round(-s.lm_sum_fp / (CAST(s.n_scored AS DOUBLE) * 1000000.0), 6)
                  ELSE 0.0 END AS lm_score
      FROM lm_d LEFT JOIN lm_scored s ON lm_d.{id_col} = s.{id_col}
    """


# --------------------------------------------------------------------------
# end-to-end curation pipeline
# --------------------------------------------------------------------------


def curate_corpus(
    train: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    quality_min: float = 0.9,
    dup_frac_max: float = 0.55,
    max_hamming: int = 3,
    budget_tokens: int | None = None,
    ngram_n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    lm_ref: DataFrame | None = None,
    lm_score_max: float | None = None,
) -> DataFrame:
    """The full text-curation pipeline a training run feeds from, as ONE
    operator: quality/repetition filter → (optional) bigram-LM perplexity
    gate → benchmark decontamination → exact+near dedup keep-set →
    per-stratum token-budget selection → PII mask. The reference stops at
    per-page analysis (content_analyzer.c:215-417); this is the
    corpus-level end product.

    Returns the selected documents as (id, stratum, quality, n_tokens,
    cum_tokens, masked_text) — plus ``lm_score`` when the LM gate is on
    (pass BOTH lm_ref, a reference-slice DataFrame that trains the
    model, and lm_score_max, the mean-surprisal ceiling; see
    lm_bigram_score). With budget_tokens=None the budget stage is
    skipped and cum_tokens is the per-stratum quality-ordered running sum
    over ALL survivors (same window semantics, no cut).

    100 TB shape — every stage is an already-proven kernel, composed
    without adding a single new shuffle family:
      * scoring/filtering: pure JVM codegen exprs pushed onto the scan;
      * decontamination: eval gram set BROADCAST, corpus explodes only its
        own grams (contamination());
      * dedup: fingerprint groupBy + banded simhash self-join, never
        all-pairs (dedupops.dedup_keep_ids);
      * budget: two-phase bucket-verdict sampler — only the
        budget-crossing priority bucket crosses a per-doc window
        (sampling.token_budget_sample);
      * PII mask: JVM regexp_replace on the already-selected survivors
        only (mask work is proportional to the OUTPUT, not the corpus).
    The one multi-consumer frame (post-decontamination survivors) is
    persisted through the size-bounded op-cache registry; callers release
    it with dedupops.unpersist_op_caches() between corpora.
    """
    from web_scraper_spark.functions import dedupops
    from web_scraper_spark.functions import textanalysis as ta
    from web_scraper_spark.operators.sampling import token_budget_sample

    scored = train.select(
        F.col(id_col),
        F.col(stratum_col),
        F.col(text_col),
        ta.quality_score_expr(F.col(text_col)).alias("quality"),
        ta.token_count_expr(F.col(text_col)).cast("long").alias("n_tokens"),
        ta.dup_token_fraction_expr(F.col(text_col)).alias("_dup_frac"),
    ).filter(
        (F.col("quality") >= quality_min) & (F.col("_dup_frac") <= dup_frac_max)
    )
    lm_cols: list[str] = []
    if lm_ref is not None and lm_score_max is not None:
        # the LM gate runs on the rule-filter survivors (fewer docs to
        # score) and BEFORE the heavier decontamination/dedup joins;
        # scored feeds both the scoring explode and the gate join
        scored = dedupops.register_op_cache(scored)
        lm = lm_bigram_score(
            scored, lm_ref, id_col=id_col, text_col=text_col
        ).select(id_col, "lm_score")
        scored = scored.join(lm, id_col).filter(
            F.col("lm_score") <= float(lm_score_max)
        )
        lm_cols = ["lm_score"]
    if eval_docs is not None:
        # scored feeds the contamination explode AND the survivor
        # semi-join — cache it so the scan+score subtree runs once
        scored = dedupops.register_op_cache(scored)
        rep = contamination(
            scored, eval_docs, n=ngram_n, id_col=id_col, text_col=text_col
        )
        scored = scored.join(
            rep.filter(~F.col("contaminated")).select(id_col), id_col, "left_semi"
        )
    clean = dedupops.register_op_cache(scored)
    keep = dedupops.dedup_keep_ids(
        clean, max_hamming=max_hamming, id_col=id_col, text_col=text_col
    )
    # deduped embeds the banded near-dup join and is consumed THREE ways:
    # by both union branches of the budget sampler (via pri) and by the
    # final join — without a cache the band join would recompute per
    # consumer, tripling the pipeline's most expensive stage
    deduped = dedupops.register_op_cache(
        clean.join(keep, id_col, "left_semi").select(
            id_col,
            stratum_col,
            "quality",
            "n_tokens",
            *lm_cols,
            pii_mask_expr(F.col(text_col)).alias("masked_text"),
        )
    )
    pri = deduped.select(
        F.col(id_col),
        F.col(stratum_col),
        F.col("quality").alias("priority"),
        F.col("n_tokens").alias("tokens"),
    )
    budget = budget_tokens if budget_tokens is not None else (1 << 62)
    kept = token_budget_sample(
        pri, budget, stratum_col=stratum_col, id_col=id_col
    )
    return deduped.join(kept.select(id_col, "cum_tokens"), id_col).select(
        id_col, stratum_col, "quality", "n_tokens", *lm_cols,
        "cum_tokens", "masked_text",
    )


def curate_corpus_sql(
    train: str,
    eval_table: str,
    *,
    quality_min: float = 0.9,
    dup_frac_max: float = 0.55,
    max_hamming: int = 3,
    budget_tokens: int | None = None,
    ngram_n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    lm_ref: str | None = None,
    lm_score_max: float | None = None,
) -> str:
    """DuckDB ground truth for curate_corpus: the same stages stated
    naively (all-pairs dedup, one-window budget scan). ``train`` /
    ``eval_table`` are table names or parenthesized subqueries; train must
    expose (id, stratum, text), eval_table must expose text; ``lm_ref``
    (with ``lm_score_max``) is the CTE body of the LM reference slice and
    switches on the perplexity-gate stage. The masked text is reported as
    its md5-60 fingerprint (``masked_fp``) so every masked byte is
    value-checked without shipping full text through the comparator — the
    Spark caller applies the same fingerprint to curate_corpus's
    ``masked_text`` column."""
    from web_scraper_spark.functions import dedupops
    from web_scraper_spark.functions import textanalysis as ta
    from web_scraper_spark.operators.sampling import token_budget_sample_sql

    budget = budget_tokens if budget_tokens is not None else (1 << 62)
    budget_sql = token_budget_sample_sql(
        f"(SELECT {id_col}, {stratum_col}, quality AS priority,"
        f" n_tokens AS tokens FROM deduped)",
        budget,
        stratum_col=stratum_col,
        id_col=id_col,
    )
    if lm_ref is not None and lm_score_max is not None:
        lm_inner = lm_bigram_score_sql(
            f"SELECT {id_col}, {text_col} FROM rule_filtered",
            lm_ref,
            id_col=id_col,
            text_col=text_col,
        )
        lm_stage = f"""
lm AS ({lm_inner}),
filtered AS (
  SELECT f.*, lm.lm_score FROM rule_filtered f
  JOIN lm USING ({id_col})
  WHERE lm.lm_score <= {float(lm_score_max)}
),"""
        lm_out = " d.lm_score,"
    else:
        lm_stage = "filtered AS (SELECT * FROM rule_filtered),"
        lm_out = ""
    return f"""
WITH scored AS (
  SELECT {id_col}, {stratum_col}, {text_col},
         {ta.quality_score_sql(text_col)} AS quality,
         CAST({ta.token_count_sql(text_col)} AS BIGINT) AS n_tokens,
         {ta.dup_token_fraction_sql(text_col)} AS _dup_frac
  FROM {train}
),
rule_filtered AS (
  SELECT * FROM scored
  WHERE quality >= {quality_min} AND _dup_frac <= {dup_frac_max}
),
{lm_stage}
ev AS (
  SELECT DISTINCT {md5_60_sql('g')} AS g FROM (
    SELECT unnest({token_ngrams_sql(text_col, ngram_n)}) AS g
    FROM {eval_table}
  )
),
tg AS (
  SELECT {id_col}, {md5_60_sql('g')} AS g FROM (
    SELECT {id_col}, unnest({token_ngrams_sql(text_col, ngram_n)}) AS g
    FROM filtered
  )
),
contam AS (SELECT DISTINCT {id_col} FROM tg JOIN ev USING (g)),
clean AS (
  SELECT * FROM filtered
  WHERE {id_col} NOT IN (SELECT {id_col} FROM contam)
),
keep AS ({dedupops.dedup_keep_ids_sql(max_hamming=max_hamming, table='clean',
                                      id_col=id_col, text_col=text_col)}),
deduped AS (SELECT c.* FROM clean c JOIN keep k USING ({id_col})),
sampled AS ({budget_sql})
SELECT s.{id_col}, s.{stratum_col}, d.quality, d.n_tokens,{lm_out} s.cum_tokens,
       {md5_60_sql(pii_mask_sql('d.' + text_col))} AS masked_fp
FROM sampled s JOIN deduped d USING ({id_col})
"""


# --------------------------------------------------------------------------
# blocklist safety filter (banned-term fraction gate)
# --------------------------------------------------------------------------
#
# The safety stage of a corpus pipeline: documents (or captions) whose
# banned-term density crosses a threshold are dropped or flagged before
# training. The term list here is a NEUTRAL PLACEHOLDER (a UT1-style
# deployment swaps in its real blocklist — the operator is list-agnostic);
# the lowercased text is split into word tokens and each token equal to a
# term counts once; the SQL twin splits and matches the same way, so the
# decision replays exactly in DuckDB.

BLOCKLIST_DEFAULT = ["badword1", "badword2", "badword3", "spamterm", "nsfwterm"]

# a token is a maximal run of letters, digits and underscores: a term next
# to punctuation or a tab is still its own token, and each of n adjacent
# repeats is one token (Java regex and DuckDB's RE2 read the class alike)
_TOKEN_SPLIT = r"[^\p{L}\p{N}_]+"


def blocklist_stats_expr(text: Column, terms: list[str] | None = None) -> Column:
    """(n_banned, banned_frac) struct: banned-term tokens of the
    lowercased text, and their fraction of the whitespace token count
    (0.0 for blank text). No Python."""
    from web_scraper_spark.functions.textanalysis import token_count_expr

    terms = BLOCKLIST_DEFAULT if terms is None else list(terms)
    tokens = F.split(F.lower(text), _TOKEN_SPLIT)
    n = F.size(F.filter(tokens, lambda t: t.isin(terms)))
    toks = token_count_expr(text)
    frac = F.when(toks == 0, F.lit(0.0)).otherwise(
        F.round(n / toks.cast("double"), 6)
    )
    return F.struct(
        n.cast("long").alias("n_banned"), frac.alias("banned_frac")
    )


def blocklist_stats_sql(text: str, terms: list[str] | None = None) -> dict[str, str]:
    """DuckDB twins: {'n_banned': ..., 'banned_frac': ...}."""
    from web_scraper_spark.functions.textanalysis import token_count_sql

    terms = BLOCKLIST_DEFAULT if terms is None else list(terms)
    listed = ", ".join("'" + t.replace("'", "''") + "'" for t in terms) or "NULL"
    n = (
        f"len(list_filter(regexp_split_to_array(lower({text}), '{_TOKEN_SPLIT}'), "
        f"tok -> tok IN ({listed})))"
    )
    toks = token_count_sql(text)
    frac = (
        f"CASE WHEN ({toks}) = 0 THEN 0.0 "
        f"ELSE round(({n}) / CAST(({toks}) AS DOUBLE), 6) END"
    )
    return {
        "n_banned": f"CAST(({n}) AS BIGINT)",
        "banned_frac": frac,
    }


def blocklist_filter(
    docs: DataFrame,
    max_banned_frac: float = 0.0,
    terms: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Safety gate: keep documents whose banned-term fraction is at or
    below ``max_banned_frac`` (default 0.0 = zero tolerance). Returns
    every KEPT row with (n_banned, banned_frac) riding along. Row-local
    codegen — pushed onto the scan, no shuffle, linear at 100 TB."""
    s = blocklist_stats_expr(F.col(text_col), terms)
    return (
        docs.withColumn("_bs", s)
        .filter(F.col("_bs.banned_frac") <= float(max_banned_frac))
        .withColumn("n_banned", F.col("_bs.n_banned"))
        .withColumn("banned_frac", F.col("_bs.banned_frac"))
        .drop("_bs")
    )
