"""Text-analysis operators for the training-data pipeline surface.

Large-scale corpus curation ops over the ``documents`` table — language
identification, quality scoring, token counting, document fingerprinting —
each defined ONCE as paired builders:

- ``*_expr(col)``  → a native Spark Column (JVM, whole-stage codegen; no
  Python in the hot path), and
- ``*_sql(col)``   → the equivalent DuckDB ANSI-SQL fragment,

both generated from the same constants, so the driver's DuckDB oracle
verifies the Spark plan value-for-value. The reference analog is the
content_analyzer surface (sentiment P12, language placeholder
content_analyzer.c:289, keywords); these extend it to the corpus-pipeline
operations a 100 TB crawl feeds.

Determinism notes:
- 60-bit hashes come from md5 hex prefixes (portable: Spark ``conv`` ↔
  DuckDB ``CAST('0x…' AS UBIGINT)``), NOT engine-native hash functions
  (Spark xxhash64 and DuckDB hash() disagree);
- tokenization = split on ``\\s+`` after trim, identical regex both sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# portable 60-bit hash (md5 prefix)
# --------------------------------------------------------------------------


def md5_60_expr(c: Column) -> Column:
    """First 15 md5 hex chars as a non-negative int64 (fits: < 2^60)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_60_sql(c: str) -> str:
    return f"CAST(CAST('0x' || substr(md5({c}), 1, 15) AS UBIGINT) AS BIGINT)"


# --------------------------------------------------------------------------
# token count
# --------------------------------------------------------------------------


def token_count_expr(text: Column) -> Column:
    """Whitespace token count; empty/blank text → 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_count_sql(text: str) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({text}), '\\s+')) END"
    )


# --------------------------------------------------------------------------
# quality signals (length / punctuation / stopword ratios)
# --------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
# substring-count trick shared with sentiment (P12): count(w) =
# (len(s) - len(replace(s, w, ''))) / len(w) — identical in Spark and DuckDB.


def _count_sub_expr(text: Column, w: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(w), F.lit("")))) / len(w)


def _count_sub_sql(text: str, w: str) -> str:
    return f"(length({text}) - length(replace({text}, '{w}', ''))) / {len(w)}"


def punct_ratio_expr(text: Column) -> Column:
    """Fraction of chars that are .,!?;: — 0.0 for empty text."""
    stripped = F.regexp_replace(text, r"[.,!?;:]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text)
    )


def punct_ratio_sql(text: str) -> str:
    return (
        f"CASE WHEN length({text}) = 0 THEN 0.0 ELSE "
        f"CAST(length({text}) - length(regexp_replace({text}, '[.,!?;:]', '', 'g')) AS DOUBLE)"
        f" / length({text}) END"
    )


def stopword_ratio_expr(text: Column) -> Column:
    """Stopword substring hits / token count (0 when no tokens).

    Substring (not token) matching — deliberately the same semantics as the
    reference's sentiment counter (content_analyzer.c:215-257). The text is
    space-PADDED first (like _lang_score_expr) so a stopword at the very
    start/end of the document still counts — unpadded, ' the ' misses a
    leading 'the' and short texts under-score."""
    lower = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = None
    for w in STOPWORDS:
        c = _count_sub_expr(lower, f" {w} ")
        hits = c if hits is None else hits + c
    toks = token_count_expr(text)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits.cast("double") / toks)


def stopword_ratio_sql(text: str) -> str:
    lower = f"(' ' || lower({text}) || ' ')"
    hits = " + ".join(_count_sub_sql(lower, f" {w} ") for w in STOPWORDS)
    return (
        f"CASE WHEN {token_count_sql(text)} = 0 THEN 0.0 "
        f"ELSE CAST({hits} AS DOUBLE) / ({token_count_sql(text)}) END"
    )


def quality_score_expr(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation sanity +
    stopword presence. Deterministic, explainable, SQL-oracled."""
    n = F.length(text)
    len_score = F.when(n < 50, n / 50.0).when(n > 5000, F.lit(0.5)).otherwise(F.lit(1.0))
    p = punct_ratio_expr(text)
    punct_score = F.when(p > 0.2, F.lit(0.3)).otherwise(F.lit(1.0))
    s = stopword_ratio_expr(text)
    stop_score = F.when(s > 0.05, F.lit(1.0)).otherwise(F.lit(0.6))
    return F.round((len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3), 6)


def quality_score_sql(text: str) -> str:
    n = f"length({text})"
    len_score = f"CASE WHEN {n} < 50 THEN {n} / 50.0 WHEN {n} > 5000 THEN 0.5 ELSE 1.0 END"
    p = punct_ratio_sql(text)
    punct_score = f"CASE WHEN ({p}) > 0.2 THEN 0.3 ELSE 1.0 END"
    s = stopword_ratio_sql(text)
    stop_score = f"CASE WHEN ({s}) > 0.05 THEN 1.0 ELSE 0.6 END"
    return f"round(({len_score}) * 0.4 + ({punct_score}) * 0.3 + ({stop_score}) * 0.3, 6)"


# --------------------------------------------------------------------------
# language identification (marker-word score, argmax)
# --------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
    "zh": ["的", "是", "了", "在", "不"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # tie-break: first wins


def _lang_score_expr(text: Column, lang: str) -> Column:
    lower = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = None
    for w in LANG_MARKERS[lang]:
        pat = w if lang == "zh" else f" {w} "
        c = _count_sub_expr(lower, pat)
        score = c if score is None else score + c
    return score


def lang_id_expr(text: Column) -> Column:
    """Predicted language = argmax marker-hit count; 'und' when all zero."""
    scores = {lang: _lang_score_expr(text, lang) for lang in _LANG_ORDER}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties (when() chains shadow later ones)
    expr = F.when(best <= 0, F.lit("und"))
    for lang in _LANG_ORDER:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(out)


def _lang_score_sql(text: str, lang: str) -> str:
    lower = f"(' ' || lower({text}) || ' ')"
    return " + ".join(
        _count_sub_sql(lower, w if lang == "zh" else f" {w} ") for w in LANG_MARKERS[lang]
    )


def lang_id_sql(text: str) -> str:
    scores = {lang: f"({_lang_score_sql(text, lang)})" for lang in _LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in _LANG_ORDER
    )
    return f"CASE WHEN {best} <= 0 THEN 'und'{whens} ELSE 'und' END"


# --------------------------------------------------------------------------
# document fingerprint (normalized-content hash)
# --------------------------------------------------------------------------


def fingerprint_expr(text: Column) -> Column:
    """Content fingerprint: 60-bit md5 of casefolded, whitespace-collapsed
    text — the exact-dedup key that survives formatting noise."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return md5_60_expr(norm)


def fingerprint_sql(text: str) -> str:
    norm = f"regexp_replace(lower(trim({text})), '\\s+', ' ', 'g')"
    return md5_60_sql(norm)


# --------------------------------------------------------------------------
# repetition signals (Gopher-style corpus-quality filters)
# --------------------------------------------------------------------------


def dup_token_fraction_expr(text: Column) -> Column:
    """Fraction of tokens that repeat an earlier token: 1 - distinct/total
    (the inverse of Gopher's unique-word fraction). Pure JVM array exprs —
    per-row cost, no shuffle; blank text → 0.0."""
    toks = F.split(F.trim(text), r"\s+")
    n = token_count_expr(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(toks)) / n.cast("double"), 6)
    )


def dup_token_fraction_sql(text: str) -> str:
    ws = f"regexp_split_to_array(trim({text}), '\\s+')"
    n = token_count_sql(text)
    return (
        f"CASE WHEN ({n}) = 0 THEN 0.0 "
        f"ELSE round(1.0 - len(list_distinct({ws})) / CAST(({n}) AS DOUBLE), 6) END"
    )


def top_bigram_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document top word-bigram fraction (Gopher's most-common-2-gram
    signal): occurrences of the most frequent bigram / total bigrams.

    Shape for 100 TB: explode bigrams → groupBy(id, gram) with map-side
    partial aggregation → per-doc max/sum — a distributed histogram, never
    an O(distinct x n) per-row scan, so a pathological repeated-phrase
    document costs its token count, not its token count squared. Docs with
    < 2 tokens report 0.0 over 0 bigrams (left join back to the input)."""
    ws = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("ws")
    ).where(F.size("ws") >= 2)  # filter BEFORE explode: sequence(1, 0) descends
    grams = ws.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("gram"),
    )
    per_doc = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_bigrams"))
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.round(
                F.coalesce(F.col("top_cnt") / F.col("n_bigrams").cast("double"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        )
    )


def top_bigram_stats_sql(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of top_bigram_stats (list comprehension + unnest +
    the same two-level aggregate)."""
    return f"""
      WITH base AS (
        SELECT {id_col}, regexp_split_to_array(trim({text_col}), '\\s+') AS ws
        FROM {table}
      ),
      g AS (
        SELECT {id_col},
               unnest([ws[i] || ' ' || ws[i + 1] for i in generate_series(1, len(ws) - 1)]) AS gram
        FROM base WHERE len(ws) >= 2
      ),
      c AS (SELECT {id_col}, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      m AS (
        SELECT {id_col}, max(cnt) AS top_cnt, sum(cnt) AS n_bigrams
        FROM c GROUP BY 1
      )
      SELECT b.{id_col},
             round(coalesce(top_cnt / CAST(n_bigrams AS DOUBLE), 0.0), 6) AS top_bigram_frac,
             CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams
      FROM base b LEFT JOIN m USING ({id_col})
    """


# --------------------------------------------------------------------------
# vocabulary construction + out-of-vocabulary rate (tokenizer-training ops)
# --------------------------------------------------------------------------


def _doc_words(docs, id_col: str, text_col: str):
    """(id, w) — one row per lowercased whitespace token. Blank docs are
    filtered BEFORE the split (split('') yields a [''] ghost token)."""
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
        )
    )


def vocab_topk(docs, k: int = 1000, id_col: str = "doc_id", text_col: str = "text"):
    """Top-k corpus vocabulary by frequency — the seed list a tokenizer
    trainer (BPE/WordPiece) starts from. Deterministic: ties break on the
    word itself, so the same corpus yields the same vocab on any engine
    or partitioning.

    Returns (word, cnt, rank), rank 1-based.

    100 TB shape: explode → groupBy(word) with map-side partial agg →
    orderBy(cnt desc, word).limit(k) plans as TakeOrderedAndProject (the
    O3 top-k shape — per-partition heaps, only k rows cross); the final
    rank window runs over k rows, a bounded frame."""
    from pyspark.sql import Window

    counts = (
        _doc_words(docs, id_col, text_col)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(int(k))
    )
    rank = F.row_number().over(
        Window.orderBy(F.desc("cnt"), F.asc("w"))
    )
    return counts.select(
        F.col("w").alias("word"),
        F.col("cnt").cast("long").alias("cnt"),
        rank.cast("long").alias("rank"),
    )


def vocab_topk_sql(table: str, k: int = 1000, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of vocab_topk (same tie-break, same blank-doc rule)."""
    return f"""
      WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS w
        FROM {table} WHERE length(trim({text_col})) > 0
      ),
      c AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1)
      SELECT w AS word, CAST(cnt AS BIGINT) AS cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank
      FROM c ORDER BY cnt DESC, w LIMIT {int(k)}
    """


def oov_stats(docs, vocab, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document out-of-vocabulary rate against a vocab frame with a
    ``word`` column — the coverage check run before committing to a
    tokenizer vocab (high-OOV docs are wrong-language or gibberish
    residue; a rising corpus-level OOV rate means the vocab no longer
    fits the data).

    Returns (id, n_tokens, n_oov, oov_rate) for EVERY input doc; blank
    docs report (0, 0, 0.0).

    100 TB shape: the vocab is k rows — explicitly broadcast, so the
    corpus side is explode → broadcast-hash left join → per-doc count
    aggregate; corpus tokens never shuffle on a token key and nothing
    corpus-sized reaches the driver. The vocab is deduplicated first: a
    repeated word would otherwise match each of its tokens once per copy
    and inflate n_tokens."""
    words = vocab.select(F.col("word").alias("w")).distinct()
    hits = (
        _doc_words(docs, id_col, text_col)
        .join(F.broadcast(words.withColumn("iv", F.lit(1))), "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("oov_rate"),
        )
    )


def oov_stats_sql(table: str, vocab_sql: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of oov_stats; ``vocab_sql`` is a query yielding a
    ``word`` column (typically vocab_topk_sql of the same table); it is
    deduplicated like oov_stats' vocab."""
    return f"""
      WITH vocab AS (SELECT DISTINCT word FROM ({vocab_sql})),
      words AS (
        SELECT {id_col},
               unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS w
        FROM {table} WHERE length(trim({text_col})) > 0
      ),
      hits AS (
        SELECT words.{id_col},
               count(*) AS n_tokens,
               sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS n_oov
        FROM words LEFT JOIN vocab ON words.w = vocab.word
        GROUP BY 1
      )
      SELECT d.{id_col},
             CAST(coalesce(h.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(h.n_oov, 0) AS BIGINT) AS n_oov,
             CASE WHEN coalesce(h.n_tokens, 0) > 0
                  THEN round(h.n_oov / CAST(h.n_tokens AS DOUBLE), 6)
                  ELSE 0.0 END AS oov_rate
      FROM {table} d LEFT JOIN hits h ON d.{id_col} = h.{id_col}
    """


# --------------------------------------------------------------------------
# TF-IDF keyword extraction (corpus-level upgrade of the reference's
# per-page keyword pass, content_analyzer.c:215-417)
# --------------------------------------------------------------------------


def tfidf_topk(docs, k: int = 3, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document top-k keywords by tf-idf — the corpus-aware version
    of the reference's per-page keyword extraction: a term ranks high
    when frequent in THIS document but rare across the corpus.

    Model: tf = in-doc count; idf = ln((N+1)/(df+1)) with df = number of
    docs containing the term and N = corpus size; score is kept in 1e-6
    fixed point (tf * round(idf * 1e6)) so ranking is integer-exact and
    SQL-replayable. Ties break on the word asc. Returns
    (id, word, score_fp, rank), rank 1-based; docs with no tokens emit
    no rows.

    100 TB shape: ONE explode feeds both aggregates — groupBy(id, word)
    for tf, then a re-aggregate of THAT for df (count of docs per word —
    no second corpus pass); the idf join is on the word key (vocab-sized
    side, data-dependent — AQE promotes to broadcast when small); the
    final window partitions by doc over per-doc DISTINCT words, a frame
    bounded by single-document vocabulary. N is the one bounded driver
    scalar (the oracle's scalar subquery)."""
    from pyspark.sql import Window

    n_docs = docs.where(F.length(F.trim(F.col(text_col))) > 0).count()
    tf = (
        _doc_words(docs, id_col, text_col)
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf_fp = F.round(
        F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1).cast("double"))
        * 1_000_000
    ).cast("bigint")
    scored = tf.join(df_, "w").select(
        F.col(id_col),
        F.col("w").alias("word"),
        (F.col("tf") * idf_fp).alias("score_fp"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_fp"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            id_col, "word",
            F.col("score_fp").cast("long").alias("score_fp"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def tfidf_topk_sql(table: str, k: int = 3, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of tfidf_topk (same smoothing, fixed point, tie-break;
    N as a scalar subquery over the same blank-doc rule)."""
    return f"""
      WITH tw AS (
        SELECT {id_col},
               unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS w
        FROM {table} WHERE length(trim({text_col})) > 0
      ),
      n AS (
        SELECT count(*) AS n_docs FROM {table}
        WHERE length(trim({text_col})) > 0
      ),
      tf AS (SELECT {id_col}, w, count(*) AS tf FROM tw GROUP BY 1, 2),
      df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT tf.{id_col}, tf.w AS word,
               tf.tf * CAST(round(ln(
                 CAST((SELECT n_docs FROM n) + 1 AS DOUBLE)
                 / CAST(df.df + 1 AS DOUBLE)
               ) * 1000000) AS BIGINT) AS score_fp
        FROM tf JOIN df ON tf.w = df.w
      )
      SELECT {id_col}, word, CAST(score_fp AS BIGINT) AS score_fp,
             CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {id_col} ORDER BY score_fp DESC, word
        ) AS rank FROM scored
      ) WHERE rank <= {int(k)}
    """
