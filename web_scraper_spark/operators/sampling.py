"""Budgeted corpus sampling — "give me the best N tokens per language".

A training-data pipeline rarely takes a corpus whole: it takes the
highest-priority documents per stratum (language, source, domain) until a
token budget fills. The naive plan is one running-sum window per stratum —
which at 100 TB funnels EVERY document of the biggest language through a
single window task. ``token_budget_sample`` computes the identical keep
set with a two-phase plan whose big-data stages are all partial-aggregable:

1. bucket totals: groupBy(stratum, priority) → sum(tokens). Priority is
   already quantized (round 6), so this aggregate is small and its window
   (running sum over buckets per stratum) runs over thousands of rows, not
   billions.
2. bucket verdicts: a bucket is KEEP when it fits entirely inside the
   remaining budget, DROP when the budget was already spent, BOUNDARY when
   the budget crosses inside it. Only the boundary bucket's documents —
   one priority value per stratum — flow through an exact per-document
   running-sum window (ordered by the id tie-break).

The result is exactly the single-window semantics: order documents by
(priority DESC, id ASC) within each stratum and keep every prefix document
whose cumulative token count stays <= budget. The oracle states it with
the one-window SQL; the Spark plan never windows the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas


def token_budget_sample(
    docs: DataFrame,
    budget_tokens,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    priority_col: str = "priority",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Keep, per stratum, the (priority DESC, id ASC)-prefix of documents
    whose running token sum stays <= the stratum's budget.

    budget_tokens is either one int (every stratum gets the same budget)
    or a dict {stratum: budget} — the TRAINING-MIXTURE form: per-domain
    token weights, with strata absent from the dict excluded entirely.
    The dict rides as a broadcast frame joined onto the BUCKET aggregate
    (thousands of rows), never onto the corpus, so mixture selection
    costs the same plan as the scalar form.

    docs must carry (id_col, stratum_col, priority_col, tokens_col);
    returns (id_col, stratum_col, tokens_col, cum_tokens) for the kept
    documents. cum_tokens is the running sum in the global per-stratum
    order — reproducible by the naive one-window plan. Zero-token
    documents are dropped up front (both here and in the oracle SQL):
    they carry no budget weight, and excluding them keeps the bucket
    verdicts exact at an exactly-exhausted budget boundary."""
    base = docs.select(id_col, stratum_col, priority_col, tokens_col).where(
        F.col(tokens_col) > 0
    )

    # phase 1: per-(stratum, priority) totals — tiny after partial agg
    buckets = base.groupBy(stratum_col, priority_col).agg(
        F.sum(tokens_col).alias("bucket_tok")
    )
    wb = (
        Window.partitionBy(stratum_col)
        .orderBy(F.desc(priority_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    buckets = buckets.withColumn(
        "cum_before", F.sum("bucket_tok").over(wb) - F.col("bucket_tok")
    )
    if isinstance(budget_tokens, DataFrame):
        # computed-budget form (e.g. temperature_budgets): a frame with
        # (stratum_col, _budget) — joined like the dict form, but the
        # budgets never touch the driver
        buckets = buckets.join(
            F.broadcast(budget_tokens.select(stratum_col, "_budget")),
            stratum_col,
        )
    elif isinstance(budget_tokens, dict):
        budgets = schemas.local_frame(
            docs.sparkSession,
            [(str(k), int(v)) for k, v in sorted(budget_tokens.items())],
            f"{stratum_col} string, _budget long",
        )
        buckets = buckets.join(F.broadcast(budgets), stratum_col)
    else:
        buckets = buckets.withColumn(
            "_budget", F.lit(int(budget_tokens)).cast("long")
        )
    budget = F.col("_budget")
    verdict_cols = [stratum_col, priority_col, "cum_before", "_budget"]
    keep_whole = buckets.where(F.col("cum_before") + F.col("bucket_tok") <= budget)
    boundary = buckets.where(
        (F.col("cum_before") < budget)
        & (F.col("cum_before") + F.col("bucket_tok") > budget)
    )

    # fully-kept buckets: no per-document window at all, cum via the
    # bucket offset + an id-ordered window RESTRICTED to the kept buckets
    wd = (
        Window.partitionBy(stratum_col, priority_col)
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_full = (
        base.join(
            F.broadcast(keep_whole.select(*verdict_cols)),
            [stratum_col, priority_col],
        )
        .withColumn("cum_tokens", F.col("cum_before") + F.sum(tokens_col).over(wd))
        .select(id_col, stratum_col, tokens_col, "cum_tokens")
    )

    # boundary bucket: the only exact per-document prefix scan — one
    # priority value per stratum, so the window input is tiny
    kept_edge = (
        base.join(
            F.broadcast(boundary.select(*verdict_cols)),
            [stratum_col, priority_col],
        )
        .withColumn("cum_tokens", F.col("cum_before") + F.sum(tokens_col).over(wd))
        .where(F.col("cum_tokens") <= budget)
        .select(id_col, stratum_col, tokens_col, "cum_tokens")
    )
    return kept_full.unionByName(kept_edge)


def token_budget_sample_sql(
    table: str,
    budget_tokens,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    priority_col: str = "priority",
    tokens_col: str = "tokens",
) -> str:
    """The naive ONE-WINDOW statement of the same keep set (the semantics
    the two-phase plan must reproduce) — used as the DuckDB oracle.
    budget_tokens: one int, or {stratum: budget} (the training-mixture
    form — strata absent from the dict are excluded)."""
    ordered = f"""
      ordered AS (
        SELECT {id_col}, {stratum_col}, {tokens_col},
               CAST(sum({tokens_col}) OVER (
                 PARTITION BY {stratum_col}
                 ORDER BY {priority_col} DESC, {id_col} ASC
                 ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens
        FROM {table} WHERE {tokens_col} > 0
      )"""
    if isinstance(budget_tokens, dict):
        vals = ", ".join(
            f"('{k}', {int(v)})" for k, v in sorted(budget_tokens.items())
        )
        return f"""
          WITH {ordered},
          b({stratum_col}, budget) AS (VALUES {vals})
          SELECT o.{id_col}, o.{stratum_col}, o.{tokens_col}, o.cum_tokens
          FROM ordered o JOIN b ON o.{stratum_col} = b.{stratum_col}
          WHERE o.cum_tokens <= b.budget
        """
    return f"""
      WITH {ordered}
      SELECT {id_col}, {stratum_col}, {tokens_col}, cum_tokens
      FROM ordered WHERE cum_tokens <= {int(budget_tokens)}
    """


# --------------------------------------------------------------------------
# sequence packing — fill fixed-capacity training sequences with documents
# --------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    num_shards: int = 64,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Greedy first-fit packing of tokenized documents into fixed-capacity
    training sequences: within a shard, documents are taken in id order and
    appended to the current sequence; when the next document would overflow
    ``capacity``, a new sequence starts. A document longer than capacity
    still gets a sequence of its own (the trainer truncates; this operator
    never drops or splits text).

    Packing is an order-dependent fold, so it cannot be a window function —
    but it only has to be sequential WITHIN a shard. Sharding by
    ``id % num_shards`` makes each shard an independent greedy stream:
    at 100 TB you raise num_shards with the cluster (one applyInPandas
    task per shard, Arrow-batched, a single numpy pass per task) and the
    packing keeps the same per-shard determinism a resumable pipeline
    needs. Requires non-negative ids (Spark ``%`` and ANSI-SQL ``%`` agree
    there); zero-token documents are dropped up front like in
    token_budget_sample.

    Returns (id_col, shard, seq_idx, tok_offset, tokens_col): the sequence
    a document landed in and its token offset inside that sequence —
    exactly the manifest a sequence-builder job consumes.
    """
    import numpy as np
    import pandas as pd

    cap = int(capacity)
    base = (
        docs.select(id_col, tokens_col)
        .where(F.col(tokens_col) > 0)
        .withColumn("shard", (F.col(id_col) % int(num_shards)).cast("int"))
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        toks = pdf[tokens_col].to_numpy(dtype="int64")
        seq = np.empty(len(toks), dtype="int64")
        off = np.empty(len(toks), dtype="int64")
        s = 0
        fill = 0
        for i, t in enumerate(toks):
            if i > 0 and fill + t > cap:
                s += 1
                fill = 0
            off[i] = fill
            fill += t
            seq[i] = s
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "shard": pdf["shard"].to_numpy(),
                "seq_idx": seq,
                "tok_offset": off,
                tokens_col: toks,
            }
        )

    out_schema = (
        f"{id_col} bigint, shard int, seq_idx bigint, "
        f"tok_offset bigint, {tokens_col} bigint"
    )
    return base.groupBy("shard").applyInPandas(fold, schema=out_schema)


def pack_sequences_sql(
    table: str,
    capacity: int,
    num_shards: int = 64,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> str:
    """The same greedy fold stated as a DuckDB recursive CTE (row-by-row
    recurrence per shard) — the sequential semantics the sharded
    applyInPandas plan must reproduce exactly."""
    cap = int(capacity)
    return f"""
      WITH RECURSIVE ordered AS (
        SELECT {id_col}, {tokens_col},
               CAST({id_col} % {int(num_shards)} AS INTEGER) AS shard,
               ROW_NUMBER() OVER (
                 PARTITION BY {id_col} % {int(num_shards)} ORDER BY {id_col}
               ) AS rn
        FROM {table} WHERE {tokens_col} > 0
      ),
      pack AS (
        SELECT shard, rn, {id_col}, {tokens_col},
               CAST(0 AS BIGINT) AS seq_idx, {tokens_col} AS fill
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.{id_col}, o.{tokens_col},
               CASE WHEN p.fill + o.{tokens_col} > {cap}
                    THEN p.seq_idx + 1 ELSE p.seq_idx END,
               CASE WHEN p.fill + o.{tokens_col} > {cap}
                    THEN o.{tokens_col} ELSE p.fill + o.{tokens_col} END
        FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
      )
      SELECT CAST({id_col} AS BIGINT) AS {id_col}, shard,
             seq_idx, CAST(fill - {tokens_col} AS BIGINT) AS tok_offset,
             CAST({tokens_col} AS BIGINT) AS {tokens_col}
      FROM pack
    """


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window chunking: split each document into sliding windows
    of `chunk_tokens` whitespace tokens with `overlap` tokens carried
    between consecutive chunks — the step that turns variable-length
    documents into model-context-sized training rows (the complement of
    pack_sequences, which handles the too-SHORT side).

    Chunk i covers token indices [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the tail chunk may be shorter; blank
    documents produce no chunks. Every token appears in at least one
    chunk, and dropping the first `overlap` tokens of chunks 1..k
    reconstructs the document exactly (pinned in tests).

    100 TB shape: pure per-row codegen — split, a `sequence` literal of
    chunk ids, ONE Generate (explode) — no shuffle, no UDF, no window.
    Output size is input size × (1 + overlap/stride) by construction; the
    overlap ratio, not the engine, is the only amplification knob.

    Returns (id_col, chunk_id int, chunk_text string, chunk_n int)."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(id_col, toks.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .withColumn(
            "_n_chunks",
            F.when(F.col("_n") <= chunk_tokens, F.lit(1))
            .otherwise(
                # ceil((n - chunk_tokens) / stride) + 1, integer-exact
                F.floor((F.col("_n") - chunk_tokens + stride - 1) / stride)
                + 1
            )
            .cast("int"),
        )
    )
    i = F.col("chunk_id")
    return (
        base.select(
            id_col,
            "_toks",
            "_n",
            F.explode(F.sequence(F.lit(0), F.col("_n_chunks") - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            id_col,
            i.cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("_toks"), i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.col("_n") - i * stride)
            .cast("int")
            .alias("chunk_n"),
        )
    )


def chunk_documents_sql(
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of chunk_documents (list_slice is 1-based inclusive,
    matching Spark's 1-based slice(start, length))."""
    if chunk_tokens <= 0 or not (0 <= overlap < chunk_tokens):
        raise ValueError("bad chunk_tokens/overlap")
    stride = chunk_tokens - overlap
    return f"""
        SELECT {id_col},
               CAST(i AS INT) AS chunk_id,
               array_to_string(
                 list_slice(_toks, i*{stride} + 1,
                            LEAST(i*{stride} + {chunk_tokens}, _n)),
                 ' ') AS chunk_text,
               CAST(LEAST({chunk_tokens}, _n - i*{stride}) AS INT) AS chunk_n
        FROM (
          SELECT {id_col}, _toks, _n,
                 UNNEST(range(CASE WHEN _n <= {chunk_tokens} THEN 1
                              ELSE (_n - {chunk_tokens} + {stride} - 1)
                                   // {stride} + 1 END)) AS i
          FROM (
            SELECT {id_col},
                   regexp_split_to_array(trim({text_col}), '\\s+') AS _toks,
                   len(regexp_split_to_array(trim({text_col}), '\\s+')) AS _n
            FROM {table}
            WHERE length(trim({text_col})) > 0
          )
        )
    """


# ---------------------------------------------------------------------------
# temperature-scaled mixture budgets (multilingual T=0.5 sampling)
# ---------------------------------------------------------------------------


def temperature_budgets(
    docs: DataFrame,
    total_budget: int,
    stratum_col: str = "lang",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-stratum budgets proportional to size^(1/2) — the standard
    temperature-sampling rule (T=0.5) that upweights low-resource strata
    relative to proportional sampling without flattening to uniform.
    T is FIXED at 0.5 because sqrt is correctly rounded in IEEE-754 —
    Spark and DuckDB produce the bit-identical weight, which a general
    pow() would not guarantee cross-engine.

    Returns (stratum_col, stratum_tokens, w_fp, _budget):
    w_fp = round(sqrt(stratum token total) * 1e6) as int64, and
    _budget = total_budget * w_fp div sum(w_fp) — all-integer division,
    so budgets are hash-exact and sum to <= total_budget. The product is
    taken in decimal(38,0): total_budget * w_fp passes 2^63 at realistic
    scale (10^16-token strata have w_fp 10^14). Feed the frame
    straight into token_budget_sample (the computed-budget form).

    100 TB shape: ONE partial-aggregable groupBy(stratum) over the
    corpus; the weight normalization is a global window over the
    STRATUM aggregate — a frame bounded by the number of strata
    (the vocab-rank idiom), not a corpus window and not a cartesian —
    and nothing touches the driver."""
    per = (
        docs.where(F.col(tokens_col) > 0)
        .groupBy(stratum_col)
        .agg(F.sum(tokens_col).alias("stratum_tokens"))
        .withColumn(
            "w_fp",
            F.round(F.sqrt(F.col("stratum_tokens").cast("double")) * 1_000_000)
            .cast("long"),
        )
    )
    w_tot = F.sum("w_fp").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return per.withColumn("_w_tot", w_tot).select(
        stratum_col,
        "stratum_tokens",
        "w_fp",
        F.expr(f"CAST({int(total_budget)} AS DECIMAL(38,0)) * w_fp div _w_tot")
        .cast("long")
        .alias("_budget"),
    )


def temperature_budget_sample_sql(
    table: str,
    total_budget: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    priority_col: str = "priority",
    tokens_col: str = "tokens",
) -> str:
    """DuckDB oracle for token_budget_sample(docs,
    temperature_budgets(docs, total_budget)): the one-window statement
    with the budget table COMPUTED by the same sqrt fixed-point rule. The
    budget product is taken in DECIMAL(38,0) and divided as HUGEINT:
    DuckDB's ``//`` on a DECIMAL divides in DOUBLE."""
    return f"""
      WITH src AS (SELECT * FROM {table} WHERE {tokens_col} > 0),
      per AS (
        SELECT {stratum_col},
               CAST(round(sqrt(CAST(sum({tokens_col}) AS DOUBLE)) * 1000000)
                    AS BIGINT) AS w_fp
        FROM src GROUP BY 1
      ),
      b AS (
        SELECT {stratum_col},
               CAST(CAST(CAST({int(total_budget)} AS DECIMAL(38,0)) * w_fp
                         AS HUGEINT) // (SELECT sum(w_fp) FROM per)
                    AS BIGINT) AS budget
        FROM per
      ),
      ordered AS (
        SELECT {id_col}, {stratum_col}, {tokens_col},
               CAST(sum({tokens_col}) OVER (
                 PARTITION BY {stratum_col}
                 ORDER BY {priority_col} DESC, {id_col} ASC
                 ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens
        FROM src
      )
      SELECT o.{id_col}, o.{stratum_col}, o.{tokens_col}, o.cum_tokens
      FROM ordered o JOIN b ON o.{stratum_col} = b.{stratum_col}
      WHERE o.cum_tokens <= b.budget
    """
