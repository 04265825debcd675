"""Streaming corpus curation: continuous-ingest quality gate + scrub.

The streaming twin of the batch ``curation.curate_corpus`` composite —
documents arrive as a file stream and flow through the SAME per-row
kernels as the batch pipeline, then into the exact-dedup state of
``dedup_stream``:

1. score + filter — ``curation.rule_filter``, the one definition of the
   quality / repetition rule the batch op also calls (pure JVM codegen on
   the stream; a doc passes streaming iff it passes batch);
2. decontaminate — the eval set is STATIC and tiny by contract (the
   batch op broadcasts it; here its distinct 8-token-gram md5-60 hash set
   is collected ONCE at query build and embedded as an array literal),
   so the per-row decision is ``arrays_overlap(doc_gram_hashes,
   eval_hashes)`` — no stream-side aggregation, no state;
3. PII mask — JVM regexp_replace on survivors only;
4. exact dedup — the 60-bit content fingerprint keys a dropDuplicates
   state store exactly as dedup_documents_stream (keep-FIRST arrival
   order; optional ttl bounds state via dropDuplicatesWithinWatermark).

What is deliberately NOT here, and why:

- near-dup (simhash) keep-set: needs a pairwise-within-corpus decision —
  batch's banded self-join has no bounded-state streaming equivalent;
  run the batch keep-set over the sink periodically (the incremental
  contract: dedupops.dedup_keep_ids_incremental over a dedup_index of
  everything already kept).
- token-budget selection: a GLOBAL per-stratum running order over the
  whole corpus contradicts continuous ingest — budgets are a batch
  decision over a closed snapshot (operators/sampling.py).

Scale shape: everything per-row until the dropDuplicates state exchange
(hash on fingerprint — the one shuffle, same key as batch); the eval
literal is O(eval grams) bytes in the plan, bounded by the eval-set
contract, never corpus-sized.

Decontamination mask semantics match the batch op: a doc sharing ANY
n-gram with the eval set is dropped (contamination() flags on count>0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.curation import pii_mask_expr, rule_filter, token_ngrams_expr
from ..functions.textanalysis import md5_60_expr
from .dedup_stream import DOCS_STREAM_SCHEMA


# what curate_documents_stream's sink emits — the ingest schema of the
# next stage (streaming/shard_stream.py reads it with text_col=
# "masked_text"), so crawl-side curation chains into training-shard
# emission without a batch hand-off
CURATED_STREAM_SCHEMA = (
    "doc_id long, masked_text string, quality double, "
    "n_tokens long, fp long, event_time double"
)


def eval_gram_hashes(eval_docs: DataFrame, n: int = 8) -> list[int]:
    """The eval set reduced to its distinct n-gram md5-60 hashes — the
    static side of streaming decontamination. Eval sets are small by
    contract (thousands of items); the collect is O(eval grams), the
    same bound as the batch op's broadcast."""
    return [
        r["g"]
        for r in eval_docs.select(
            F.explode(token_ngrams_expr(F.col("text"), n)).alias("g")
        )
        .select(md5_60_expr(F.col("g")).alias("g"))
        .distinct()
        .collect()
    ]


def curate_documents_stream(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    eval_docs: DataFrame | None = None,
    *,
    quality_min: float = 0.9,
    dup_frac_max: float = 0.55,
    ngram_n: int = 8,
    ttl: float | None = None,
):
    """Start the curation stream (availableNow trigger: drains everything
    currently in docs_dir then stops; call again after dropping more
    files to continue against the same checkpoint — state, and therefore
    the cross-batch keep-FIRST contract, lives in the checkpoint).
    Returns the StreamingQuery.

    Sink rows: (doc_id, masked_text, quality, n_tokens, fp, event_time)
    — one per KEPT document.
    """
    src = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    scored = rule_filter(
        src.select("doc_id", "text", "event_time"),
        "text", quality_min, dup_frac_max,
    )
    if eval_docs is not None:
        ev = eval_gram_hashes(eval_docs, ngram_n)
        doc_grams = F.transform(
            token_ngrams_expr(F.col("text"), ngram_n), md5_60_expr
        )
        scored = scored.filter(
            ~F.arrays_overlap(
                doc_grams, F.lit(ev).cast("array<long>")
            )
        )
    fp = scored.withColumn("fp", md5_60_expr(F.col("text")))
    if ttl is None:
        kept = fp.dropDuplicates(["fp"])
    else:
        kept = (
            fp.withColumn("event_ts", F.timestamp_seconds(F.col("event_time")))
            .withWatermark("event_ts", f"{int(float(ttl) * 1000)} milliseconds")
            .dropDuplicatesWithinWatermark(["fp"])
            .drop("event_ts")
        )
    return (
        kept.select(
            "doc_id",
            pii_mask_expr(F.col("text")).alias("masked_text"),
            "quality",
            "n_tokens",
            "fp",
            "event_time",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
