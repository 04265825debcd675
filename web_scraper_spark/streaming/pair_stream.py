"""Streaming image+caption pair curation: the image twin of
``curation_stream.curate_documents_stream`` — the north-rule data shape
(image_id, bytes, w, h, fmt, caption, phash) arriving as a continuous
file stream and flowing through the SAME gates as the batch
``pairs.pair_corpus_clean(min_sharp_milli=..., min_ent_milli=...)``
composite:

1. ``pairs.gate_pairs`` — the one definition of the pair gates, called
   here with the stream's thresholds: geometry + caption-token filters,
   the optional safety / language / alignment gates, then the
   decode-side quality gate (``imageops.quality_struct_udf`` inline:
   stateless Arrow UDF, pixels decoded ONLY for metadata-gate survivors,
   never buffered in state). A pair passes streaming iff it passes
   batch;
2. exact dedup — two chained dropDuplicates state stores: per ``phash``
   (byte-identical / re-encoded-identical image re-posts) then per
   caption fingerprint (boilerplate caption re-use). Keep-FIRST holds
   ACROSS micro-batches (state always beats later arrivals); within one
   micro-batch each key keeps one arbitrary representative (Spark
   dropDuplicates semantics). Optional ttl bounds both states via
   dropDuplicatesWithinWatermark.

What is deliberately NOT here, and why (same boundary as the docs
stage): NEAR-dup pruning (phash hamming 1..3, caption simhash) needs a
pairwise-within-corpus banded self-join with no bounded-state streaming
equivalent — run the batch keep-set periodically over the sink (the
incremental contract: pairs.neardup_image_ids over everything kept).

Scale shape: the gates are per-row (no exchange); the two dedup states
hash-partition on phash / caption fp — the same keys the batch op
shuffles on — and each holds one 8-byte key per distinct image/caption
ever kept (ttl bounds it for unbounded runs). Only the sink columns and
the caption fingerprint reach the stateful exchange: no pixel payload,
embedding or per-gate stat rides in state or shuffle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.textanalysis import md5_60_expr
from ..operators.pairs import gate_pairs

# ingest schema: the input_hint pair table + event_time for ttl'd runs
PAIRS_STREAM_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, event_time double"
)

# ingest schema when an upstream inference stage attached embeddings —
# required iff min_alignment is set (the CLIP-score gate)
PAIRS_EMB_STREAM_SCHEMA = (
    PAIRS_STREAM_SCHEMA
    + ", image_emb array<double>, caption_emb array<double>"
)

# what the sink emits — batch pair_corpus_clean_quality's columns plus
# event_time, so periodic batch near-dup passes read it directly
CURATED_PAIRS_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, "
    "phash long, n_pixels long, aspect double, caption_tokens int, "
    "sharp_milli long, ent_milli long, event_time double"
)
_SINK_COLS = [c.split()[0] for c in CURATED_PAIRS_SCHEMA.split(", ")]


def curate_pairs_stream(
    spark: SparkSession,
    pairs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    min_pixels: int = 1024,
    max_aspect: float = 4.0,
    min_caption_tokens: int = 4,
    min_sharp_milli: int = 2_000_000,
    min_ent_milli: int = 4_000,
    min_alignment: float | None = None,
    allowed_langs: tuple[str, ...] | None = None,
    max_banned_frac: float | None = None,
    ttl: float | None = None,
):
    """Start the pair-curation stream (availableNow trigger: drains
    everything currently in pairs_dir then stops; call again after
    dropping more files to continue against the same checkpoint — the
    keep-FIRST dedup contract lives in the checkpoint state).
    Returns the StreamingQuery. Sink rows: CURATED_PAIRS_SCHEMA, one per
    KEPT pair.

    Every gate is ``pairs.gate_pairs``, so each threshold means what it
    means in batch. The quality gate is always on here. With
    ``min_alignment`` set, the source must carry the
    PAIRS_EMB_STREAM_SCHEMA embedding columns; the alignment, language
    (``allowed_langs``) and safety (``max_banned_frac``) gates are
    codegen filters, so like the metadata gates they add no state store
    and no exchange, and a gated-out pair leaves no trace in the dedup
    state."""
    schema = (
        PAIRS_EMB_STREAM_SCHEMA if min_alignment is not None
        else PAIRS_STREAM_SCHEMA
    )
    src = spark.readStream.schema(schema).parquet(pairs_dir)
    gated = gate_pairs(
        src,
        min_pixels=min_pixels,
        max_aspect=max_aspect,
        min_caption_tokens=min_caption_tokens,
        max_banned_frac=max_banned_frac,
        allowed_langs=allowed_langs,
        min_alignment=min_alignment,
        min_sharp_milli=min_sharp_milli,
        min_ent_milli=min_ent_milli,
    ).select(*_SINK_COLS, md5_60_expr(F.col("caption")).alias("_cap_fp"))
    if ttl is None:
        kept = gated.dropDuplicates(["phash"]).dropDuplicates(["_cap_fp"])
    else:
        ms = f"{int(float(ttl) * 1000)} milliseconds"
        kept = (
            gated.withColumn("event_ts", F.timestamp_seconds(F.col("event_time")))
            .withWatermark("event_ts", ms)
            .dropDuplicatesWithinWatermark(["phash"])
            .dropDuplicatesWithinWatermark(["_cap_fp"])
            .drop("event_ts")
        )
    return (
        kept.select(*_SINK_COLS)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
