"""Training-shard emission — the LAST step of a curation pipeline.

A curated corpus is consumed by a trainer as N reproducible shards in a
pseudorandom global order: every data loader assumes (a) documents land in
a shard by a deterministic hash (so re-runs and incremental refreshes
agree), (b) the within-shard order is a seeded shuffle (so sequential
reads are sample-random), and (c) a manifest states per-shard row/token
counts + a content checksum (so a resumed or re-sharded run can be
verified without re-reading the data). The reference stops at per-page
storage (db_manager.c pages upsert); this is the corpus-level hand-off to
training.

Portability: shard assignment and shuffle order use the repo's 60-bit md5
scheme (textanalysis.md5_60_expr) so DuckDB states the identical mapping —
xxhash64/murmur would be faster per byte but engine-private, and the whole
point of the shard contract is that ANY engine can recompute it.

100 TB shape: one hash-partition shuffle into exactly n_shards write
partitions, one sort WITHIN each partition (Spark's per-partition external
sort — spills, never driver-bound), and the position index is a window
PARTITIONED BY shard — each window task processes exactly one shard, the
same unit a writer emits as one file group, so the window adds no extra
shuffle beyond the writer's own repartition. Shard count is the knob that
bounds per-task memory: size n_shards so corpus/n_shards fits one task
(the usual ~1 GB rule), exactly as a real loader wants its shards sized.
The manifest is a partial-aggregable groupBy(shard) — counts, token sums,
and an order-insensitive modular checksum all combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_scraper_spark.functions.textanalysis import md5_60_expr, md5_60_sql

# order-insensitive content checksum: sum of per-doc 60-bit hashes reduced
# mod a prime, so the aggregate commutes (partial-aggregable) and the
# running sum stays far from int64 overflow for any plausible shard size
# (1e9-bounded terms: ~9e9 docs per shard before overflow)
_CKSUM_MOD = 1_000_000_007


def shard_assign(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic shard + shuffle key per document.

    shard = md5_60(salt || ':' || id) mod n_shards — a seeded hash split,
    NOT round-robin or monotonic ranges: hash placement keeps every shard
    statistically identical (no time/source skew between shards) and is
    stable under corpus growth of the other documents. shuffle_key =
    md5_60((salt+1) || ':' || id) — an independent 60-bit draw that
    defines the within-shard pseudorandom order. Changing `salt` re-deals
    both, the per-epoch reshuffle a trainer wants.

    Returns docs + (shard int, shuffle_key long); pure codegen exprs on
    the scan, no shuffle here."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    sid = F.col(id_col).cast("string")
    shard = md5_60_expr(F.concat(F.lit(f"{salt}:"), sid)) % n_shards
    key = md5_60_expr(F.concat(F.lit(f"{salt + 1}:"), sid))
    return docs.withColumn("shard", shard.cast("int")).withColumn(
        "shuffle_key", key
    )


def shard_positions(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """(id, shard, shard_pos): the full loader contract — which shard each
    document lands in and its 0-based position in that shard's seeded
    shuffle order (shuffle_key ASC, id ASC tie-break; md5 collisions are
    possible in 60 bits, so the tie-break keeps the order total).

    The window is partitioned by shard — one task per shard, the writer's
    own unit of work — so this costs exactly the shuffle+sort the shard
    writer pays anyway, no more."""
    assigned = shard_assign(docs, n_shards, id_col=id_col, salt=salt)
    w = Window.partitionBy("shard").orderBy(F.col("shuffle_key"), F.col(id_col))
    return assigned.select(
        id_col,
        "shard",
        (F.row_number().over(w) - F.lit(1)).alias("shard_pos"),
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    salt: int = 0,
) -> DataFrame:
    """Per-shard manifest: (shard, n_docs, n_tokens, content_ck).

    content_ck is the order-insensitive modular checksum of
    md5_60(id || ':' || text) over the shard's documents — verifying a
    shard needs only a re-scan of that shard, and the aggregate combines
    map-side (sum of bounded terms mod a prime). tokens_col=None counts
    tokens with the repo tokenizer expr; pass a column name to reuse
    precomputed counts."""
    from web_scraper_spark.functions.textanalysis import token_count_expr

    assigned = shard_assign(docs, n_shards, id_col=id_col, salt=salt)
    ntok = (
        F.col(tokens_col).cast("long")
        if tokens_col
        else token_count_expr(F.col(text_col)).cast("long")
    )
    term = (
        md5_60_expr(
            F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))
        )
        % _CKSUM_MOD
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
        (F.sum(term) % _CKSUM_MOD).alias("content_ck"),
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: int = 0,
) -> DataFrame:
    """Materialize the shards: one hash repartition into n_shards write
    partitions, per-partition sort by the seeded shuffle order, parquet
    partitioned by shard/ (a loader opens shard=K/ and reads rows already
    in epoch order). Returns the manifest frame for the caller to commit
    alongside (it re-scans the input, not the written files — callers
    verifying the write read the manifest back against the output, which
    tests/test_sharding.py pins)."""
    assigned = shard_assign(docs, n_shards, id_col=id_col, salt=salt)
    (
        assigned.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(
        docs, n_shards, id_col=id_col, text_col=text_col, salt=salt
    )


def shard_positions_sql(
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
    table: str = "documents",
) -> str:
    """DuckDB twin of shard_positions — the one-window statement."""
    sid = f"CAST({id_col} AS VARCHAR)"
    shard_arg = f"'{salt}:' || {sid}"
    shard = f"({md5_60_sql(shard_arg)} % {n_shards})"
    key = md5_60_sql(f"'{salt + 1}:' || {sid}")
    return f"""
        SELECT {id_col}, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                       ORDER BY shuffle_key, {id_col}) - 1
                    AS INTEGER) AS shard_pos
        FROM (SELECT {id_col},
                     CAST({shard} AS INT) AS shard,
                     {key} AS shuffle_key
              FROM {table})
    """


def shard_manifest_sql(
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_sql: str | None = None,
    salt: int = 0,
    table: str = "documents",
) -> str:
    """DuckDB twin of shard_manifest."""
    from web_scraper_spark.functions.textanalysis import token_count_sql

    sid = f"CAST({id_col} AS VARCHAR)"
    shard_arg = f"'{salt}:' || {sid}"
    shard = f"({md5_60_sql(shard_arg)} % {n_shards})"
    ntok = tokens_sql or token_count_sql(text_col)
    term_arg = f"{sid} || ':' || {text_col}"
    term = f"({md5_60_sql(term_arg)} % {_CKSUM_MOD})"
    return f"""
        SELECT CAST({shard} AS INT) AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST({ntok} AS BIGINT)) AS BIGINT) AS n_tokens,
               CAST(SUM({term}) % {_CKSUM_MOD} AS BIGINT) AS content_ck
        FROM {table}
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# deterministic corpus splits (train/val/test) and O(delta) shard refresh
# ---------------------------------------------------------------------------

_SPLIT_PPM = 1_000_000  # split fractions quantized to parts-per-million


def _split_cuts(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper cut in ppm) in insertion order; integer-exact
    so Spark and the SQL twin state the identical boundary. The last split
    absorbs rounding residue (cuts end exactly at 1e6)."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    cuts: list[tuple[str, int]] = []
    acc = 0
    names = list(fractions)
    for i, name in enumerate(names):
        acc = _SPLIT_PPM if i == len(names) - 1 else acc + round(
            fractions[name] * _SPLIT_PPM
        )
        cuts.append((name, acc))
    return cuts


def split_assign(
    docs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic train/val/test split: split = the first named range
    whose ppm cut exceeds md5_60(salt || ':split:' || id) % 1e6 — a fresh
    uniform draw independent of shard placement and shuffle order (its own
    domain-separation tag), so splitting and sharding compose freely.

    Hash splits are what a pipeline needs at 100 TB: membership is a pure
    codegen expr on the scan (no global sort/count to cut exact quantiles),
    stable under corpus growth (a doc never migrates between splits when
    OTHER docs arrive — the property that keeps eval sets uncontaminated
    across refreshes), and re-derivable by any engine. Exact-count splits
    would need a total order; nothing downstream wants one.

    Returns docs + (split string, split_u int — the ppm draw, kept so a
    reader can audit the boundary)."""
    u = (
        md5_60_expr(
            F.concat(F.lit(f"{salt}:split:"), F.col(id_col).cast("string"))
        )
        % _SPLIT_PPM
    )
    expr = None
    for name, cut in reversed(_split_cuts(fractions)):
        expr = (
            F.lit(name)
            if expr is None
            else F.when(u < F.lit(cut), F.lit(name)).otherwise(expr)
        )
    # reversed() makes the FIRST matching cut win: each outer when() tests
    # a smaller cut, falling through to the larger-range expr built so far
    return docs.withColumn("split", expr).withColumn(
        "split_u", u.cast("int")
    )


def split_assign_sql(
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: int = 0,
    table: str = "documents",
) -> str:
    """DuckDB twin of split_assign."""
    arg = f"'{salt}:split:' || CAST({id_col} AS VARCHAR)"
    u = f"({md5_60_sql(arg)} % {_SPLIT_PPM})"
    cuts = _split_cuts(fractions)
    branches = " ".join(
        f"WHEN split_u < {cut} THEN '{name}'" for name, cut in cuts[:-1]
    )
    fallback = cuts[-1][0]
    case = f"CASE {branches} ELSE '{fallback}' END" if branches else f"'{fallback}'"
    return f"""
        SELECT * EXCLUDE (split_u), {case} AS split, split_u
        FROM (SELECT *, CAST({u} AS INT) AS split_u FROM {table})
    """


def append_training_shards(
    docs_delta: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: int = 0,
) -> DataFrame:
    """O(delta) shard refresh: hash placement is stable, so new documents
    land in their shards as APPENDED per-shard files — the existing corpus
    is never rewritten or even read. Each appended file is itself sorted in
    the delta's epoch order; a loader treats shard=K/ as an ordered list of
    ordered segments (exactly how streaming-append training data is
    consumed). Returns the DELTA manifest — combine with the standing one
    via merge_manifests (checksums/counts add mod p), so maintaining the
    manifest is O(delta) too: the incremental-dedup contract
    (dedupops.dedup_keep_ids_incremental) applied to the hand-off step."""
    assigned = shard_assign(docs_delta, n_shards, id_col=id_col, salt=salt)
    (
        assigned.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        .write.mode("append")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(
        docs_delta, n_shards, id_col=id_col, text_col=text_col, salt=salt
    )


def merge_manifests(standing: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta manifest into the standing one without touching data:
    counts and token sums add; the modular checksum adds mod p (the whole
    point of choosing an order-insensitive commutative checksum). Full
    outer union handles shards the delta didn't touch and (first write)
    shards with no standing row."""
    u = standing.unionByName(delta)
    return u.groupBy("shard").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.sum("content_ck") % _CKSUM_MOD).alias("content_ck"),
    )


# ---------------------------------------------------------------------------
# multimodal (image+caption) shard manifest — byte-budget accounting
# ---------------------------------------------------------------------------


def pair_shard_manifest(
    pairs: DataFrame,
    n_shards: int,
    id_col: str = "image_id",
    caption_col: str = "caption",
    bytes_col: str = "bytes",
    salt: int = 0,
) -> DataFrame:
    """Per-shard manifest for an image+caption pair corpus:
    (shard, n_pairs, n_caption_tokens, n_image_bytes, content_ck).

    The text manifest's contract (shard_manifest) extended with the
    accounting a MULTIMODAL loader sizes its prefetch and storage budget
    by — the image payload's byte sum per shard. content_ck covers
    (id ':' caption) exactly like the text manifest, so caption bytes are
    verifiable per shard without re-reading pixels; the pixel payload is
    accounted (octet_length) but not hashed here — per-image byte
    integrity is already pinned row-wise by the bytes_md5 oracles of the
    resize/augment family.

    Same 100 TB shape as shard_manifest: one partial-aggregable
    groupBy(shard); octet_length is metadata-free codegen on the binary
    cell (no decode, no Python)."""
    from web_scraper_spark.functions.textanalysis import token_count_expr

    assigned = shard_assign(pairs, n_shards, id_col=id_col, salt=salt)
    term = (
        md5_60_expr(
            F.concat(
                F.col(id_col).cast("string"), F.lit(":"), F.col(caption_col)
            )
        )
        % _CKSUM_MOD
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(token_count_expr(F.col(caption_col)).cast("long")).alias(
            "n_caption_tokens"
        ),
        F.sum(F.octet_length(F.col(bytes_col)).cast("long")).alias(
            "n_image_bytes"
        ),
        (F.sum(term) % _CKSUM_MOD).alias("content_ck"),
    )


def pair_shard_manifest_sql(
    n_shards: int,
    id_col: str = "image_id",
    caption_col: str = "caption",
    bytes_len_sql: str = "octet_length(bytes)",
    salt: int = 0,
    table: str = "pairs",
) -> str:
    """DuckDB twin of pair_shard_manifest. ``bytes_len_sql`` lets the
    oracle substitute a precomputed length column when the literal table
    carries sizes instead of binary cells."""
    from web_scraper_spark.functions.textanalysis import token_count_sql

    sid = f"CAST({id_col} AS VARCHAR)"
    shard_arg = f"'{salt}:' || {sid}"
    shard = f"({md5_60_sql(shard_arg)} % {n_shards})"
    ntok = token_count_sql(caption_col)
    term_arg = f"{sid} || ':' || {caption_col}"
    term = f"({md5_60_sql(term_arg)} % {_CKSUM_MOD})"
    return f"""
        SELECT CAST({shard} AS INT) AS shard,
               COUNT(*) AS n_pairs,
               CAST(SUM(CAST({ntok} AS BIGINT)) AS BIGINT) AS n_caption_tokens,
               CAST(SUM(CAST({bytes_len_sql} AS BIGINT)) AS BIGINT) AS n_image_bytes,
               CAST(SUM({term}) % {_CKSUM_MOD} AS BIGINT) AS content_ck
        FROM {table}
        GROUP BY 1
    """
