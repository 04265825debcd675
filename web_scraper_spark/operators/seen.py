"""Partition-sharded URL-seen set: bucket-pure seen table + per-shard bloom.

Reference semantics being reproduced (clean-room):
- ``is_visited``        — SISMEMBER visited_urls (redis_helper.c:210-227)
- ``mark_visited_bulk`` — MULTI/SADD/EXEC batch    (redis_helper.c:229-262)
- seen-gating both before enqueue (extract_hrefs.c:139-143) and before
  fetch (url_processor.c:46)

Spark design (SURVEY.md §2.4 M1):
- authoritative: ``seen(url_sha1, shard)`` table, sharded by a *stable*
  function of the sha1 itself (urlops.shard_expr — not Spark's hash, so
  shard assignment survives restarts / different clusters) and committed
  bucket-pure (Catalog.stage_append_cow / stage_cow), so every file holds
  one shard's keys;
- accelerator: one bloom per shard (sketches.py), stored with its key
  count as a ``(shard, bloom, n)`` row of the ``seen_sketch`` checkpoint
  table and kept up by ONE shard-local fold (update_sketches_autoscale),
  which also rebuilds a shard whose bloom overflows;
- membership (filter_unseen) is ONE path: a shard-cogrouped probe that
  short-circuits the bloom's definite negatives and verifies only the
  "maybe" rows against that shard's seen files (an Arrow is_in over one
  shard's keys). The seen table is never planned as a join side.
- deletes (cache_clear_url, cache.c:300-320 — api.clear_url) rewrite
  ``seen`` without the key; the bloom cannot delete and simply goes
  stale-conservative, which only costs spurious "maybe"s, never wrong
  answers.

Correctness NEVER depends on a sketch: every "maybe" is verified against
the seen files; a bloom miss is a proof of absence (no false negatives).
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sketches import Bloom

DEFAULT_SHARD_CAPACITY = 1 << 17  # keys per shard before sketch rebuild


# --------------------------------------------------------------------------
# the shard side: sketch row + seen-file paths, one cogroup input
# --------------------------------------------------------------------------


def _shard_side(
    spark: SparkSession,
    sketch_df: DataFrame | None,
    bucket_files: dict[str, list[str]] | None,
) -> DataFrame:
    """(shard, bloom, n, _paths): the side both shard cogroups read.

    Up to two rows per shard — (shard, bloom, n, null) from the sketch
    table and (shard, null, null, paths) from the seen table's manifest
    (Catalog.bucket_files) — concatenated with a zero-shuffle union; the
    cogroup's exchange-by-shard brings a shard's rows together. The
    per-shard paths ride as data rows (control metadata as data), so each
    task deserializes only ITS shard's path list — nothing shard-global
    ships in the task closure (at 4096 shards x many files the full dict
    was real per-task serialization weight, r3 verdict "what's wrong" #5).
    The paths side (and the empty sketch when there is no sketch table) is
    a LocalRelation built through schemas.local_frame: the optimizer folds
    the null-padding projection into it, no Python worker reads it, and
    its scan still hands each task only its own slice of the rows. Sketch
    columns are selected by name, so a sketch table carrying extra columns
    reads the same.
    """
    if sketch_df is None:
        sketch_df = schemas.local_frame(spark, [], schemas.SEEN_SKETCH)
    paths_rows = [(int(k), list(map(str, v))) for k, v in (bucket_files or {}).items()]
    paths_df = schemas.local_frame(spark, paths_rows, "shard int, _paths array<string>")
    return sketch_df.select(
        "shard", "bloom", "n", F.lit(None).cast("array<string>").alias("_paths")
    ).unionByName(
        paths_df.select(
            "shard",
            F.lit(None).cast("binary").alias("bloom"),
            F.lit(None).cast("long").alias("n"),
            "_paths",
        )
    )


def _cell(side_pdf: pd.DataFrame, col: str):
    """The shard's one non-null `col` cell among its side rows, or None."""
    cells = side_pdf[col].dropna()
    return cells.iloc[0] if len(cells) else None


def _sketch_row(shard: int, bloom: bytes, n: int) -> pd.DataFrame:
    return pd.DataFrame({"shard": [shard], "bloom": [bloom], "n": [n]})


def _seen_keys(paths) -> pa.Array:
    """url_sha1 of one shard's seen files, read directly with pyarrow
    (bucket-pure files: they hold only that shard's keys)."""
    if paths is None or len(paths) == 0:
        return pa.array([], type=pa.string())
    tables = [pq.read_table(p, columns=["url_sha1"]) for p in paths]
    return pa.concat_tables(tables).column("url_sha1").combine_chunks()


# --------------------------------------------------------------------------
# membership / dedup
# --------------------------------------------------------------------------


def tag_maybe_seen(candidates: DataFrame, sketch_df: DataFrame | None) -> DataFrame:
    """Add ``maybe_seen:boolean`` by probing the sketch TABLE executor-side.

    False ⇒ certainly NOT in the seen set (bloom has no false negatives);
    True ⇒ maybe seen (filter_unseen verifies those rows against the
    shard's files). filter_unseen probes the bloom inside its own task;
    this standalone tag exists for measurement — perfbench's tracer
    computes ``seen.bloom_maybe_share`` with it. Shard with no sketch
    row ⇒ shard never written ⇒ False (shard ids are a stable function of
    the sha1 and num_shards is pinned in the snapshot metadata, so a
    missing row really means empty).

    Shape: shard-cogrouped applyInPandas — each task loads ONE shard's
    bloom (a few MB) next to that shard's candidate slice. The sketches
    never leave the executors; nothing is collected or rebroadcast per
    generation (the round-1 driver collect was >10 GB at 10^10 keys). The
    candidate shuffle is by `shard`, the same key family the seen table is
    bucketed by.
    """
    if sketch_df is None:
        return candidates.withColumn("maybe_seen", F.lit(False))

    # build a fresh StructType — StructType.add would mutate the DataFrame's
    # cached schema object and desync it from the JVM plan
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cols = [f.name for f in candidates.schema.fields]

    def probe(key: tuple, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        cand_pdf = cand_pdf[cols].copy()
        if cand_pdf.empty or sk_pdf.empty:
            cand_pdf["maybe_seen"] = False
            return cand_pdf
        b = Bloom.from_bytes(bytes(sk_pdf["bloom"].iloc[0]))
        cand_pdf["maybe_seen"] = b.contains_many(cand_pdf["url_sha1"].to_numpy())
        return cand_pdf

    return (
        candidates.groupBy("shard")
        .cogroup(sketch_df.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame | None,
    sketch_df: DataFrame | None = None,
    bucket_files: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Rows of `candidates` (url_sha1 + shard columns) whose url_sha1 is
    NOT in the bucket-pure seen table.

    `bucket_files` is that table's lineage (Catalog.bucket_files); it is
    what the check reads. `seen` is the committed table itself: with no
    lineage, a missing table means nothing is seen yet and `candidates`
    is returned as is, while a table without lineage is refused — the
    engine commits seen bucket-pure only.

    ONE shard-cogrouped applyInPandas fuses the whole membership check:
    each task holds one shard's candidate slice next to that shard's
    sketch row, probes the bloom, and — only for bloom-"maybe" rows —
    opens THAT SHARD's parquet files directly (pyarrow, manifest paths
    from Catalog.bucket_files) and verifies membership with an Arrow
    is_in. The reference analog is the O(1) Redis SISMEMBER
    (redis_helper.c:210-227).

    Scale shape:
    - the seen table is NEVER shuffled, sorted, or even planned as a join
      build side — per generation it costs sequential columnar I/O on the
      shards that have bloom-maybe candidates, and ZERO on every other
      shard (a shard with no maybe rows never opens a file; one whose
      sketch row is absent was never written, so it is skipped too);
    - the only exchange is the candidates-by-shard shuffle the sketch
      probe already paid — the exact check now rides in the same task;
    - per-shard file counts are bounded by the compaction cadence
      (stage_append_cow ≈ 1 file/touched shard/generation, rewritten
      every compact_every generations);
    - the per-shard manifest paths ride the COGROUP SIDE (_shard_side)
      as data rows next to the sketch rows: a zero-shuffle union, so the
      cogroup's one exchange is the only shuffle of the sketch table (a
      full_outer join of the two per call cost an extra shuffle+sort).

    Correctness never depends on a sketch: with sketch_df=None every row
    is treated as "maybe" and verified against the files.
    """
    if bucket_files is None:
        if seen is None:
            return candidates
        raise ValueError(
            "seen table has no bucket lineage: filter_unseen needs "
            "bucket_files (Catalog.bucket_files of the committed table)"
        )
    from pyspark.sql import types as T

    have_sketch = sketch_df is not None
    # fresh StructType — StructType.add would mutate the cached schema
    out_schema = T.StructType(list(candidates.schema.fields))
    cols = [f.name for f in candidates.schema.fields]
    side = _shard_side(candidates.sparkSession, sketch_df, bucket_files)

    def probe(key: tuple, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cand = cand_pdf[cols]
        if cand.empty:
            return cand
        if sk_pdf.empty:
            # shard never written (no sketch row AND no files) -> all new
            return cand
        bloom_cell = _cell(sk_pdf, "bloom")
        if have_sketch:
            if bloom_cell is None:
                # sketch exists for the table but this shard was never
                # inserted -> certainly new (matches the sketch's contract)
                return cand
            b = Bloom.from_bytes(bytes(bloom_cell))
            maybe = b.contains_many(cand["url_sha1"].to_numpy())
        else:
            maybe = np.ones(len(cand), dtype=bool)
        if not maybe.any():
            return cand
        paths = _cell(sk_pdf, "_paths")
        if paths is None or len(paths) == 0:
            return cand
        in_seen = (
            pc.is_in(
                pa.array(cand["url_sha1"].to_numpy(), type=pa.string()),
                value_set=_seen_keys(paths),
            )
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )
        return cand[~(maybe & in_seen)]

    return (
        candidates.groupBy("shard")
        .cogroup(side.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


# --------------------------------------------------------------------------
# sketch maintenance
# --------------------------------------------------------------------------


def update_sketches_autoscale(
    spark: SparkSession,
    sketch_df: DataFrame | None,
    new_keys: DataFrame,
    bucket_files: dict[str, list[str]] | None,
    capacity: int = DEFAULT_SHARD_CAPACITY,
    fpp: float = 0.01,
) -> DataFrame:
    """Fold new keys into the per-shard sketch TABLE, rebuilding any shard
    whose bloom would overflow; returns the full new sketch table.

    ONE shard-cogrouped applyInPandas over (new_keys, _shard_side): each
    task holds one shard's key delta next to that shard's (bloom, n) row
    and seen-file paths (`bucket_files`, the seen table's lineage BEFORE
    the delta is appended). Per shard:
    - untouched: the row is carried forward byte-identically;
    - n + adds within the bloom's design capacity
      (n_bits·ln²2/ln(1/fpp); a shard with no row starts from
      Bloom.for_capacity(capacity, fpp)): the keys are added;
    - otherwise the bloom would overflow — fpp → 1, every candidate
      becomes "maybe" and the membership check reads every touched
      shard's files, with no error. The task reads THAT shard's seen
      files (bucket-pure, so nothing else) and rebuilds the bloom at
      ≥2× over their unique union with the delta, like build_sketches.

    Planning it starts no Spark job: nothing is collected to or broadcast
    from the driver, and the sketch bytes never leave the executors.
    """
    cap, f = capacity, fpp
    design_factor = (math.log(2) ** 2) / math.log(1.0 / fpp)

    def fold(key: tuple, ch_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        bloom_cell = _cell(sk_pdf, "bloom")
        if ch_pdf.empty:
            # untouched shard: carry its row forward byte-identically
            if bloom_cell is None:
                return sk_pdf.iloc[0:0][["shard", "bloom", "n"]]
            return _sketch_row(shard, bytes(bloom_cell), int(_cell(sk_pdf, "n")))
        adds = ch_pdf["url_sha1"].to_numpy()
        if bloom_cell is None:
            bloom, n = Bloom.for_capacity(cap, f), 0
        else:
            bloom, n = Bloom.from_bytes(bytes(bloom_cell)), int(_cell(sk_pdf, "n"))
        if n + len(adds) <= bloom.n_bits * design_factor:
            bloom.add_many(adds)
            return _sketch_row(shard, bloom.to_bytes(), n + len(adds))
        keys = pc.unique(pa.concat_arrays([
            _seen_keys(_cell(sk_pdf, "_paths")), pa.array(adds, type=pa.string()),
        ])).to_numpy(zero_copy_only=False)
        bloom = Bloom.for_capacity(max(cap, 2 * len(keys)), f)
        bloom.add_many(keys)
        return _sketch_row(shard, bloom.to_bytes(), len(keys))

    return (
        new_keys.select("url_sha1", "shard").groupBy("shard")
        .cogroup(_shard_side(spark, sketch_df, bucket_files).groupBy("shard"))
        .applyInPandas(fold, schema=schemas.SEEN_SKETCH)
    )


def build_sketches(
    seen: DataFrame,
    capacity: int = DEFAULT_SHARD_CAPACITY,
    fpp: float = 0.01,
) -> DataFrame:
    """Full build of every shard's sketch from the authoritative table
    (bootstrap; the crawl's overflow rebuild happens inside
    update_sketches_autoscale's task, by the same sizing rule)."""
    cap, f = capacity, fpp

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["url_sha1"].to_numpy()
        bloom = Bloom.for_capacity(max(cap, 2 * len(keys)), f)
        bloom.add_many(keys)
        return _sketch_row(int(key[0]), bloom.to_bytes(), len(keys))

    return seen.groupBy("shard").applyInPandas(build, schema=schemas.SEEN_SKETCH)
