"""Image+caption training-pair assembly — the graft payload end-to-end.

The reference stores one row per page image: (page_url, src, alt=caption,
width, height) via store_image_data (data_store.c:121-148). The engine's
crawl emits the same table (``page_images``); this module joins it with
the authoritative image store (BASELINE.json input_hint schema:
image_id, bytes, w, h, fmt, caption, phash) to assemble the training
pairs a multimodal corpus pipeline consumes, and prunes near-duplicate
images with the phash LSH band join (SURVEY.md §2.3 J6).

Scale shape: page_images ⋈ images is an equi-join on image_id — shuffle
hash/sort-merge, pruned to the join keys by Catalyst; the phash dedup is
a band-bucket self-join over (band, 16-bit band value) — never O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.imageops import hamming_expr, phash_band_exprs


def image_id_from_src(src):
    """Page markup references images as /img/<image_id> (synth corpus);
    production would map CDN URLs the same way."""
    return F.regexp_extract(src, r"/img/(img-\d+)$", 1)


def image_caption_pairs(page_images: DataFrame, images: DataFrame) -> DataFrame:
    """(image_id, page_url, caption, alt, caption_matches, w, h, fmt, phash).

    caption_matches is the per-row caption byte-equality invariant from the
    input_hint contract: the alt text the crawler extracted must equal the
    stored caption."""
    refs = page_images.select(
        image_id_from_src(F.col("src")).alias("image_id"),
        "page_url",
        "alt",
        F.col("width").alias("ref_w"),
        F.col("height").alias("ref_h"),
    ).filter(F.length("image_id") > 0)
    j = refs.join(images, "image_id")
    return j.select(
        "image_id",
        "page_url",
        "caption",
        "alt",
        (F.col("alt") == F.col("caption")).alias("caption_matches"),
        (F.col("ref_w") == F.col("w")).alias("dims_match"),
        "w",
        "h",
        "fmt",
        "phash",
    )


def neardup_image_pairs(
    images: DataFrame, max_hamming: int = 3, n_bands: int = 4,
    dedup: bool = True,
) -> DataFrame:
    """All near-duplicate image pairs (img_a < img_b, phash hamming <= t).
    LSH band equi-join; the pigeonhole guarantee (any pair within hamming
    t < n_bands shares a band) keeps every parametrization exact. More,
    narrower bands ⇒ more candidate fan-out per bucket; fewer, wider bands
    ⇒ more buckets (64/n_bands bits each) and sub-quadratic growth at
    10^9+ images — tune n_bands to corpus size, t stays the contract.

    dedup=False skips the pair-level dropDuplicates (a pair surviving in
    up to n_bands band copies): for consumers that re-aggregate anyway —
    the drop-set's distinct(img_b), CC's groupBy-min — the duplicates are
    absorbed by their own exchange, so the extra pair-keyed shuffle would
    be pure cost."""
    assert max_hamming < n_bands, "pigeonhole guarantee needs n_bands > max_hamming"
    assert 64 % n_bands == 0, "n_bands must divide 64"
    # both band-join sides derive from this projection: persist it or
    # Catalyst re-executes the upstream (possibly image-synthesis/decode)
    # subtree once per side. Registered so callers can release every op
    # cache with dedupops.unpersist_op_caches() between corpora (repeated
    # calls over one input still share the plan-canonical entry).
    from ..functions.dedupops import register_op_cache

    ph = register_op_cache(images.select("image_id", "phash"))
    bands = ph.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), e.alias("bv"))
                    for i, e in enumerate(phash_band_exprs(F.col("phash"), n_bands))
                ]
            )
        ).alias("bb"),
    ).select("image_id", "phash", "bb.band", "bb.bv")
    a = bands.select(F.col("image_id").alias("img_a"), F.col("phash").alias("pa"), "band", "bv")
    b = bands.select(F.col("image_id").alias("img_b"), F.col("phash").alias("pb"), "band", "bv")
    out = (
        a.join(b, ["band", "bv"])
        .filter(F.col("img_a") < F.col("img_b"))
        .filter(hamming_expr(F.col("pa"), F.col("pb")) <= max_hamming)
        .select("img_a", "img_b", hamming_expr(F.col("pa"), F.col("pb")).alias("hamming"))
    )
    return out.dropDuplicates(["img_a", "img_b"]) if dedup else out


def neardup_image_ids(
    images: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """image_ids that are near-duplicates (phash hamming <= t) of a
    lexicographically smaller id — the drop set for training dedup
    (greedy keep-first; see image_dup_clusters for the transitive
    clustering). dedup=False: the id-level distinct is the only exchange
    this derivation needs."""
    return (
        neardup_image_pairs(images, max_hamming, n_bands, dedup=False)
        .select(F.col("img_b").alias("image_id"))
        .distinct()
    )


def pair_keep_ids(
    images: DataFrame,
    max_phash_hamming: int = 3,
    caption_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """JOINT image+caption keep-set — the end product for the north-rule
    data shape (image_id, bytes, w, h, fmt, caption, phash): a pair is
    dropped when its IMAGE is a phash near-dup of a lexicographically
    smaller id (neardup_image_ids, J6) OR its CAPTION is an exact or
    simhash near-dup of a smaller id (dedupops.dedup_keep_ids applied to
    the caption column). Returns the surviving rows with every input
    column. Both prune stages are pigeonhole-exact (hamming < n_bands),
    so the whole composite is SQL-oracle-able.

    Why both axes: a multimodal training pipeline must drop re-encoded /
    lightly-retouched images EVEN when their captions differ, and
    boilerplate captions ("stock photo of ...") EVEN when the images
    differ — either alone leaks near-duplicates into the training set.

    Scale shape: one 64-bit phash band self-join + one 60-bit caption
    simhash band self-join (both bucket equi-joins, ids-only shuffles) +
    an anti-join and a semi-join on image_id. Never O(n²)."""
    from ..functions import dedupops

    img_drops = neardup_image_ids(
        images.select("image_id", "phash"), max_phash_hamming, n_bands
    )
    cap_keep = dedupops.dedup_keep_ids(
        images, max_hamming=caption_hamming, id_col="image_id",
        text_col="caption", n_bands=n_bands,
    )
    return (
        images.join(img_drops, "image_id", "left_anti")
        .join(cap_keep, "image_id", "left_semi")
    )


def gate_pairs(
    images: DataFrame,
    *,
    min_pixels: int = 1024,
    max_aspect: float = 4.0,
    min_caption_tokens: int = 4,
    max_banned_frac: float | None = None,
    allowed_langs: tuple[str, ...] | None = None,
    min_alignment: float | None = None,
    min_sharp_milli: int | None = None,
    min_ent_milli: int | None = None,
) -> DataFrame:
    """The row-local pair gates, in order: (1) image geometry (min
    decoded pixel count, max aspect ratio — the cheap metadata cut a
    pipeline runs before any pixel work) and caption token count;
    optionally (2) the caption SAFETY gate (pass ``max_banned_frac`` —
    curation.blocklist_filter's whole-token rule; ``banned_frac`` rides
    on survivors), (3) the caption-language gate (pass ``allowed_langs``
    — marker-argmax lang id, the LAION-style per-language cut;
    ``caption_lang`` rides on survivors), (4) the CLIP-score alignment
    gate (pass ``min_alignment`` and an input carrying
    ``image_emb``/``caption_emb`` array columns from an upstream
    inference stage — simsearch.pair_alignment's round-then-compare
    rule; ``alignment`` rides on survivors, the embeddings do not) and
    (5) the DECODE-side quality gate (pass ``min_sharp_milli`` and/or
    ``min_ent_milli`` and an input with a ``bytes`` column —
    imageops.quality_stats via quality_struct_udf: blurry /
    near-constant / undecodable images drop, ``sharp_milli``/
    ``ent_milli`` ride on survivors, the bytes do not).

    Every input column also rides on survivors, with (n_pixels, aspect,
    caption_tokens) added. The batch composite (pair_corpus_clean) and
    the pair stream (streaming.pair_stream) both gate through this one
    function, so a pair passes streaming iff it passes batch.

    Scale shape: gates 1-4 are JVM whole-stage-codegen expressions pushed
    onto the scan, cheapest first; gate 5 is a SCALAR Arrow UDF inline in
    the same row stream, so pixels are decoded ONLY for the survivors of
    the metadata gates. No stage adds an exchange or state."""
    from ..functions.textanalysis import token_count_expr

    scored = (
        images.withColumn("n_pixels", (F.col("w") * F.col("h")).cast("long"))
        .withColumn(
            "aspect",
            F.round(F.greatest("w", "h") / F.least("w", "h"), 6),
        )
        .withColumn(
            "caption_tokens", token_count_expr(F.col("caption")).cast("int")
        )
        .filter(
            (F.col("n_pixels") >= min_pixels)
            & (F.col("aspect") <= max_aspect)
            & (F.col("caption_tokens") >= min_caption_tokens)
        )
    )
    if max_banned_frac is not None:
        from ..functions.curation import blocklist_stats_expr

        scored = (
            scored.withColumn(
                "_bs", blocklist_stats_expr(F.col("caption"))
            )
            .filter(F.col("_bs.banned_frac") <= float(max_banned_frac))
            .withColumn("banned_frac", F.col("_bs.banned_frac"))
            .drop("_bs")
        )
    if allowed_langs is not None:
        from ..functions.textanalysis import lang_id_expr

        scored = scored.withColumn(
            "caption_lang", lang_id_expr(F.col("caption"))
        ).filter(F.col("caption_lang").isin(*[F.lit(l) for l in allowed_langs]))
    if min_alignment is not None:
        from ..functions.simsearch import cosine_expr

        a = F.round(
            cosine_expr(F.col("image_emb"), F.col("caption_emb")), 6
        )
        scored = (
            scored.withColumn("alignment", a)
            .filter(F.col("alignment") >= F.lit(float(min_alignment)))
            .drop("image_emb", "caption_emb")
        )
    if min_sharp_milli is not None or min_ent_milli is not None:
        from ..functions.imageops import quality_struct_udf

        scored = (
            scored.withColumn(
                "_q", quality_struct_udf(F.col("bytes"), F.col("fmt"))
            )
            .filter(
                F.col("_q.decode_ok")
                & (F.col("_q.sharp_milli") >= F.lit(int(min_sharp_milli or 0)))
                & (F.col("_q.ent_milli") >= F.lit(int(min_ent_milli or 0)))
            )
            .withColumn("sharp_milli", F.col("_q.sharp_milli"))
            .withColumn("ent_milli", F.col("_q.ent_milli"))
            .drop("_q", "bytes")
        )
    return scored


def pair_corpus_clean(
    images: DataFrame,
    min_pixels: int = 1024,
    max_aspect: float = 4.0,
    min_caption_tokens: int = 4,
    max_phash_hamming: int = 3,
    caption_hamming: int = 3,
    n_bands: int = 4,
    min_sharp_milli: int | None = None,
    min_ent_milli: int | None = None,
    min_alignment: float | None = None,
    allowed_langs: tuple[str, ...] | None = None,
    max_banned_frac: float | None = None,
) -> DataFrame:
    """The full multimodal training-pair pipeline as ONE composite — the
    image twin of the text side's corpus_clean: the pair gates
    (gate_pairs: geometry + caption tokens, then the optional safety,
    language, alignment and decode-quality gates, each switched on by its
    parameter), then the joint image+caption keep-set (pair_keep_ids).
    Returns each surviving pair with its scores (n_pixels, aspect,
    caption_tokens, plus the stat of every gate switched on).

    Every stage is an exact kernel with a SQL twin (pair_corpus_clean_sql),
    so the composite is value-oracled end to end. Scale shape: the gates
    add no exchange; the gated survivor frame is persisted once
    (registered) and feeds both keep-set derivations and the final join."""
    from ..functions.dedupops import register_op_cache

    scored = register_op_cache(
        gate_pairs(
            images,
            min_pixels=min_pixels,
            max_aspect=max_aspect,
            min_caption_tokens=min_caption_tokens,
            max_banned_frac=max_banned_frac,
            allowed_langs=allowed_langs,
            min_alignment=min_alignment,
            min_sharp_milli=min_sharp_milli,
            min_ent_milli=min_ent_milli,
        )
    )
    return pair_keep_ids(
        scored,
        max_phash_hamming=max_phash_hamming,
        caption_hamming=caption_hamming,
        n_bands=n_bands,
    )


def neardup_image_ids_sql(table: str, max_hamming: int = 3) -> str:
    """DuckDB twin of neardup_image_ids, stated naively (all pairs):
    the image_ids of ``table`` (image_id, phash, ...) within phash
    hamming ``max_hamming`` of a smaller id."""
    return f"""
SELECT DISTINCT b.image_id FROM {table} a JOIN {table} b
  ON a.image_id < b.image_id
 AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
"""


def pair_keep_ids_sql(
    table: str, max_phash_hamming: int = 3, caption_hamming: int = 3
) -> str:
    """DuckDB twin of pair_keep_ids: every row of ``table`` (image_id,
    phash, caption, ...) whose image is not a phash near-dup of a smaller
    id and whose caption survives dedupops.dedup_keep_ids_sql. Internal
    CTE names carry a ``pk_`` prefix, and callers must not name an outer
    CTE ``fp``/``sh``/``exact_drops``/``near_drops`` (dedup_keep_ids_sql's
    inner names): DuckDB's binder misresolves a shadowed CTE name."""
    from ..functions.dedupops import dedup_keep_ids_sql

    cap_keep = dedup_keep_ids_sql(
        max_hamming=caption_hamming, table=table,
        id_col="image_id", text_col="caption",
    )
    return f"""
WITH pk_img_drops AS ({neardup_image_ids_sql(table, max_phash_hamming)}),
pk_cap_keep AS ({cap_keep})
SELECT * FROM {table}
WHERE image_id NOT IN (SELECT image_id FROM pk_img_drops)
  AND image_id IN (SELECT image_id FROM pk_cap_keep)
"""


def pair_corpus_clean_sql(
    table: str,
    min_pixels: int = 1024,
    max_aspect: float = 4.0,
    min_caption_tokens: int = 4,
    max_phash_hamming: int = 3,
    caption_hamming: int = 3,
    min_sharp_milli: int | None = None,
    min_ent_milli: int | None = None,
    min_alignment: float | None = None,
    allowed_langs: tuple[str, ...] | None = None,
    max_banned_frac: float | None = None,
) -> str:
    """DuckDB twin of pair_corpus_clean, written from the gate rules (not
    generated from the Spark code). ``table`` carries the raw pair
    columns (image_id, w, h, fmt, caption, phash); plus sharp_milli /
    ent_milli when the quality gate is on (DuckDB cannot decode pixels:
    the caller supplies the kernel's integers, NULL for an undecodable
    image); plus image_emb / caption_emb when the alignment gate is on.
    Returns the raw pair columns, (n_pixels, aspect, caption_tokens) and
    the stat of every gate switched on."""
    from ..functions.curation import blocklist_stats_sql
    from ..functions.textanalysis import lang_id_sql, token_count_sql

    cols = [
        "image_id", "w", "h", "fmt", "caption", "phash",
        "CAST(w * h AS BIGINT) AS n_pixels",
        "round(greatest(w, h) / least(w, h), 6) AS aspect",
        f"CAST({token_count_sql('caption')} AS INTEGER) AS caption_tokens",
    ]
    where = [
        f"n_pixels >= {int(min_pixels)}",
        f"aspect <= {float(max_aspect)}",
        f"caption_tokens >= {int(min_caption_tokens)}",
    ]
    if max_banned_frac is not None:
        cols.append(f"{blocklist_stats_sql('caption')['banned_frac']} AS banned_frac")
        where.append(f"banned_frac <= {float(max_banned_frac)}")
    if allowed_langs is not None:
        cols.append(f"{lang_id_sql('caption')} AS caption_lang")
        langs = ", ".join(f"'{l}'" for l in allowed_langs)
        where.append(f"caption_lang IN ({langs})")
    if min_alignment is not None:
        cols.append(
            "round(list_cosine_similarity(image_emb, caption_emb), 6) AS alignment"
        )
        where.append(f"alignment >= {float(min_alignment)}")
    if min_sharp_milli is not None or min_ent_milli is not None:
        cols += [
            "CAST(sharp_milli AS BIGINT) AS sharp_milli",
            "CAST(ent_milli AS BIGINT) AS ent_milli",
        ]
        where.append(
            f"sharp_milli >= {int(min_sharp_milli or 0)}"
            f" AND ent_milli >= {int(min_ent_milli or 0)}"
        )
    keep = pair_keep_ids_sql("pc_gated", max_phash_hamming, caption_hamming)
    return f"""
WITH pc_scored AS (SELECT {", ".join(cols)} FROM {table}),
pc_gated AS (SELECT * FROM pc_scored WHERE {" AND ".join(where)})
SELECT * FROM ({keep})
"""


def image_dup_clusters(
    images: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Transitive near-dup clusters over images: every image labeled with
    the MIN image_id reachable through phash near-dup edges — the image
    twin of dedupops.dup_clusters, same hash-min connected-components
    core (pigeonhole-exact edges ⇒ deterministic, SQL-oracle-able)."""
    from ..functions.dedupops import connected_components

    # default dedup=True: CC persists the edge list and re-joins it every
    # round, so paying one pair-keyed exchange up front beats carrying up
    # to n_bands copies of each edge through O(diameter) rounds
    return connected_components(
        images.select("image_id"),
        neardup_image_pairs(images, max_hamming, n_bands),
        id_col="image_id",
        a_col="img_a",
        b_col="img_b",
    )


def clip_keep_ids(
    frames: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Video CLIP-level keep-set from sampled-frame evidence — the video
    twin of dedup_keep_set/image_keep_set, completing the modality family
    (text / image / image+caption pair / video): a clip is dropped when
    ANY of its sampled frames is a phash near-dup (hamming <= t) of ANY
    frame of a lexicographically SMALLER clip_id (greedy keep-first — a
    re-encoded or trimmed copy of a clip shares most sampled frames).

    frames: (clip_id, frame_idx, frame_phash) — the video_frame_sample
    output. The frame-pair detection is the same pigeonhole-exact LSH band
    equi-join as J6 (never all-pairs over frames), clip pairs collapse
    through their own distinct exchange, and the result is the surviving
    clip_id set — so the whole composite is SQL-oracle-able."""
    assert max_hamming < n_bands, "pigeonhole guarantee needs n_bands > max_hamming"
    assert 64 % n_bands == 0, "n_bands must divide 64"
    from ..functions.dedupops import register_op_cache

    ph = register_op_cache(frames.select("clip_id", "frame_phash"))
    bands = ph.select(
        "clip_id",
        "frame_phash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), e.alias("bv"))
                    for i, e in enumerate(
                        phash_band_exprs(F.col("frame_phash"), n_bands)
                    )
                ]
            )
        ).alias("bb"),
    ).select("clip_id", "frame_phash", "bb.band", "bb.bv")
    a = bands.select(
        F.col("clip_id").alias("clip_a"), F.col("frame_phash").alias("pa"), "band", "bv"
    )
    b = bands.select(
        F.col("clip_id").alias("clip_b"), F.col("frame_phash").alias("pb"), "band", "bv"
    )
    drops = (
        a.join(b, ["band", "bv"])
        .filter(F.col("clip_a") < F.col("clip_b"))
        .filter(hamming_expr(F.col("pa"), F.col("pb")) <= max_hamming)
        .select(F.col("clip_b").alias("clip_id"))
        .distinct()
    )
    return ph.select("clip_id").distinct().join(drops, "clip_id", "left_anti")


def audio_keep_ids(fps: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Audio CLIP-level keep-set — the audio member of the per-modality
    keep-set family (text / image / image+caption pair / video / audio):
    drop a clip whose envelope fingerprint (multimodal.wav_fingerprint) is
    within hamming max_hamming of a lexicographically smaller clip's.

    fps: (clip_id, afp) from multimodal.audio_fingerprints. One hash per
    clip, so this is exactly the video keep-set with a single "frame" —
    the same pigeonhole-exact LSH band equi-join, never all-pairs."""
    frames = fps.select(
        "clip_id", F.lit(0).alias("frame_idx"), F.col("afp").alias("frame_phash")
    )
    return clip_keep_ids(frames, max_hamming=max_hamming, n_bands=n_bands)


def dedup_pairs(pairs: DataFrame, images: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Training pairs minus near-duplicate images (anti-join on the LSH
    drop set) — the corpus-side twin of the URL-seen dedup."""
    return pairs.join(neardup_image_ids(images, max_hamming), "image_id", "left_anti")


def pair_index(
    pairs: DataFrame, id_col: str = "image_id", caption_col: str = "caption"
) -> DataFrame:
    """Materialized incremental-dedup index of an already-kept pair
    corpus: (id, phash, fp, sh) — the image phash plus the caption's
    60-bit fingerprint and simhash. The pair twin of dedupops.dedup_index
    (same production contract: maintain it per batch so old pixels AND
    old captions are never rescanned)."""
    from ..functions.dedupops import simhash_expr
    from ..functions.textanalysis import md5_60_expr

    return pairs.select(
        F.col(id_col).alias("id"),
        "phash",
        md5_60_expr(F.col(caption_col)).alias("fp"),
        simhash_expr(F.col(caption_col)).alias("sh"),
    )


def pair_keep_ids_incremental(
    new_pairs: DataFrame,
    old_index: DataFrame,
    max_phash_hamming: int = 3,
    caption_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """'Train on new pairs only' — the incremental joint keep-set: given
    the materialized index of everything already shipped (pair_index) and
    a NEW batch of pairs, return the new ids worth training on. A new
    pair survives iff its image is not a phash near-dup (hamming <=
    max_phash_hamming) of ANY old image nor of a smaller-id new image,
    AND its caption is not an exact/simhash near-dup of any old caption
    nor of a smaller-id new caption.

    Precedence matches the text twin (dedup_keep_ids_incremental): OLD
    ALWAYS WINS — shipped pairs cannot be untrained, so a new near-dup
    drops even when its id sorts first. Old and new id spaces must be
    disjoint (the catalog contract). When every old id < every new id
    this equals pair_keep_ids(old ∪ new) restricted to the new ids.

    Scale shape: the caption side IS the text machinery
    (dedup_keep_ids_incremental over caption, probing the (fp, sh) index
    columns); the image side is one banded phash equi-join of the new
    batch against old ∪ new — per-batch cost O(new × bands) plus
    band-bucket probes, never a rescan of old pixels, never O(n²)."""
    from ..functions.dedupops import (
        dedup_keep_ids_incremental,
        register_op_cache,
    )
    from ..functions.imageops import hamming_expr, phash_band_exprs

    assert max_phash_hamming < n_bands, "pigeonhole guarantee needs n_bands > max_hamming"
    assert 64 % n_bands == 0, "n_bands must divide 64"

    cap_keep = dedup_keep_ids_incremental(
        None,
        new_pairs,
        max_hamming=caption_hamming,
        id_col="image_id",
        text_col="caption",
        n_bands=n_bands,
        old_index=old_index.select("id", "fp", "sh"),
    )

    new_ph = register_op_cache(
        new_pairs.select(
            F.col("image_id").alias("id"), "phash", F.lit("new").alias("src")
        )
    )
    both = new_ph.unionByName(old_index.select("id", "phash", F.lit("old").alias("src")))

    def bands(df):
        return df.select(
            "id", "phash", "src",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("band"), e.alias("bv"))
                        for i, e in enumerate(
                            phash_band_exprs(F.col("phash"), n_bands)
                        )
                    ]
                )
            ).alias("bb"),
        ).select("id", "phash", "src", "bb.band", "bb.bv")

    probe = bands(new_ph).select(
        F.col("id").alias("nid"), F.col("phash").alias("nph"), "band", "bv"
    )
    # band-copy duplicates in the drop set are absorbed by the anti-join —
    # no distinct exchange needed (same argument as neardup_image_pairs's
    # dedup=False path)
    img_drops = (
        probe.join(bands(both), ["band", "bv"])
        .filter((F.col("src") == "old") | (F.col("id") < F.col("nid")))
        .filter(hamming_expr(F.col("nph"), F.col("phash")) <= max_phash_hamming)
        .select(F.col("nid").alias("image_id"))
    )
    return cap_keep.join(img_drops, "image_id", "left_anti")
