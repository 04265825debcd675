"""Deterministic synthetic web, robots corpus and image+caption generator.

The sandbox has no network, so the engine's fetch operator (sources/fetch.py)
serves a *pure function* of the URL: ``page_for_url(url, cfg)`` — same
operator boundary as the reference's libcurl GET (fetch_url.c:9-31), but
deterministic and seeded. FIXTURES.md §1-4 documents the corpus shapes.

Layout (cfg = SynthWebConfig):
- hosts ``h{k}.example.test``, k in [0, n_hosts); host 0 is the HOT host —
  ~30% of all cross-links point at it (exercises hot-host salting).
- pages ``/p/{j}`` (public), ``/private/{j}`` when j % 10 == 7 (robots-gated
  on even hosts), plus seeded dead links ``/missing/{j}`` (404 → AIMD error
  path, rate_limiter.c:113-119).
- robots.txt: absent for k % 7 == 3 (default allow); otherwise a seeded
  mix of exact / trailing-* / leading-* / interior-* rules, allow-overrides
  (robots_parser.c:410-432 precedence) and Crawl-delay lines.
- every deterministic choice hashes (seed, url) through md5 — NO global RNG,
  NO wall clock; executors can evaluate any URL independently (this is what
  makes the 10^10-URL frontier *virtual*: content is generated on demand).

Images (FIXTURES.md §1): gradient+noise RGB at {16,32,64,128}px, encoded
ppm/png/qdct (imageops), caption from a seeded wordlist (incl. non-ASCII),
``phash`` = phash64 of the *decoded* bytes (so recompute always matches);
~1% of rows are near-duplicate perturbed copies of the previous row.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from .functions import imageops

# --------------------------------------------------------------------------
# deterministic hashing helpers
# --------------------------------------------------------------------------


def _h64(*parts) -> int:
    m = hashlib.md5("|".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(m[:8], "big")


@dataclass
class SynthWebConfig:
    n_hosts: int = 8
    pages_per_host: int = 40
    seed: int = 42
    hot_host_share: float = 0.3  # fraction of cross-links aimed at host 0
    error_rate: float = 0.03     # seeded 4xx/5xx on known pages
    fail_rate: float = 0.0       # seeded transport failures (curl-error analog)
    images_per_page: int = 2
    n_images: int = 256          # id space for img references


def host_name(k: int) -> str:
    return f"h{k}.example.test"


def page_url(k: int, j: int) -> str:
    if j % 10 == 7:
        return f"http://{host_name(k)}/private/{j}"
    return f"http://{host_name(k)}/p/{j}"


def all_urls(cfg: SynthWebConfig) -> list[str]:
    return [
        page_url(k, j) for k in range(cfg.n_hosts) for j in range(cfg.pages_per_host)
    ]


# --------------------------------------------------------------------------
# robots corpus
# --------------------------------------------------------------------------


def robots_body(host: str, cfg: SynthWebConfig) -> str | None:
    """Deterministic robots.txt body for a host; None → no robots (404)."""
    try:
        k = int(host.split(".")[0][1:])
    except ValueError:
        return None
    if k % 7 == 3:
        return None  # absent → default allow
    lines = ["User-agent: *"]
    if k % 2 == 0:
        lines.append("Disallow: /private*")
        lines.append("Allow: /private/7")  # allow-overrides-disallow quirk
    if k % 3 == 0:
        lines.append(f"Crawl-delay: {1 + k % 5}")
    if k % 5 == 1:
        lines.append("Disallow: *tracking")
        lines.append("Disallow: /x*y")
    lines.append("Disallow: /blocked/*")
    lines.append("")
    return "\n".join(lines)


def robots_corpus_rows(cfg: SynthWebConfig) -> list[dict]:
    out = []
    for k in range(cfg.n_hosts):
        b = robots_body(host_name(k), cfg)
        if b is not None:
            out.append({"host": host_name(k), "body": b})
    return out


# --------------------------------------------------------------------------
# page content
# --------------------------------------------------------------------------

_CAPTION_WORDS = [
    "sunset", "harbor", "café", "montaña", "skyline", "forest", "naïve",
    "river", "北京", "bridge", "autumn", "glacier", "mosaic", "façade",
    "meadow", "lantern", "Zürich", "canyon", "orchid", "monsoon",
]

_BODY_WORDS = [
    "the", "crawler", "visits", "pages", "and", "extracts", "links",
    "content", "queue", "host", "fetch", "cache", "robots", "politeness",
    "frontier", "depth", "priority", "image", "caption", "pipeline",
]

_POS = ["good", "great", "excellent", "amazing", "wonderful"]
_NEG = ["bad", "terrible", "awful", "poor", "disaster"]


def caption_for(i: int, seed: int) -> str:
    h = _h64(seed, "caption", i)
    n = 3 + h % 18
    return " ".join(
        _CAPTION_WORDS[_h64(seed, "capw", i, t) % len(_CAPTION_WORDS)]
        for t in range(n)
    )


def _out_links(url: str, cfg: SynthWebConfig) -> list[str]:
    """href values as they appear in the page (pre-canonicalization)."""
    h = _h64(cfg.seed, "links", url)
    degree = 1 + h % 12
    hrefs = []
    k = int(url.split("//h")[1].split(".")[0])
    for t in range(degree):
        ht = _h64(cfg.seed, "tgt", url, t)
        # hot-host share of cross links → host 0
        if (ht >> 8) % 100 < int(cfg.hot_host_share * 100):
            tk = 0
        elif ht % 3 == 0:
            tk = (k + 1 + (ht >> 16) % max(cfg.n_hosts - 1, 1)) % cfg.n_hosts
        else:
            tk = k
        tj = (ht >> 24) % cfg.pages_per_host
        target = page_url(tk, tj)
        style = (ht >> 4) % 5
        if style == 0:
            hrefs.append(target)  # absolute, canonical spelling
        elif style == 1:
            hrefs.append(target + "#sec" + str(t))  # absolute + fragment
        elif style == 2 and tk == k:
            path = "/" + target.split("/", 3)[3]
            hrefs.append(path + "/")  # abs-path relative + trailing slash
        elif style == 3 and tk == k:
            path = "/" + target.split("/", 3)[3]
            hrefs.append(path)
        else:
            hrefs.append(target)
    # junk links the canonicalizer must drop
    hrefs.append("javascript:void(0)")
    hrefs.append("mailto:admin@" + url.split("/")[2])
    hrefs.append("#top")
    # seeded dead link (404 target) on ~20% of pages
    if h % 5 == 0:
        hrefs.append(f"/missing/{h % 1000}")
    return hrefs


def page_html(url: str, cfg: SynthWebConfig) -> str:
    h = _h64(cfg.seed, "page", url)
    title = f"Page {url.split('//')[1]}"
    desc = " ".join(
        _BODY_WORDS[_h64(cfg.seed, "desc", url, t) % len(_BODY_WORDS)] for t in range(8)
    )
    keyw = ",".join(
        _BODY_WORDS[_h64(cfg.seed, "kw", url, t) % len(_BODY_WORDS)] for t in range(4)
    )
    npos, nneg = h % 4, (h >> 2) % 4
    sent_words = " ".join(
        [_POS[_h64(cfg.seed, "pw", url, t) % len(_POS)] for t in range(npos)]
        + [_NEG[_h64(cfg.seed, "nw", url, t) % len(_NEG)] for t in range(nneg)]
    )
    body_words = " ".join(
        _BODY_WORDS[_h64(cfg.seed, "bw", url, t) % len(_BODY_WORDS)]
        for t in range(20 + h % 30)
    )
    links = "\n".join(f'<a href="{href}">link{i}</a>' for i, href in enumerate(_out_links(url, cfg)))
    imgs = []
    for t in range(cfg.images_per_page):
        iid = _h64(cfg.seed, "img", url, t) % cfg.n_images
        w_, h_ = _image_dims(iid, cfg.seed)
        imgs.append(
            f'<img src="/img/img-{iid:010d}" alt="{caption_for(iid, cfg.seed)}" '
            f'width="{w_}" height="{h_}">'
        )
    return f"""<html><head>
<title>{title}</title>
<meta name="description" content="{desc}">
<meta name="keywords" content="{keyw}">
<meta property="og:title" content="{title}">
<style>body {{ color: bad-style-word; }}</style>
<script>var hidden = "terrible script text";</script>
</head><body>
<h1>{title}</h1>
<p>{body_words} {sent_words}</p>
{links}
{"".join(imgs)}
</body></html>"""


def page_for_url(url: str, cfg: SynthWebConfig) -> tuple[int, str | None, str, int]:
    """The synthetic web: url → (status, html, content_type, response_ms).

    Pure + deterministic; unknown URL shapes → 404 with a tiny error body.
    response_ms is seeded and drives the AIMD fast/slow branches.
    """
    h = _h64(cfg.seed, "fetch", url)
    response_ms = 50 + h % 2450
    # transport failure: libcurl error with no body (fetch_url.c returns
    # chunk.response == NULL; url_processor.c:121-131 drops the task,
    # never marking it visited)
    if cfg.fail_rate and (h >> 40) % 1000 < int(cfg.fail_rate * 1000):
        return 0, None, None, response_ms
    parts = url.split("/")
    known = False
    if len(parts) >= 5 and parts[0] in ("http:", "https:") and parts[2].startswith("h"):
        try:
            k = int(parts[2].split(".")[0][1:])
            j = int(parts[4])
            known = (
                0 <= k < cfg.n_hosts
                and 0 <= j < cfg.pages_per_host
                and parts[3] == ("private" if j % 10 == 7 else "p")
                and url == page_url(k, j)
            )
        except (ValueError, IndexError):
            known = False
    if not known:
        return 404, "<html><body>not found</body></html>", "text/html", response_ms
    if (h >> 16) % 1000 < int(cfg.error_rate * 1000):
        return 500 + (h >> 28) % 4, "<html><body>server error</body></html>", "text/html", response_ms
    return 200, page_html(url, cfg), "text/html", response_ms


# --------------------------------------------------------------------------
# seed URLs (canonicalization quirks included)
# --------------------------------------------------------------------------


def seed_url_rows(cfg: SynthWebConfig) -> list[dict]:
    rows = [
        {"url": page_url(k, 0), "priority": 1}
        for k in range(min(cfg.n_hosts, 4))
    ]
    # ordering-quirk seeds: a priority-0 and a priority-2 entry
    rows.append({"url": page_url(0, 2), "priority": 0})
    rows.append({"url": page_url(1, 4), "priority": 2})
    return rows


# --------------------------------------------------------------------------
# images table (input_hint shape)
# --------------------------------------------------------------------------

_DIM_CHOICES = [16, 32, 64, 128]
_FMT_CHOICES = ["ppm", "png", "qdct"]
NEARDUP_STRIDE = 101  # i % 101 == 1 → perturbed copy of image i-1


def _image_dims(i: int, seed: int) -> tuple[int, int]:
    return (
        _DIM_CHOICES[_h64(seed, "w", i) % 4],
        _DIM_CHOICES[_h64(seed, "h", i) % 4],
    )


def gen_pixels(i: int, seed: int) -> np.ndarray:
    """Gradient + noise RGB uint8, fully determined by (seed, i)."""
    w, h = _image_dims(i, seed)
    rng = np.random.Generator(np.random.PCG64(_h64(seed, "px", i)))
    yy, xx = np.mgrid[0:h, 0:w]
    angle = (_h64(seed, "ang", i) % 360) * np.pi / 180
    grad = (np.cos(angle) * xx / max(w, 1) + np.sin(angle) * yy / max(h, 1)) * 160
    base = grad[..., None] + rng.uniform(0, 90, (h, w, 3)) + _h64(seed, "off", i) % 60
    return np.clip(base, 0, 255).astype(np.uint8)


def image_row(i: int, seed: int) -> dict:
    dup_of = i - 1 if (i % NEARDUP_STRIDE == 1 and i > 0) else None
    src = dup_of if dup_of is not None else i
    px = gen_pixels(src, seed)
    if dup_of is not None:
        # near-duplicate: nudge a handful of pixels (phash hamming <= 2)
        rng = np.random.Generator(np.random.PCG64(_h64(seed, "dup", i)))
        for _ in range(4):
            r = int(rng.integers(0, px.shape[0]))
            c = int(rng.integers(0, px.shape[1]))
            px[r, c] = np.clip(px[r, c].astype(int) + int(rng.integers(-3, 4)), 0, 255)
    fmt = _FMT_CHOICES[_h64(seed, "fmt", src) % 3]
    data = imageops.encode_image(px, fmt)
    decoded = imageops.decode_image(data, fmt)
    return {
        "image_id": f"img-{i:010d}",
        "bytes": data,
        "w": int(px.shape[1]),
        "h": int(px.shape[0]),
        "fmt": fmt,
        "caption": caption_for(i, seed),
        "phash": imageops.phash64(decoded),
    }


def images_pdf(ids: "pd.Series | np.ndarray | list[int]", seed: int) -> pd.DataFrame:
    rows = [image_row(int(i), seed) for i in ids]
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


def images_df(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed images table: spark.range → mapInPandas(gen).

    Generation is embarrassingly parallel — each executor materializes only
    its id range, which is how the table stays writable at 10^10-row scale.
    """
    from .schemas import IMAGES

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield images_pdf(pdf["id"], seed)

    rng_df = spark.range(0, n, 1, partitions or max(2, n // 512))
    return rng_df.mapInPandas(gen, schema=IMAGES)


# --------------------------------------------------------------------------
# audio clips (PCM WAV — decodable with stdlib `wave`, no codec libs)
# --------------------------------------------------------------------------

AUDIO_SAMPLE_RATE = 16000
AUDIO_DUP_STRIDE = 7  # i % 7 == 1 → clip i is a spliced copy of clip i-1


def _audio_pcm(i: int, seed: int) -> np.ndarray:
    """Base PCM for clip i (int16 mono): seeded sine + noise, 0.1-0.5 s."""
    h = _h64(seed, "wav", i)
    n_samples = 1600 + h % 6400
    freq = 200.0 + (h >> 16) % 2000
    amp = 8000 + (h >> 32) % 8000
    rng = np.random.Generator(np.random.PCG64(_h64(seed, "pcm", i)))
    t = np.arange(n_samples, dtype=np.float64) / AUDIO_SAMPLE_RATE
    x = amp * np.sin(2 * np.pi * freq * t) + rng.uniform(-500, 500, n_samples)
    return np.clip(x, -32768, 32767).astype("<i2")


def audio_row(i: int, seed: int) -> dict:
    """One deterministic mono 16-bit PCM WAV clip. Fully determined by
    (seed, i); the bytes parse with stdlib `wave`, so
    multimodal.audio_features decodes REAL frames (no stub) for fmt='wav'.

    Clips with i % AUDIO_DUP_STRIDE == 1 are SPLICED COPIES of clip i-1:
    same PCM except two contiguous envelope windows (of the 64 that
    multimodal.wav_fingerprint measures) gain-scaled by 1.15 — the edited
    re-upload an audio dedup pass exists to catch. Scaling two whole
    adjacent windows flips at most 3 envelope-comparison bits (the two
    boundary comparisons plus the knife-edge in-between one), so dup pairs
    sit within fingerprint hamming <= 3 by construction."""
    import io
    import wave

    if i % AUDIO_DUP_STRIDE == 1 and i > 0:
        pcm = _audio_pcm(i - 1, seed).astype(np.float64)
        win = (len(pcm) + 63) // 64  # same windowing as wav_fingerprint
        j = 1 + _h64(seed, "splice", i) % 60  # windows [j, j+1], inside 0..63
        lo, hi = j * win, min((j + 2) * win, len(pcm))
        pcm[lo:hi] *= 1.15
        pcm = np.clip(pcm, -32768, 32767).astype("<i2")
    else:
        pcm = _audio_pcm(i, seed)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(AUDIO_SAMPLE_RATE)
        w.writeframes(pcm.tobytes())
    return {"clip_id": f"aud-{i:08d}", "bytes": buf.getvalue(), "fmt": "wav"}


def audio_pdf(ids, seed: int) -> pd.DataFrame:
    return pd.DataFrame([audio_row(int(i), seed) for i in ids])


def audio_clips_df(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed audio-clips table (clip_id, bytes, fmt) — generated
    per-executor like images_df, so the table is writable at any scale."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), True),
            T.StructField("fmt", T.StringType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_pdf(pdf["id"], seed)

    rng_df = spark.range(0, n, 1, partitions or max(2, n // 256))
    return rng_df.mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# video clips (QV01 container of qdct frames — decodable with the engine's
# own codec, no external libs)
# --------------------------------------------------------------------------

VIDEO_MAGIC = b"QV01"
VIDEO_FPS = 10
VIDEO_DUP_STRIDE = 7  # i % 7 == 1 → frames perturb clip i-1's base


def video_row(i: int, seed: int) -> dict:
    """One deterministic QV01 clip: 6-15 qdct-encoded 32×32 frames, every
    frame a lightly-perturbed copy of the clip's base image (so sampled
    frames are mutual phash near-dups — the in-clip redundancy a frame
    dedup pass exists to catch), and clips with i % VIDEO_DUP_STRIDE == 1
    share the PREVIOUS clip's base (cross-clip near-dups). Container:
    b'QV01' + u32 n_frames + u32 fps + per frame (u32 len + qdct bytes)."""
    import struct

    dup_of = i - 1 if (i % VIDEO_DUP_STRIDE == 1 and i > 0) else None
    src = dup_of if dup_of is not None else i
    h = _h64(seed, "vid", src)
    n_frames = 6 + h % 10
    rng0 = np.random.Generator(np.random.PCG64(_h64(seed, "vbase", src)))
    yy, xx = np.mgrid[0:32, 0:32]
    angle = (h % 360) * np.pi / 180
    grad = (np.cos(angle) * xx / 32 + np.sin(angle) * yy / 32) * 160
    base = np.clip(
        grad[..., None] + rng0.uniform(0, 90, (32, 32, 3)) + h % 60, 0, 255
    ).astype(np.uint8)
    payload = [struct.pack("<II", n_frames, VIDEO_FPS)]
    for f in range(n_frames):
        px = base.copy()
        rng = np.random.Generator(np.random.PCG64(_h64(seed, "vf", i, f)))
        for _ in range(4):
            r = int(rng.integers(0, 32))
            c = int(rng.integers(0, 32))
            px[r, c] = np.clip(px[r, c].astype(int) + int(rng.integers(-3, 4)), 0, 255)
        fb = imageops.encode_image(px, "qdct")
        payload.append(struct.pack("<I", len(fb)) + fb)
    return {
        "clip_id": f"vid-{i:08d}",
        "bytes": VIDEO_MAGIC + b"".join(payload),
        "fmt": "qvid",
    }


def videos_pdf(ids, seed: int) -> pd.DataFrame:
    return pd.DataFrame([video_row(int(i), seed) for i in ids])


def video_clips_df(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed video-clips table (clip_id, bytes, fmt) — generated
    per-executor like images_df/audio_clips_df."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), True),
            T.StructField("fmt", T.StringType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield videos_pdf(pdf["id"], seed)

    rng_df = spark.range(0, n, 1, partitions or max(2, n // 64))
    return rng_df.mapInPandas(gen, schema=schema)


def web_graph_df(spark, cfg: SynthWebConfig):
    """Materialized synthetic web (for tests/queries; the fetcher itself
    evaluates page_for_url lazily and never needs this table)."""
    from .schemas import WEB_GRAPH, local_frame

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for u in pdf["url"]:
                status, html, ctype, ms = page_for_url(u, cfg)
                rows.append(
                    {
                        "url": u,
                        "status": status,
                        "content_type": ctype,
                        "content": html.encode() if html else None,
                        "response_ms": ms,
                    }
                )
            yield pd.DataFrame(rows)

    urls = local_frame(spark, [(u,) for u in all_urls(cfg)], "url string")
    return urls.repartition(8).mapInPandas(gen, schema=WEB_GRAPH)
