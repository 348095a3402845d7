"""Multimodal (binary) column surface for the training-data pipeline.

Images / audio / video are opaque ``binary`` columns plus a typed metadata
struct — the lakehouse-standard layout (one row per asset, bytes inline or
an object-store pointer). Everything metadata-shaped stays in Catalyst
(hashing, lengths, grouped stats, content-hash dedup: all JVM-side, one
shuffle per groupBy); only actual DECODING crosses into Python, as an
Arrow-batched ``mapInPandas`` whose schema/batch plumbing is real and
tested even where the codec itself is stubbed.

Decoder tiers (``auto_decode`` dispatches in this order):

* ``png_decode`` — a REAL, pure-stdlib PNG decoder (zlib inflate +
  per-scanline unfilter, public file-format knowledge): engages whenever
  the bytes carry the PNG signature, so actual image decoding is
  executable and oracle-checkable with no codec package installed
  (mm11 runs real PNG streams through it end to end).
* ``fake_decode`` — deterministic byte arithmetic (dims from the first two
  content bytes, a luma proxy from a byte sum). Pure function of the bytes,
  so the whole mapInPandas pipeline is DuckDB-oracle-checkable end to end —
  the plumbing is verified, not just smoke-tested.

Scale notes: content bytes never shuffle in the metadata queries (hash and
length are computed at scan, columns pruned before any exchange); the
mapInPandas stage is embarrassingly parallel per input partition and emits
only small feature rows. Dedup groups on the 16-byte md5, not the content.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_FEATURE_SCHEMA = (
    "media_id bigint, modality string, width int, height int, "
    "n_pixels bigint, luma double, fingerprint string"
)

MODALITIES = ("image", "audio", "video")


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table from ``documents``: the text bytes stand in
    for encoded content (the fixtures ship no real binaries). Schema is the
    real thing: (media_id, modality, content binary, meta struct)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.col("n_chars").cast("long").alias("n_bytes"),
            F.col("source").alias("origin"),
            F.col("lang").alias("tag"),
        ).alias("meta"),
    )


def content_fingerprint(content: F.Column) -> F.Column:
    """16-byte content hash — the dedup key. md5 over the raw bytes, engine-
    portable (DuckDB md5(blob/text) agrees on identical bytes)."""
    return F.md5(content)


def media_dedup_summary(media: DataFrame) -> DataFrame:
    """Exact content dedup: group on the fingerprint, never the content.
    One shuffle of (16-byte hash, id) pairs regardless of asset size."""
    groups = media.groupBy(content_fingerprint(F.col("content")).alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("media_id").alias("keeper"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_copies").cast("bigint").alias("n_assets"),
        (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias("n_dupes"),
        F.sum("keeper").cast("bigint").alias("keeper_id_sum"),
    )


def media_stats_by_modality(media: DataFrame) -> DataFrame:
    """Per-modality asset stats: counts, byte volume, distinct contents."""
    return (
        media.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
            F.countDistinct(content_fingerprint(F.col("content"))).alias("n_distinct"),
            F.max(F.col("meta.n_bytes")).cast("bigint").alias("max_meta_bytes"),
        )
        .orderBy("modality")
    )


# --- decoders ------------------------------------------------------------
def fake_decode(content: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image codec: (width, height, luma).
    width/height from the first two bytes, luma = mean byte value / 255."""
    b0 = content[0] if len(content) > 0 else 0
    b1 = content[1] if len(content) > 1 else 0
    width = 64 + (b0 % 192)
    height = 64 + (b1 % 192)
    luma = (sum(content) / len(content) / 255.0) if content else 0.0
    return width, height, luma


PNG_SIG = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# PIL's ITU-R 601-2 integer grayscale conversion (convert("L")), so the
# decoded luma equals what PIL reports for the same RGB pixels.
def _l601(r: int, g: int, b: int) -> int:
    return (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (filter 0 rows, one zlib stream) —
    enough to synthesize REAL image streams for fixtures and tests; the
    decoder below handles the general format, not just this subset."""
    import struct
    import zlib

    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def png_decode(content: bytes) -> tuple[int, int, float]:
    """Pure-stdlib PNG decoder: (width, height, mean-luma/255). Supports
    bit depth 8, color types 0/2/3/4/6, all five scanline filters,
    non-interlaced streams (raises ValueError on Adam7 / exotic depths —
    callers fall back). CRCs are not validated (zlib's own checksum guards
    the pixel data; a torn chunk fails the inflate). Luma uses PIL's
    integer ITU-R 601-2 formula (``_l601``)."""
    import struct
    import zlib

    if not content.startswith(PNG_SIG):
        raise ValueError("not a PNG stream")
    pos, ihdr, plte, idat = len(PNG_SIG), None, b"", []
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        tag = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = data
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    width, height, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth} type={ctype} i={interlace})")
    ch = _PNG_CHANNELS[ctype]
    stride = width * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("scanline length mismatch")
    prev = bytearray(stride)
    total = 0
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter {ftype}")
        for x in range(width):
            px = line[x * ch : (x + 1) * ch]
            if ctype == 0 or ctype == 4:
                total += px[0]
            elif ctype == 3:
                i3 = px[0] * 3
                total += _l601(plte[i3], plte[i3 + 1], plte[i3 + 2])
            else:  # 2 (RGB) or 6 (RGBA) — alpha ignored, as PIL convert("L")
                total += _l601(px[0], px[1], px[2])
        prev = line
    n = width * height
    return width, height, (total / n / 255.0) if n else 0.0


def auto_decode(content: bytes) -> tuple[int, int, float]:
    """Default decoder, tiered: the pure-stdlib PNG decoder whenever the
    bytes carry the PNG signature (REAL decoding — mm11 oracle-checks it
    end to end); else the deterministic fake codec. The text-bytes
    fixtures are not valid image streams, so they take the fake path and
    oracle results need no codec package."""
    if content[: len(PNG_SIG)] == PNG_SIG:
        try:
            return png_decode(content)
        except (ValueError, zlib.error, struct.error, IndexError):
            # exotic or malformed PNG -> deterministic tier. ValueError is
            # png_decode's own rejection (Adam7, 16-bit); the rest are what
            # a torn stream actually raises: zlib.error from a corrupt
            # IDAT inflate, struct.error from a truncated IHDR/chunk
            # header, IndexError from a palette image missing its PLTE.
            pass
    return fake_decode(content)


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """REAL PNG streams synthesized from document text: each doc becomes an
    8-bit grayscale image on a doc-keyed W×H canvas (W = 8 + id%5,
    H = 4 + id%7) whose pixels are the utf-8 bytes cycled — so the decoded
    (width, height, luma) are exactly derivable from the document row by
    byte arithmetic, which is what lets mm11 oracle-check an actual codec
    path. mapInPandas per input partition; emits one asset row per doc."""
    pruned = docs.select("doc_id", "text")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                tb = (text or "").encode("utf-8") or b"\x00"
                w = 8 + did % 5
                h = 4 + did % 7
                px = bytes(tb[i % len(tb)] for i in range(w * h))
                rows.append((did, "image", encode_png_gray(px, w, h)))
            yield pd.DataFrame(rows, columns=["media_id", "modality", "content"])

    return pruned.mapInPandas(
        _batches, "media_id bigint, modality string, content binary"
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """The decode/feature stage: Arrow-batched ``mapInPandas`` over
    (media_id, modality, content) emitting small typed feature rows.

    Column-pruned input (content is read but never shuffled), per-partition
    parallelism, bounded memory per batch (Arrow slices) — the shape that
    holds when 'content' is megabytes per row and the cluster has 1000
    executors. Decoding is ``auto_decode``'s tiers: the stdlib PNG decoder
    for PNG streams, else the deterministic fake."""
    pruned = media.select("media_id", "modality", "content")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            feats = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                raw = bytes(content) if content is not None else b""
                w, h, luma = auto_decode(raw)
                feats.append(
                    (
                        int(mid),
                        modality,
                        w,
                        h,
                        w * h,
                        round(luma, 6),
                        hashlib.md5(raw).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                feats,
                columns=[
                    "media_id",
                    "modality",
                    "width",
                    "height",
                    "n_pixels",
                    "luma",
                    "fingerprint",
                ],
            )

    return pruned.mapInPandas(_batches, MEDIA_FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, frame binary"

RESIZED_SCHEMA = (
    "media_id bigint, modality string, content binary, width int, height int, luma double"
)


# ``sample_frames``' frame width and ``resize_media``'s truncation length in
# bytes; read on the driver at call time, so the workers see a patched value.
FRAME_BYTES = 32
RESIZE_MAX_BYTES = 128


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling: one video asset row fans out to
    ceil(len/``FRAME_BYTES``) frame rows — the video-pipeline shape (ffmpeg keyframe extraction in
    production; deterministic byte-chunking here so the fan-out plumbing is
    oracle-checkable). mapInPandas emits frames per input partition: no
    shuffle to fan out, and downstream ops see small per-frame rows instead
    of whole-asset blobs."""
    pruned = media.filter(F.col("modality") == "video").select("media_id", "content")
    frame_bytes = FRAME_BYTES

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                for i in range(0, (len(raw) + frame_bytes - 1) // frame_bytes):
                    rows.append((int(mid), i, raw[i * frame_bytes : (i + 1) * frame_bytes]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return pruned.mapInPandas(_batches, FRAME_SCHEMA)


def resize_media(media: DataFrame) -> DataFrame:
    """Resize/downsample stage: binary in → smaller binary out plus re-decoded
    features of the RESIZED content. The fake transform truncates to
    ``RESIZE_MAX_BYTES`` (a real one re-encodes at lower resolution); either way
    the contract is identical — content column replaced, features recomputed,
    row count preserved — which is what the oracle verifies."""
    pruned = media.select("media_id", "modality", "content")
    max_bytes = RESIZE_MAX_BYTES

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                raw = bytes(content) if content is not None else b""
                resized = raw[:max_bytes]
                w, h, luma = auto_decode(resized)
                rows.append((int(mid), modality, resized, w, h, round(luma, 6)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "modality", "content", "width", "height", "luma"],
            )

    return pruned.mapInPandas(_batches, RESIZED_SCHEMA)


# ``audio_window_energy``'s window width in bytes and the energy under
# which a window counts as silent; read at call time.
AUDIO_WINDOW_BYTES = 25
AUDIO_SILENCE_THRESHOLD = 2400


def audio_window_energy(media: DataFrame) -> DataFrame:
    """Audio windowing: ``AUDIO_WINDOW_BYTES``-byte sample windows per asset
    with per-window energy and a silence flag (energy under
    ``AUDIO_SILENCE_THRESHOLD``) — the shape of VAD/silence-trimming in a real
    audio pipeline (there, windows are PCM frames and energy is RMS; here,
    deterministic byte arithmetic so the windowing is oracle-checkable).

    Pure Catalyst, no Python: bytes come from ``array_remove(split(...))``
    (not a higher-order lambda — those are CodegenFallback), the explode is
    shuffle-free, and the per-(asset, window) groupBy partial-aggregates
    map-side, so only window rows — corpus_bytes / window width, each 3 ints
    wide — ever reach an exchange. Ragged tails score as written (fewer
    bytes → lower energy → usually "silent"); production would rescale by
    window fill.
    """
    chars = (
        media.filter(F.col("modality") == "audio")
        .select("media_id", F.col("content").cast("string").alias("__s"))
        .select(
            "media_id",
            F.posexplode(F.array_remove(F.split("__s", ""), "")).alias("pos", "ch"),
        )
    )
    return (
        chars.groupBy(
            "media_id", F.floor(F.col("pos") / AUDIO_WINDOW_BYTES).alias("win")
        )
        .agg(F.sum(F.ascii("ch")).alias("energy"))
        .withColumn("is_silent", (F.col("energy") < AUDIO_SILENCE_THRESHOLD).cast("int"))
    )


PHASH_SCHEMA = "media_id bigint, modality string, phash int"


def media_phash(media: DataFrame) -> DataFrame:
    """Block-mean perceptual hash (aHash family) at the decode boundary:
    the content bytes are split into 16 contiguous blocks; bit i is set iff
    block i's mean exceeds the whole-asset mean. Near-duplicate assets
    (re-encodes, small edits) collide on the hash, so near-dup detection is
    a groupBy on a 16-bit key — dd3's no-pair-join shape for binary content.

    The comparison is integer cross-multiplication (block_sum · n >
    total · block_len), never a float mean — which makes the Python decode
    side and the DuckDB oracle agree exactly, byte for byte.
    """
    pruned = media.select("media_id", "modality", "content")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                raw = bytes(content) if content is not None else b""
                n = len(raw)
                total = sum(raw)
                ph = 0
                for i in range(16):
                    lo, hi = n * i // 16, n * (i + 1) // 16
                    if hi > lo and sum(raw[lo:hi]) * n > total * (hi - lo):
                        ph |= 1 << i
                rows.append((int(mid), modality, ph))
            yield pd.DataFrame(rows, columns=["media_id", "modality", "phash"])
            rows = []

    return pruned.mapInPandas(_batches, PHASH_SCHEMA)
