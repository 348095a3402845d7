"""Multimodal-column queries over the synthesized media table (binary
content + typed metadata from ``documents``; see operators/multimodal.py).

mm3 is notable: it oracle-checks a ``mapInPandas`` decode stage end to end —
the fake codec is pure byte arithmetic, so DuckDB can recompute the same
features relationally (ord/substr per byte) and the Arrow plumbing itself is
what's under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    FRAME_BYTES,
    RESIZE_MAX_BYTES,
    audio_window_energy,
    extract_media_features,
    media_dedup_summary,
    media_stats_by_modality,
    synthesize_media,
)
from .registry import register

_MODALITY_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


@register(
    "mm1_media_dedup",
    oracle="""
    WITH groups AS (
      SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
      FROM documents GROUP BY md5(text)
    )
    SELECT COUNT(*) AS n_unique,
           CAST(SUM(n_copies) AS BIGINT) AS n_assets,
           CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dupes,
           CAST(SUM(keeper) AS BIGINT) AS keeper_id_sum
    FROM groups
    """,
    tags=("multimodal", "dedup"),
    tables=("documents",),
)
def mm1_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup over binary assets: group on md5(content) — a
    16-byte shuffle key no matter how large the assets are."""
    return media_dedup_summary(synthesize_media(spark.table("documents")))


@register(
    "mm2_media_stats_by_modality",
    oracle=f"""
    SELECT {_MODALITY_SQL} AS modality,
           COUNT(*) AS n_assets,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           CAST(MAX(n_chars) AS BIGINT) AS max_meta_bytes
    FROM documents
    GROUP BY modality ORDER BY modality
    """,
    tags=("multimodal", "stats"),
    tables=("documents",),
)
def mm2_media_stats_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality asset inventory: counts, byte volume, distinct contents,
    metadata bounds — all Catalyst, content never shuffles."""
    return media_stats_by_modality(synthesize_media(spark.table("documents")))


@register(
    "mm3_media_features",
    oracle=f"""
    WITH bytes AS (
      SELECT doc_id, SUM(unicode(substr(text, i.i, 1))) AS byte_sum
      FROM documents, (SELECT UNNEST(range(1, 700)) AS i) i
      WHERE i.i <= strlen(text)
      GROUP BY doc_id
    ), feats AS (
      SELECT d.doc_id,
             CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             64 + (unicode(substr(d.text, 1, 1)) % 192) AS width,
             64 + (CASE WHEN strlen(d.text) >= 2
                        THEN unicode(substr(d.text, 2, 1)) ELSE 0 END % 192) AS height,
             ROUND(b.byte_sum / strlen(d.text) / 255.0, 6) AS luma
      FROM documents d JOIN bytes b ON b.doc_id = d.doc_id
    )
    SELECT modality,
           COUNT(*) AS n,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height,
           CAST(SUM(width * height) AS BIGINT) AS sum_pixels,
           ROUND(SUM(luma), 4) AS sum_luma
    FROM feats GROUP BY modality ORDER BY modality
    """,
    tags=("multimodal", "mapInPandas", "U4-shape"),
    tables=("documents",),
)
def mm3_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas (fake codec:
    deterministic byte arithmetic), aggregated per modality. The oracle
    recomputes the identical features relationally, so the batch plumbing —
    schema, binary round-trip, per-partition batching — is hash-verified."""
    feats = extract_media_features(synthesize_media(spark.table("documents")))
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            F.sum("n_pixels").cast("bigint").alias("sum_pixels"),
            F.round(F.sum("luma"), 4).alias("sum_luma"),
        )
        .orderBy("modality")
    )


@register(
    "mm4_frame_sample",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
      SELECT media_id, i.i AS frame_idx, substr(text, i.i * {FRAME_BYTES} + 1, {FRAME_BYTES}) AS frame
      FROM vids, (SELECT UNNEST(range(0, 64)) AS i) i
      WHERE i.i * {FRAME_BYTES} < strlen(text)
    )
    SELECT COUNT(DISTINCT media_id) AS n_videos,
           COUNT(*) AS n_frames,
           COUNT(DISTINCT md5(frame)) AS n_distinct_frames,
           CAST(SUM(frame_idx) AS BIGINT) AS sum_frame_idx
    FROM frames
    """,
    tags=("multimodal", "frames", "mapInPandas"),
    tables=("documents",),
)
def mm4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video assets: 1→N fan-out inside mapInPandas
    (32-byte deterministic chunks standing in for keyframes), then frame
    inventory stats. The oracle re-chunks relationally, so the fan-out row
    multiplication and ragged-tail handling are hash-verified."""
    from ..operators.multimodal import sample_frames

    frames = sample_frames(synthesize_media(spark.table("documents")))
    return frames.agg(
        F.countDistinct("media_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct(F.md5("frame")).alias("n_distinct_frames"),
        F.sum("frame_idx").cast("bigint").alias("sum_frame_idx"),
    )


@register(
    "mm5_resize_summary",
    oracle=f"""
    WITH clipped AS (
      SELECT doc_id, substr(text, 1, {RESIZE_MAX_BYTES}) AS ctext,
             {_MODALITY_SQL} AS modality
      FROM documents
    ), bytes AS (
      SELECT doc_id, SUM(unicode(substr(ctext, i.i, 1))) AS byte_sum
      FROM clipped, (SELECT UNNEST(range(1, {RESIZE_MAX_BYTES + 1})) AS i) i
      WHERE i.i <= strlen(ctext)
      GROUP BY doc_id
    )
    SELECT modality,
           COUNT(*) AS n,
           CAST(SUM(strlen(ctext)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(ctext)) AS n_distinct,
           ROUND(SUM(ROUND(byte_sum / strlen(ctext) / 255.0, 6)), 4) AS sum_luma
    FROM clipped JOIN bytes USING (doc_id)
    GROUP BY modality ORDER BY modality
    """,
    tags=("multimodal", "resize", "mapInPandas"),
    tables=("documents",),
)
def mm5_resize_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample stage: every asset truncated to 128 bytes (the
    deterministic stand-in for re-encoding), features re-decoded from the
    RESIZED bytes, summarized per modality — proving content replacement,
    row preservation, and feature recomputation end to end."""
    from ..operators.multimodal import resize_media

    resized = resize_media(synthesize_media(spark.table("documents")))
    return (
        resized.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("content")).cast("bigint").alias("total_bytes"),
            F.countDistinct(F.md5("content")).alias("n_distinct"),
            F.round(F.sum("luma"), 4).alias("sum_luma"),
        )
        .orderBy("modality")
    )


@register(
    "mm6_audio_window_energy",
    oracle="""
    WITH audio AS (
      SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1
    ), chars AS (
      SELECT media_id, (i.i - 1) // 25 AS win, unicode(substr(text, i.i, 1)) AS b
      FROM audio, (SELECT UNNEST(range(1, 700)) AS i) i
      WHERE i.i <= strlen(text)
    ), wins AS (
      SELECT media_id, win, SUM(b) AS energy FROM chars GROUP BY media_id, win
    )
    SELECT COUNT(DISTINCT media_id) AS n_assets,
           COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN energy < 2400 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
           CAST(SUM(energy) AS BIGINT) AS total_energy
    FROM wins
    """,
    tags=("multimodal", "audio", "windowing"),
    tables=("documents",),
)
def mm6_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio sample-windowing inventory: 25-byte windows per audio asset,
    per-window energy + silence flag (operators/multimodal.py
    audio_window_energy — all Catalyst; the VAD shape with a deterministic
    fake in place of PCM decode). The oracle re-windows relationally, so
    window boundaries, ragged tails and the silence rule are hash-checked."""
    wins = audio_window_energy(synthesize_media(spark.table("documents")))
    return wins.agg(
        F.countDistinct("media_id").alias("n_assets"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_silent").cast("bigint").alias("n_silent"),
        F.sum("energy").cast("bigint").alias("total_energy"),
    )


@register(
    "mm7_stratified_media_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id AS media_id,
             {_MODALITY_SQL} AS modality,
             strlen(text) AS n_bytes,
             ROW_NUMBER() OVER (
               PARTITION BY {_MODALITY_SQL}
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT modality,
           COUNT(*) AS n_kept,
           CAST(SUM(n_bytes) AS BIGINT) AS kept_bytes,
           CAST(SUM(media_id) AS BIGINT) AS kept_id_sum
    FROM ranked WHERE rn <= 50
    GROUP BY modality ORDER BY modality
    """,
    tags=("multimodal", "sampling"),
    tables=("documents",),
)
def mm7_stratified_media_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-balanced training mix: EXACTLY 50 assets per modality, chosen
    by smallest md5(id) — a deterministic uniform draw with a hard per-group
    quota (pipe4's hash-threshold gives a RATE, not a count). Per-group
    row_number is the exact-quota semantics; at 100 TB with 3 giant modality
    groups the same result comes from a two-phase top-n (per-partition
    TakeOrdered then global merge) — noted here because 3 keys ⇒ 3 reducers
    if done naively."""
    from pyspark.sql import Window

    media = synthesize_media(spark.table("documents"))
    w = Window.partitionBy("modality").orderBy(
        F.md5(F.col("media_id").cast("string")), "media_id"
    )
    return (
        media.select(
            "media_id",
            "modality",
            F.octet_length("content").alias("n_bytes"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 50)
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_bytes").cast("bigint").alias("kept_bytes"),
            F.sum("media_id").cast("bigint").alias("kept_id_sum"),
        )
        .orderBy("modality")
    )


_PHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN CAST(FLOOR(n*{i+1}/16.0) AS INT) > CAST(FLOOR(n*{i}/16.0) AS INT)"
    f" AND list_sum(bytes[CAST(FLOOR(n*{i}/16.0) AS INT)+1 :"
    f" CAST(FLOOR(n*{i+1}/16.0) AS INT)]) * n"
    f" > total * (CAST(FLOOR(n*{i+1}/16.0) AS INT) - CAST(FLOOR(n*{i}/16.0) AS INT))"
    f" THEN {1 << i} ELSE 0 END)"
    for i in range(16)
)

@register(
    "mm8_perceptual_neardup",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             {_MODALITY_SQL} AS modality,
             length(text) AS n,
             list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))
               AS bytes
      FROM documents
    ), t AS (
      SELECT media_id, modality, n, bytes, list_sum(bytes) AS total FROM m
    ), p AS (
      SELECT media_id, modality, CAST({_PHASH_BITS_SQL} AS INT) AS phash FROM t
    ), g AS (
      SELECT modality, phash, COUNT(*) AS cnt, MIN(media_id) AS keeper
      FROM p GROUP BY modality, phash
    )
    SELECT modality, COUNT(*) AS n_groups, CAST(SUM(cnt) AS BIGINT) AS n_assets,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_neardup,
           CAST(SUM(keeper) AS BIGINT) AS keeper_id_sum
    FROM g GROUP BY modality ORDER BY modality
    """,
    tags=("multimodal", "dedup", "phash"),
    tables=("documents",),
)
def mm8_perceptual_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup groups per modality: a 16-bit block-mean hash
    computed at the mapInPandas decode boundary (operators/multimodal.
    media_phash), then dedup is a groupBy on the hash — dd3's
    no-pair-join shape applied to binary content. Re-encodes and small
    edits collide; the integer cross-multiplication threshold makes the
    Python decode and the DuckDB oracle agree bit for bit."""
    from ..operators.multimodal import media_phash

    ph = media_phash(synthesize_media(spark.table("documents")))
    groups = ph.groupBy("modality", "phash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("media_id").alias("keeper")
    )
    return (
        groups.groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("cnt").cast("bigint").alias("n_assets"),
            (F.sum("cnt") - F.count(F.lit(1))).cast("bigint").alias("n_neardup"),
            F.sum("keeper").cast("bigint").alias("keeper_id_sum"),
        )
        .orderBy("modality")
    )


@register(
    "mm9_frame_dedup",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
      SELECT media_id, substr(text, i.i * {FRAME_BYTES} + 1, {FRAME_BYTES}) AS frame
      FROM vids, (SELECT UNNEST(range(0, 64)) AS i) i
      WHERE i.i * {FRAME_BYTES} < strlen(text)
    ), occ AS (
      SELECT md5(frame) AS fp, media_id, COUNT(*) AS occ
      FROM frames GROUP BY 1, 2
    ), xdoc AS (
      SELECT fp, COUNT(*) AS n_assets FROM occ GROUP BY fp
    )
    SELECT o.media_id,
           CAST(SUM(o.occ) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN x.n_assets >= 2 THEN o.occ ELSE 0 END)
                AS BIGINT) AS n_shared,
           ROUND(SUM(CASE WHEN x.n_assets >= 2 THEN o.occ ELSE 0 END) * 1.0
                 / SUM(o.occ), 6) AS shared_frac
    FROM occ o JOIN xdoc x USING (fp)
    GROUP BY o.media_id ORDER BY o.media_id
    """,
    tags=("multimodal", "frames", "dedup"),
    tables=("documents",),
)
def mm9_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level video dedup — dd7's duplicated-span semantics at the
    frame boundary: a frame is SHARED if its content occurs in >= 2
    distinct video assets (re-encoded copies, spliced segments); each video
    reports total frames, cross-asset shared frames, and the shared
    fraction — the removal signal a video-dedup pass thresholds on, at
    frame (not whole-file) granularity where partial copies live.

    Scale posture: frames fan out inside mapInPandas (no shuffle to
    explode); per-(frame-key, asset) occurrences partial-aggregate
    map-side so intra-video repetition never crosses the wire; the key is
    an 8-byte xxhash64 of the frame bytes (dd7's long-key discipline —
    the md5-keyed oracle counts the same distinct sets), and asset
    frequency is a second skinny partial agg. Whole frames never shuffle."""
    from ..operators.multimodal import sample_frames

    frames = sample_frames(synthesize_media(spark.table("documents")))
    occ = frames.groupBy(
        F.xxhash64("frame").alias("fp"), "media_id"
    ).agg(F.count(F.lit(1)).alias("occ"))
    xdoc = occ.groupBy("fp").agg(F.count(F.lit(1)).alias("n_assets"))
    return (
        occ.join(xdoc, "fp")
        .groupBy("media_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_frames"),
            F.sum(F.when(F.col("n_assets") >= 2, F.col("occ")).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "media_id",
            "n_frames",
            "n_shared",
            F.round(F.col("n_shared") * 1.0 / F.col("n_frames"), 6).alias(
                "shared_frac"
            ),
        )
        .orderBy("media_id")
    )


@register(
    "mm10_scene_changes",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
      -- octet-based: frame i covers BYTES [i*32, i*32+32) of the utf-8
      -- encoding, sliced as 2-hex-char chunks so the oracle agrees with
      -- Spark's binary chunking even for multi-byte characters
      SELECT media_id, i.i AS frame_idx,
             substr(hex(encode(text)), i.i * {2 * FRAME_BYTES} + 1, {2 * FRAME_BYTES}) AS hx
      FROM vids, (SELECT UNNEST(range(0, 64)) AS i) i
      WHERE i.i * {FRAME_BYTES} < octet_length(encode(text))
    ), energy AS (
      SELECT media_id, frame_idx,
             CAST(list_sum(list_transform(range(0, strlen(hx) // 2),
                  j -> ('0x' || substr(hx, j * 2 + 1, 2))::BIGINT)) AS BIGINT)
               AS energy
      FROM frames
    ), delta AS (
      SELECT media_id, energy,
             LAG(energy) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
      FROM energy
    )
    SELECT media_id,
           COUNT(*) AS n_frames,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ABS(energy - prev) > 200
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scene_changes,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ABS(energy - prev) > 200
                         THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_scenes
    FROM delta GROUP BY media_id ORDER BY media_id
    """,
    tags=("multimodal", "frames", "temporal"),
    tables=("documents",),
)
def mm10_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over sampled video frames — the temporal
    analytic the frame family exists for: per frame an energy score (byte
    sum — in production a luma histogram or phash), a scene cut wherever
    the frame-to-frame delta clears a threshold, per video the frame/cut/
    scene counts. The shot-segmentation primitive behind keyframe
    selection and per-scene captioning in a video training pipeline.

    Scale posture: frames fan out inside mapInPandas (no shuffle); the
    per-frame energy is a partial-aggregable byte sum; the ONLY ordered
    operation is a lag over (video, frame_idx) — frames-per-video bounded,
    embarrassingly parallel across videos; the final rollup is one skinny
    partial/final agg."""
    from pyspark.sql.window import Window

    from ..operators.multimodal import sample_frames

    frames = sample_frames(synthesize_media(spark.table("documents")))
    # Byte sum of the binary frame, no decode: one hex() per frame, then a
    # JVM-side fold over 2-hex-char chunks. Octet-based on BOTH engines —
    # a char-based sum would desync from the byte-sliced frames the moment
    # a multi-byte character lands on a frame boundary.
    energy = frames.select(
        "media_id",
        "frame_idx",
        F.expr(
            "aggregate(sequence(0, octet_length(frame) - 1), 0L,"
            " (acc, i) -> acc +"
            " cast(conv(substring(hex(frame), i * 2 + 1, 2), 16, 10) as bigint))"
        ).alias("energy"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    delta = energy.withColumn("prev", F.lag("energy").over(w))
    chg = (
        F.col("prev").isNotNull()
        & (F.abs(F.col("energy") - F.col("prev")) > 200)
    ).cast("bigint")
    return (
        delta.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(chg).alias("n_scene_changes"),
            (F.sum(chg) + 1).alias("n_scenes"),
        )
        .orderBy("media_id")
    )


@register(
    "mm11_png_codec_features",
    oracle="""
    WITH imgs AS (
      -- NULL/empty text mirrors synthesize_png_media's b'\\x00' substitute
      -- (hx '00', nb 1); bare octet_length 0 would make i % nb NULL and
      -- desync any empty-text fixture doc (round-9 advice)
      SELECT doc_id AS media_id,
             8 + doc_id % 5 AS w,
             4 + doc_id % 7 AS h,
             CASE WHEN COALESCE(text, '') = '' THEN '00'
                  ELSE hex(encode(text)) END AS hx,
             GREATEST(octet_length(encode(COALESCE(text, ''))), 1) AS nb
      FROM documents WHERE doc_id % 3 = 0
    ), px AS (
      SELECT media_id, w, h,
             ROUND(list_sum(list_transform(range(0, w * h),
                     i -> ('0x' || substr(hx, CAST((i % nb) * 2 + 1 AS BIGINT),
                                          2))::BIGINT))
                   / (w * h) / 255.0, 6) AS luma
      FROM imgs
    )
    SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           COUNT(*) AS n_assets,
           ROUND(SUM(luma), 6) AS sum_luma
    FROM px GROUP BY width, height ORDER BY width, height
    """,
    tags=("multimodal", "codec", "png"),
    tables=("documents",),
)
def mm11_png_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL codec path, value-oracle-checked end to end: documents become
    actual 8-bit grayscale PNG streams (pixels = utf-8 bytes cycled over a
    doc-keyed W×H canvas, encoded with zlib), then the standard
    decode/feature stage runs them through ``auto_decode``'s pure-stdlib
    PNG decoder (zlib inflate + per-scanline unfilter, PIL's integer
    ITU-R 601-2 luma). The oracle re-derives every decoded (width, height,
    luma) from the document bytes directly, so a decode defect desyncs
    the hash.

    Scale posture: encode and decode both ride mapInPandas per input
    partition (no shuffle carries content bytes); the rollup is one skinny
    partial/final agg over small feature rows."""
    from ..operators.multimodal import extract_media_features, synthesize_png_media

    docs = spark.table("documents").filter(F.col("doc_id") % 3 == 0)
    feats = extract_media_features(synthesize_png_media(docs))
    return (
        feats.groupBy("width", "height")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.round(F.sum("luma"), 6).alias("sum_luma"),
        )
        .orderBy("width", "height")
    )
