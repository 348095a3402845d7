"""Multimodal surface: binary columns, content-hash dedup, and the
mapInPandas decode plumbing (batch shape, schema, binary round-trip)."""

from __future__ import annotations

import hashlib

import pytest

from trafficanalysisbigdata_spark.io import register_views
from trafficanalysisbigdata_spark.operators.multimodal import (
    extract_media_features,
    fake_decode,
    synthesize_media,
)
from trafficanalysisbigdata_spark.session import prep


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "documents")
    return synthesize_media(spark.table("documents"))


def test_media_schema(media):
    dt = dict(media.dtypes)
    assert dt["content"] == "binary"
    assert dt["modality"] == "string"
    assert dt["meta"].startswith("struct<")


def test_features_match_local_recompute(spark, media):
    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    sample = media.limit(20).collect()
    assert len(feats) == media.count()
    for row in sample:
        raw = bytes(row.content)
        w, h, luma = fake_decode(raw)
        got = feats[row.media_id]
        assert (got.width, got.height) == (w, h)
        assert abs(got.luma - round(luma, 6)) < 1e-9
        assert got.n_pixels == w * h
        assert got.fingerprint == hashlib.md5(raw).hexdigest()


def test_features_survive_many_partitions(media):
    """Arrow batching must be per-partition-safe, including empty partitions."""
    many = media.repartition(64)
    out = extract_media_features(many)
    assert out.count() == media.count()
    assert out.select("media_id").distinct().count() == media.count()


def test_sample_frames_ragged_tail(spark):
    """67 bytes at FRAME_BYTES=32 -> 3 frames: 32+32+3; empty content -> 0."""
    from trafficanalysisbigdata_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, "video", b"x" * 67), (2, "video", b""), (3, "image", b"y" * 64)],
        "media_id long, modality string, content binary",
    )
    rows = sorted(
        (r.media_id, r.frame_idx, len(bytes(r.frame)))
        for r in sample_frames(media).collect()
    )
    # image row filtered out; empty video emits no frames
    assert rows == [(1, 0, 32), (1, 1, 32), (1, 2, 3)]


def test_audio_window_energy_math(spark, monkeypatch):
    """Window boundaries, energy sums, ragged tail, silence rule."""
    from trafficanalysisbigdata_spark.operators import multimodal

    # 30 'z' bytes (ord 122): window 0 = 25 full bytes -> 3050 (not silent at
    # threshold 3000), window 1 = 5-byte tail -> 610 (silent); image filtered
    media = spark.createDataFrame(
        [(1, "audio", b"z" * 30), (2, "image", b"z" * 30)],
        "media_id long, modality string, content binary",
    )
    monkeypatch.setattr(multimodal, "AUDIO_WINDOW_BYTES", 25)
    monkeypatch.setattr(multimodal, "AUDIO_SILENCE_THRESHOLD", 3000)
    rows = sorted(
        (r.media_id, r.win, r.energy, r.is_silent)
        for r in multimodal.audio_window_energy(media).collect()
    )
    assert rows == [(1, 0, 25 * 122, 0), (1, 1, 5 * 122, 1)]


def test_mm10_energy_is_octet_based_on_both_engines(spark):
    """Frames are BYTE slices (sample_frames chunks the utf-8 encoding), so
    frame energy must be a byte sum on both engines: a multi-byte character
    split across a frame boundary would make any char-based sum (cast frame
    to string, unicode()/ascii() per char) diverge or hit invalid utf-8.
    Runs mm10's Spark plan and its DuckDB oracle over documents containing
    2- and 3-byte characters positioned to straddle 32-byte boundaries."""
    import duckdb
    import pandas as pd

    from trafficanalysisbigdata_spark.plans.queries_multimodal import (
        mm10_scene_changes,
    )
    from trafficanalysisbigdata_spark.plans.registry import load_all

    docs = pd.DataFrame(
        {
            "doc_id": [2, 5, 8, 11],
            "text": [
                "héllo wörld " * 12,       # 2-byte chars, many boundaries
                "世界 data 漢字 " * 10,      # 3-byte chars
                "plain ascii only " * 9,   # control: ascii
                "x" * 31 + "é" + "y" * 40, # é split across frame 0/1 boundary
            ],
        }
    )
    docs["lang"] = "xx"
    docs["source"] = "unit"
    docs["n_chars"] = docs["text"].str.len()

    spark.createDataFrame(docs).createOrReplaceTempView("documents")
    try:
        sdf = mm10_scene_changes(spark, "")
        got = {tuple(r) for r in sdf.collect()}
    finally:
        spark.catalog.dropTempView("documents")

    con = duckdb.connect()
    con.register("documents", docs)
    oracle = load_all()["mm10_scene_changes"].oracle
    want = {tuple(r) for r in con.execute(oracle).fetchall()}
    assert got == want
    assert len(got) >= 1  # doc_id % 3 == 2 rows survive the vids filter


def _build_png(rows, ctype, filters, plte=b""):
    """Test-side PNG builder: applies the FORWARD filter per scanline (the
    inverse of the decoder's unfilter) so every filter type 0-4 gets an
    adversarial real stream, then assembles chunks."""
    import struct
    import zlib

    from trafficanalysisbigdata_spark.operators.multimodal import (
        PNG_SIG,
        _PNG_CHANNELS,
    )

    ch = _PNG_CHANNELS[ctype]
    width = len(rows[0]) // ch
    height = len(rows)
    stride = width * ch
    raw = bytearray()
    prev = bytes(stride)
    for y, line in enumerate(rows):
        f = filters[y]
        raw.append(f)
        out = bytearray(line)
        if f == 1:
            for i in range(stride - 1, ch - 1, -1):
                out[i] = (out[i] - line[i - ch]) & 0xFF
        elif f == 2:
            for i in range(stride):
                out[i] = (out[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                out[i] = (out[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (out[i] - pred) & 0xFF
        raw.extend(out)
        prev = bytes(line)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    body = chunk(b"IHDR", ihdr)
    if plte:
        body += chunk(b"PLTE", plte)
    body += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return PNG_SIG + body


def test_png_roundtrip_gray():
    from trafficanalysisbigdata_spark.operators.multimodal import (
        encode_png_gray,
        png_decode,
    )

    px = bytes(range(48))  # 8x6 gradient
    w, h, luma = png_decode(encode_png_gray(px, 8, 6))
    assert (w, h) == (8, 6)
    assert abs(luma - sum(px) / 48 / 255.0) < 1e-12


def test_png_all_filters_agree():
    """The same pixel matrix encoded with every scanline filter must decode
    identically — this is the unfilter logic under adversarial streams."""
    from trafficanalysisbigdata_spark.operators.multimodal import png_decode

    rows = [bytes((x * 37 + y * 11) % 256 for x in range(10)) for y in range(5)]
    want = png_decode(_build_png(rows, 0, [0] * 5))
    for f in (1, 2, 3, 4):
        assert png_decode(_build_png(rows, 0, [f] * 5)) == want
    mixed = png_decode(_build_png(rows, 0, [0, 1, 2, 3, 4]))
    assert mixed == want


def test_png_color_types_use_pil_luma():
    from trafficanalysisbigdata_spark.operators.multimodal import (
        _l601,
        png_decode,
    )

    # 2x1 RGB: red and white
    rgb = [bytes([255, 0, 0, 255, 255, 255])]
    w, h, luma = png_decode(_build_png(rgb, 2, [4]))
    want = (_l601(255, 0, 0) + _l601(255, 255, 255)) / 2 / 255.0
    assert (w, h) == (2, 1) and abs(luma - want) < 1e-12
    # RGBA: alpha ignored (PIL convert("L") semantics)
    rgba = [bytes([255, 0, 0, 7, 255, 255, 255, 9])]
    assert png_decode(_build_png(rgba, 6, [2]))[2] == luma
    # palette: two entries, both pixels -> entry 1
    plte = bytes([0, 0, 0, 10, 200, 30])
    pal = [bytes([1, 1])]
    _, _, pl = png_decode(_build_png(pal, 3, [1], plte=plte))
    assert abs(pl - _l601(10, 200, 30) / 255.0) < 1e-12
    # gray+alpha: luma is the gray channel
    ga = [bytes([100, 3, 200, 5])]
    assert abs(png_decode(_build_png(ga, 4, [3]))[2] - 150 / 255.0) < 1e-12


def test_auto_decode_tiers():
    """PNG-signature bytes take the REAL stdlib decoder; non-PNG bytes take
    the deterministic fake tier; unsupported PNGs (Adam7) fall through to
    fake instead of raising."""
    import struct
    import zlib

    from trafficanalysisbigdata_spark.operators.multimodal import (
        PNG_SIG,
        auto_decode,
        encode_png_gray,
        fake_decode,
        png_decode,
    )

    png = encode_png_gray(bytes(range(12)), 4, 3)
    assert auto_decode(png) == png_decode(png)
    blob = b"just some text bytes"
    assert auto_decode(blob) == fake_decode(blob)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    interlaced = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00ab\x00cd"))
        + chunk(b"IEND", b"")
    )
    assert auto_decode(interlaced) == fake_decode(interlaced)

    # MALFORMED PNGs raise non-ValueError exceptions from the stdlib parse
    # (zlib.error / struct.error / IndexError) — each must fall through to
    # the fake tier, not crash the mapInPandas task (round-9 advice).
    corrupt_idat = (  # valid header, garbage IDAT -> zlib.error
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", b"\xde\xad\xbe\xef")
        + chunk(b"IEND", b"")
    )
    assert auto_decode(corrupt_idat) == fake_decode(corrupt_idat)
    truncated = PNG_SIG + struct.pack(">I", 13) + b"IHDR" + b"\x00\x00"
    assert auto_decode(truncated) == fake_decode(truncated)  # struct.error
    no_plte = (  # palette color type but no PLTE chunk -> IndexError
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x01"))
        + chunk(b"IEND", b"")
    )
    assert auto_decode(no_plte) == fake_decode(no_plte)


def test_auto_decode_png_tier_narrowed(monkeypatch):
    """The PNG tier catches exactly what a torn stream raises (the cases in
    ``test_auto_decode_tiers``); any other exception in the decode path is
    a bug and propagates instead of being downgraded to the fake tier."""
    from trafficanalysisbigdata_spark.operators import multimodal as mm

    png = mm.encode_png_gray(bytes(range(12)), 4, 3)
    monkeypatch.setattr(
        mm, "png_decode", lambda b: (_ for _ in ()).throw(RuntimeError("decoder bug"))
    )
    with pytest.raises(RuntimeError, match="decoder bug"):
        mm.auto_decode(png)


def test_mm11_empty_text_doc_oracle_parity(spark):
    """Empty/NULL-text documents: synthesize_png_media substitutes a single
    zero byte, and the mm11 oracle must mirror that fallback (hx '00',
    nb 1) instead of computing i % 0 — the round-9 advice desync. Runs the
    registered query AND its DuckDB oracle over a 3-doc fixture where the
    doc_id % 3 = 0 rows are exactly the degenerate ones."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import compare
    from trafficanalysisbigdata_spark.plans.registry import load_all

    spec = load_all()["mm11_png_codec_features"]
    pdf = pd.DataFrame(
        {"doc_id": [0, 3, 6, 7], "text": ["", None, "hello world", "skip"]}
    )
    s2 = spark.newSession()
    s2.createDataFrame(
        [(0, ""), (3, None), (6, "hello world"), (7, "skip")],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents")
    out = spec.fn(s2, "")
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = con.execute(spec.oracle).df()
    assert compare("mm11_empty_text", out, duck) == []
    # the degenerate docs decode as all-zero pixels: luma contribution 0
    rows = {(r.width, r.height): r for r in out.collect()}
    assert rows[(8, 4)].sum_luma == 0.0   # doc 0: W=8,H=4, all-zero canvas
    assert rows[(8 + 3 % 5, 4 + 3 % 7)].sum_luma == 0.0
