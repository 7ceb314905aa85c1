"""Pure-stdlib PNG codec (ext/png): roundtrip, cross-filter, strictness.

The decoder is the real-codec retirement of the multimodal decode stub
(round-10 verdict item): it must reconstruct every filter type exactly and
fail LOUD on anything malformed or out of scope — a silently wrong pixel
is worse than no decode at all.
"""

from __future__ import annotations

import hashlib
import zlib

import pytest

from sparkgraft.ext import png


def _pixels(n: int, seed: int = 7) -> bytes:
    return bytes((seed * 31 + j) % 256 for j in range(n))


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter_and_colortype(color_type, ch, ft):
    w, h = 11, 6
    px = _pixels(w * h * ch, seed=ft + color_type)
    data = png.encode(w, h, px, color_type=color_type, filters=[ft] * h)
    d = png.decode(data)
    assert d["pixels"] == px
    assert (d["width"], d["height"], d["bit_depth"], d["color_type"]) == (
        w, h, 8, color_type,
    )


def test_mixed_filters_and_single_column_edge():
    # width 1 exercises the x < ch boundary (a and c predictors are 0)
    for w, h in ((1, 9), (2, 1), (17, 13)):
        px = _pixels(w * h)
        data = png.encode(w, h, px, filters=[y % 5 for y in range(h)])
        assert png.decode(data)["pixels"] == px


def test_decoder_strictness():
    good = png.encode(4, 4, _pixels(16))
    with pytest.raises(ValueError, match="bad signature"):
        png.decode(b"\x00" * 20)
    corrupt = bytearray(good)
    corrupt[20] ^= 0x01  # inside IHDR body
    with pytest.raises(ValueError, match="CRC mismatch"):
        png.decode(bytes(corrupt))
    with pytest.raises(ValueError, match="truncated"):
        png.decode(good[:-8])
    # declared scope: 16-bit refused by name (interlace and palette became
    # supported inputs in round 13); an unknown interlace METHOD still fails
    import struct

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    bad = png.SIGNATURE + png._chunk(b"IHDR", ihdr16)
    with pytest.raises(ValueError, match="bit depth 16"):
        png.decode(bad)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    with pytest.raises(ValueError, match="interlace method 2"):
        png.decode(png.SIGNATURE + png._chunk(b"IHDR", ihdr_i))


def test_inflated_length_check():
    # valid framing, wrong pixel count inside IDAT
    import struct

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00" * 7)  # not (stride+1)*h
    data = (
        png.SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", idat)
        + png._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflated stream"):
        png.decode(data)


def test_multi_idat_chunks_concatenate():
    """PNG allows the compressed stream split across IDAT chunks — a real
    decoder must concatenate before inflating."""
    w, h = 6, 5
    px = _pixels(w * h)
    whole = png.encode(w, h, px)
    # re-split: rebuild the file with the IDAT payload cut in two
    import struct

    pos, chunks = 8, []
    while pos < len(whole):
        (ln,) = struct.unpack(">I", whole[pos : pos + 4])
        tag = whole[pos + 4 : pos + 8]
        body = whole[pos + 8 : pos + 8 + ln]
        chunks.append((tag, body))
        pos += 12 + ln
    out = bytearray(png.SIGNATURE)
    for tag, body in chunks:
        if tag == b"IDAT":
            mid = len(body) // 2
            out += png._chunk(b"IDAT", body[:mid])
            out += png._chunk(b"IDAT", body[mid:])
        else:
            out += png._chunk(tag, body)
    assert png.decode(bytes(out))["pixels"] == px


def test_synth_payload_matches_oracle_arithmetic():
    """The lane's generation rule must be exactly what the SQL oracle
    states: dims from id, pixel i = (id*31+i)%256, digest of source pixels
    survives the encode->decode roundtrip."""
    for i in (0, 1, 12, 13, 97, 1_000_003):
        w, h = 4 + i % 13, 3 + i % 7
        px = bytes((i * 31 + j) % 256 for j in range(w * h))
        data = png.encode(w, h, px, filters=[(i + y) % 5 for y in range(h)])
        d = png.decode(data)
        assert (d["width"], d["height"]) == (w, h)
        assert sum(d["pixels"]) == sum(px)
        assert hashlib.md5(d["pixels"]).hexdigest() == hashlib.md5(px).hexdigest()


# ---------------------------------------------------------------------------
# nearest_resample (the real resize path, round 10)
# ---------------------------------------------------------------------------


def _reference_resample(px, w, h, ow, oh):
    """Per-pixel Python restatement of the floor-mapped nearest rule —
    the independent check the numpy gather is compared against."""
    return bytes(
        px[((y * h) // oh) * w + ((x * w) // ow)]
        for y in range(oh)
        for x in range(ow)
    )


def test_nearest_resample_matches_reference():
    from sparkgraft.ext.multimodal import nearest_resample

    for i in (0, 1, 5, 12, 13, 97, 1_000_003):
        w, h = 4 + i % 13, 3 + i % 7
        px = bytes((i * 31 + j) % 256 for j in range(w * h))
        ow, oh = 8, max(1, (h * 8) // w)
        got = nearest_resample(px, w, h, ow, oh)
        assert got == _reference_resample(px, w, h, ow, oh)
        assert len(got) == ow * oh


def test_nearest_resample_upscale_downscale_identity():
    from sparkgraft.ext.multimodal import nearest_resample

    px = bytes(range(12))  # 4x3
    # identity geometry is a byte-identical no-op
    assert nearest_resample(px, 4, 3, 4, 3) == px
    # upscale 2x: every source pixel appears in a 2x2 block
    up = nearest_resample(px, 4, 3, 8, 6)
    assert up == _reference_resample(px, 4, 3, 8, 6)
    assert up[0] == up[1] == px[0]
    # downscale to 1x1 keeps the (0,0) source pixel under the floor rule
    assert nearest_resample(px, 4, 3, 1, 1) == px[:1]


def test_nearest_resample_rejects_bad_extents():
    import pytest

    from sparkgraft.ext.multimodal import nearest_resample

    with pytest.raises(ValueError, match="positive"):
        nearest_resample(b"", 0, 1, 1, 1)
    with pytest.raises(ValueError, match="pixel buffer"):
        nearest_resample(b"\x00" * 5, 4, 3, 2, 2)


def test_resize_png_features_end_to_end(spark):
    """decode+resample over real payloads: dims, exact resampled sum vs
    the per-pixel reference, digest certificate, NULL passthrough."""
    import pandas as pd

    from sparkgraft.ext import multimodal

    ids = [0, 1, 12, 13, 97, 103]
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    payloads = multimodal.synth_png_payloads(docs)
    out = {
        r["doc_id"]: r
        for r in multimodal.resize_png_features(payloads, target_width=8)
        .collect()
    }
    for i in ids:
        w, h = 4 + i % 13, 3 + i % 7
        px = bytes((i * 31 + j) % 256 for j in range(w * h))
        ow, oh = 8, max(1, (h * 8) // w)
        ref = _reference_resample(px, w, h, ow, oh)
        r = out[i]
        assert (r["width"], r["height"]) == (w, h)
        assert (r["out_width"], r["out_height"]) == (ow, oh)
        assert r["out_pixels"] == ow * oh
        assert r["out_pixel_sum"] == sum(ref)
        assert r["out_md5"] == hashlib.md5(ref).hexdigest()
        assert r["pixel_md5"] == r["source_md5"]  # codec roundtrip held


def test_resize_png_features_null_payload(spark):
    from pyspark.sql import types as T

    from sparkgraft.ext import multimodal

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("source_md5", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(7, None, None)], schema)
    [r] = multimodal.resize_png_features(df).collect()
    assert r["doc_id"] == 7
    for c in ("width", "out_height", "out_pixel_sum", "out_md5"):
        assert r[c] is None


def test_decode_png_features_null_payload(spark):
    """A NULL payload decodes to NULL features next to a real one; extra
    input columns ride along on both rows, after the declared schema
    (``interlace`` sits right behind ``pixel_md5``)."""
    from pyspark.sql import functions as F

    from sparkgraft.ext import multimodal

    ids = spark.createDataFrame([(3,), (4,)], "doc_id bigint")
    df = (
        multimodal.synth_png_payloads(ids)
        .withColumn("payload", F.when(F.col("doc_id") == 3, F.col("payload")))
        .withColumn("tag", F.concat(F.lit("t"), F.col("doc_id").cast("string")))
    )
    out = multimodal.decode_png_features(df, include_interlace=True)
    cols = out.columns
    assert cols[cols.index("pixel_md5") + 1] == "interlace"
    assert cols[-2:] == ["source_md5", "tag"]
    rows = {r["doc_id"]: r for r in out.collect()}
    real, null = rows[3], rows[4]
    assert (real["tag"], null["tag"]) == ("t3", "t4")
    assert (real["width"], real["height"], real["interlace"]) == (7, 6, 0)
    assert real["pixel_md5"] == real["source_md5"]
    for c in cols[1 : cols.index("interlace") + 1]:
        assert null[c] is None, c


# ---------------------------------------------------------------------------
# round 13: Adam7 interlace + paletted (PLTE) decode — the two web-common
# layouts previously refused by name (r12 verdict item #3)
# ---------------------------------------------------------------------------


def test_adam7_roundtrip_every_colortype():
    """Interlaced streams decode to the SAME pixels as their progressive
    (scanline-order) twin — pass extraction, per-pass filtering, and the
    scatter grid all exact.  Sizes straddle the 8x8 pass tile so small
    images exercise EMPTY passes."""
    for ct, ch in ((0, 1), (2, 3), (6, 4)):
        for w, h in ((1, 1), (3, 2), (5, 7), (8, 8), (9, 10), (17, 13)):
            px = _pixels(w * h * ch, seed=ct + w)
            nl = png.scanline_count(w, h, 1)
            filters = [k % 5 for k in range(nl)]
            d = png.decode(
                png.encode(w, h, px, color_type=ct, filters=filters, interlace=1)
            )
            assert d["pixels"] == px, (ct, w, h)
            assert d["interlace"] == 1


def test_palette_roundtrip_all_depths():
    """Color type 3 at every legal depth (1/2/4/8): indices survive the
    sub-byte MSB-first packing, and pixels come back palette-expanded.
    Widths are chosen to leave partial trailing bytes in packed rows."""
    for depth in (1, 2, 4, 8):
        n_pal = min(200, 1 << depth)
        pal = bytes((11 * k + c) % 256 for k in range(n_pal) for c in (0, 1, 2))
        for w, h in ((1, 1), (3, 5), (7, 3), (9, 4), (13, 2)):
            idx = bytes((w + j * 31) % n_pal for j in range(w * h))
            d = png.decode(
                png.encode(
                    w, h, idx, color_type=3, bit_depth=depth, palette=pal,
                    filters=[y % 5 for y in range(h)],
                )
            )
            assert d["indices"] == idx, (depth, w, h)
            assert d["pixels"] == b"".join(
                pal[i * 3 : i * 3 + 3] for i in idx
            )
            assert (d["bit_depth"], d["color_type"]) == (depth, 3)


def test_palette_adam7_subbyte_combined():
    """The heaviest composition: 4-bit palette + Adam7 — per-pass sub-byte
    packing with per-pass filter state."""
    pal = bytes(range(48))  # 16 entries
    w, h = 11, 9
    idx = bytes((j * 7) % 16 for j in range(w * h))
    nl = png.scanline_count(w, h, 1)
    enc = png.encode(
        w, h, idx, color_type=3, bit_depth=4, palette=pal, interlace=1,
        filters=[(k * 3) % 5 for k in range(nl)],
    )
    d = png.decode(enc)
    assert d["indices"] == idx
    assert d["pixels"] == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)


def test_palette_strictness():
    pal = bytes(range(12))  # 4 entries
    idx = bytes([0, 1, 2, 3])
    good = png.encode(2, 2, idx, color_type=3, bit_depth=8, palette=pal)
    # stream whose index points past the PLTE: shrink the palette in place
    import struct

    i = good.index(b"PLTE") - 4
    (ln,) = struct.unpack(">I", good[i : i + 4])
    shrunk = good[: i] + png._chunk(b"PLTE", pal[:9]) + good[i + 12 + ln :]
    with pytest.raises(ValueError, match="past the 3-entry PLTE"):
        png.decode(shrunk)
    # PLTE removed entirely
    gone = good[:i] + good[i + 12 + ln :]
    with pytest.raises(ValueError, match="without a PLTE"):
        png.decode(gone)
    # PLTE with a non-multiple-of-3 body
    bad_len = good[:i] + png._chunk(b"PLTE", pal[:10]) + good[i + 12 + ln :]
    with pytest.raises(ValueError, match="1-256 RGB triples"):
        png.decode(bad_len)
    # PLTE on a grayscale image is spec-forbidden
    gray = png.encode(2, 2, bytes(4), color_type=0)
    j = gray.index(b"IDAT") - 4
    with_pal = gray[:j] + png._chunk(b"PLTE", pal) + gray[j:]
    with pytest.raises(ValueError, match="PLTE forbidden"):
        png.decode(with_pal)
    # encoder-side guards
    with pytest.raises(ValueError, match="needs a PLTE"):
        png.encode(2, 2, idx, color_type=3)
    with pytest.raises(ValueError, match="index out of range"):
        png.encode(2, 2, bytes([0, 1, 2, 7]), color_type=3, bit_depth=2, palette=pal)
    with pytest.raises(ValueError, match="palette only valid"):
        png.encode(2, 2, bytes(4), color_type=0, palette=pal)
    with pytest.raises(ValueError, match="bit depth 4 invalid"):
        png.encode(2, 2, bytes(4), color_type=0, bit_depth=4)


def test_trns_exposed_and_bounded():
    """tRNS rides through as raw bytes; longer-than-palette fails loud."""
    pal = bytes(range(12))
    good = png.encode(2, 2, bytes([0, 1, 2, 3]), color_type=3, bit_depth=8, palette=pal)
    j = good.index(b"IDAT") - 4
    with_t = good[:j] + png._chunk(b"tRNS", bytes([255, 128])) + good[j:]
    d = png.decode(with_t)
    assert d["trns"] == bytes([255, 128])
    too_long = good[:j] + png._chunk(b"tRNS", bytes(5)) + good[j:]
    with pytest.raises(ValueError, match="tRNS longer"):
        png.decode(too_long)
    assert png.decode(good)["trns"] is None


def test_scanline_count_adam7():
    """Spot-check the pass arithmetic: an 8x8 tile has one row in passes
    1/2, and 16x16 doubles every pass."""
    assert png.scanline_count(8, 8, 0) == 8
    assert png.scanline_count(8, 8, 1) == 1 + 1 + 1 + 2 + 2 + 4 + 4
    assert png.scanline_count(16, 16, 1) == 2 * (1 + 1 + 1 + 2 + 2 + 4 + 4)
    # 1x1: only pass 1 is non-empty
    assert png.scanline_count(1, 1, 1) == 1


def test_adam7_truncated_pass_fails_loud():
    px = _pixels(9 * 10)
    enc = png.encode(9, 10, px, interlace=1)
    # corrupt: reuse framing but drop bytes from the inflated stream
    import struct

    i = enc.index(b"IDAT") - 4
    (ln,) = struct.unpack(">I", enc[i : i + 4])
    raw = zlib.decompress(enc[i + 8 : i + 8 + ln])
    short = (
        enc[:i]
        + png._chunk(b"IDAT", zlib.compress(raw[:-3]))
        + enc[i + 12 + ln :]
    )
    with pytest.raises(ValueError, match="inflated stream"):
        png.decode(short)
