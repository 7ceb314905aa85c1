"""Baseline-JPEG codec (ext/jpeg): roundtrips, the lossless-class claim,
an independent IDCT reference, Huffman/zigzag structure, and the declared
refusals.

The driver lane proves the DC-only exact path through the oracle; these
tests cover what the lane can't — the AC run-length path (including ZRL),
quantization-error bounds on arbitrary images, edge-replication crop, and
every refusal branch by name."""

from __future__ import annotations

import hashlib
import math
import random

import pytest

from sparkgraft.ext import jpeg, multimodal


# ---------------------------------------------------------------------------
# structural invariants
# ---------------------------------------------------------------------------


def test_zigzag_is_a_permutation_with_spec_prefix():
    assert sorted(jpeg.ZIGZAG) == list(range(64))
    # T.81 Figure 5's first and last entries
    assert jpeg.ZIGZAG[:10] == (0, 1, 8, 16, 9, 2, 3, 10, 17, 24)
    assert jpeg.ZIGZAG[-4:] == (47, 55, 62, 63)


def test_annex_k_tables_are_full_and_prefix_free():
    for bits, vals in (
        (jpeg.DC_BITS, jpeg.DC_VALS),
        (jpeg.AC_BITS, jpeg.AC_VALS),
        (jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS),
        (jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS),
    ):
        assert sum(bits) == len(vals)
        codes = jpeg._canonical_codes(bits, vals)
        assert len(codes) == len(vals)
        # prefix-free: no code is a prefix of a longer one
        as_bits = {
            format(c, f"0{ln}b") for c, ln in codes.values()
        }
        for a in as_bits:
            for b in as_bits:
                assert a == b or not b.startswith(a), (a, b)
    assert len(jpeg.AC_VALS) == 162  # the spec's table size
    assert len(jpeg.AC_CHROMA_VALS) == 162


def test_extend_matches_spec_examples():
    # size-3 payloads: 0..3 -> -7..-4, 4..7 -> 4..7
    assert [jpeg._extend(v, 3) for v in range(8)] == [-7, -6, -5, -4, 4, 5, 6, 7]
    assert jpeg._extend(0, 0) == 0
    assert jpeg._extend(0, 1) == -1 and jpeg._extend(1, 1) == 1


# ---------------------------------------------------------------------------
# transform correctness
# ---------------------------------------------------------------------------


def _reference_idct(coefs):
    """Independent direct-form IDCT (pure math.cos, no shared code with
    the decoder's numpy matmul path)."""
    out = []
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                cu = math.sqrt(0.5) if u == 0 else 1.0
                for v in range(8):
                    cv = math.sqrt(0.5) if v == 0 else 1.0
                    acc += (
                        cu * cv / 4.0
                        * coefs[u * 8 + v]
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                    )
            out.append(max(0, min(255, int(round(acc + 128.0)))))
    return out


def test_idct_matches_independent_reference():
    random.seed(11)
    for _ in range(10):
        coefs = [random.randint(-400, 400) for _ in range(64)]
        got = jpeg._idct(coefs)
        ref = _reference_idct(coefs)
        assert max(abs(a - b) for a, b in zip(got, ref)) <= 1


def test_fdct_idct_are_inverses_without_quantization():
    random.seed(13)
    block = [random.randrange(256) for _ in range(64)]
    coefs = jpeg._fdct(block)
    assert jpeg._idct(coefs) == block


# ---------------------------------------------------------------------------
# roundtrips
# ---------------------------------------------------------------------------


def _blocky(i: int):
    wb, hb = 1 + i % 3, 1 + i % 2
    w, h = 8 * wb, 8 * hb
    px = bytearray(w * h)
    for by in range(hb):
        for bx in range(wb):
            v = 64 + 2 * ((i * 7 + bx * 3 + by * 5) % 64)
            for y in range(8):
                for x in range(8):
                    px[(by * 8 + y) * w + bx * 8 + x] = v
    return w, h, bytes(px)


def test_dc_only_class_roundtrips_exactly():
    """The lossless-quantization claim the driver oracle rests on, over
    every (wb, hb, value-pattern) class the generator emits."""
    for i in range(0, 384):
        w, h, px = _blocky(i)
        d = jpeg.decode(jpeg.encode_gray(w, h, px))
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixels"] == px, f"id {i} not bit-exact"


def test_arbitrary_image_roundtrips_within_quantization_error():
    """Noise exercises the full AC path (runs, ZRL, EOB); flat q=16 bounds
    per-coefficient error by q/2, so pixel error stays small but nonzero —
    a REAL lossy codec, not a pass-through."""
    random.seed(7)
    px = bytes(random.randrange(256) for _ in range(32 * 16))
    d = jpeg.decode(jpeg.encode_gray(32, 16, px))
    diffs = [abs(a - b) for a, b in zip(px, d["pixels"])]
    assert max(diffs) <= 40 and sum(diffs) / len(diffs) < 8
    assert any(diffs), "noise should not roundtrip losslessly at q=16"


def test_gradient_exercises_zrl_and_long_runs():
    px = bytes(min(255, x * 2 + y) for y in range(16) for x in range(24))
    d = jpeg.decode(jpeg.encode_gray(24, 16, px))
    diffs = [abs(a - b) for a, b in zip(px, d["pixels"])]
    assert max(diffs) <= 16


def test_non_multiple_of_8_crops_back():
    px = bytes((i * 17) % 256 for i in range(13 * 9))
    d = jpeg.decode(jpeg.encode_gray(13, 9, px))
    assert (d["width"], d["height"], len(d["pixels"])) == (13, 9, 13 * 9)


def test_byte_stuffing_roundtrip():
    """A bright constant image drives large DC payloads that can emit
    0xFF entropy bytes; whatever the content, stuffing must be invisible."""
    for v in (254, 130, 64):
        px = bytes([v]) * 64
        d = jpeg.decode(jpeg.encode_gray(8, 8, px))
        assert d["pixels"] == px


# ---------------------------------------------------------------------------
# color path: fixed-point transform + interleaved 4:4:4 scan
# ---------------------------------------------------------------------------


def test_fixed_point_transform_matches_sql_floor_formula():
    """The decoder's `(c*v + 32768) >> 16` must equal the oracle's
    FLOOR((c*v + 32768)/65536.0) for every Cb/Cr value — the arithmetic
    shift IS floor division, including on negatives."""
    for v in range(-128, 128):
        for c in (91881, -22554, -46802, 116131):
            assert (c * v + 32768) >> 16 == math.floor(
                (c * v + 32768) / 65536.0
            )


def test_gray_pixel_is_lossless_through_forward_transform():
    for v in range(256):
        assert jpeg.rgb_to_ycbcr(v, v, v) == (v, 128, 128)


def test_inverse_transform_clamps():
    # r and b hit the 255/0 rails; g stays interior — pinned values
    assert jpeg.ycbcr_to_rgb(255, 255, 255) == (255, 121, 255)
    assert jpeg.ycbcr_to_rgb(0, 0, 0) == (0, 135, 0)
    assert jpeg.ycbcr_to_rgb(128, 128, 255) == (255, 37, 128)


def test_ycbcr_constant_even_blocks_roundtrip_exactly():
    """The color sibling of the grayscale exactness contract: constant
    EVEN blocks in all three planes survive encode->decode bit-exactly,
    across multiple blocks (per-component DC predictors do real work)."""
    w, h = 24, 16
    yp, cbp, crp = bytearray(w * h), bytearray(w * h), bytearray(w * h)
    for by in range(2):
        for bx in range(3):
            yv = 64 + 2 * ((bx * 3 + by * 5) % 64)
            cbv = 96 + 2 * ((bx * 5 + by * 7) % 32)
            crv = 96 + 2 * ((bx * 7 + by * 11) % 32)
            for y in range(8):
                for x in range(8):
                    i = (by * 8 + y) * w + bx * 8 + x
                    yp[i], cbp[i], crp[i] = yv, cbv, crv
    d = jpeg.decode(jpeg.encode_ycbcr(w, h, bytes(yp), bytes(cbp), bytes(crp)))
    assert d["n_components"] == 3
    assert d["y"] == bytes(yp) and d["cb"] == bytes(cbp) and d["cr"] == bytes(crp)
    # rgb is exactly the fixed-point inverse of the decoded planes
    exp = bytearray()
    for i in range(w * h):
        exp.extend(jpeg.ycbcr_to_rgb(yp[i], cbp[i], crp[i]))
    assert d["rgb"] == bytes(exp)


def test_encode_color_roundtrips_within_quantization_error():
    random.seed(19)
    w, h = 16, 8
    rgb = bytes(random.randrange(256) for _ in range(3 * w * h))
    d = jpeg.decode(jpeg.encode_color(w, h, rgb))
    assert d["width"] == w and d["height"] == h
    assert len(d["rgb"]) == 3 * w * h
    # flat q=16 bounds each plane's error; the inverse transform scales
    # chroma error by at most 1.772 — generous envelope, not a tautology
    for a, b in zip(d["rgb"], rgb):
        assert abs(a - b) <= 60, (a, b)


def test_color_crops_non_multiple_of_8():
    w, h = 11, 9
    rgb = bytes((i * 13) % 256 for i in range(3 * w * h))
    d = jpeg.decode(jpeg.encode_color(w, h, rgb))
    assert d["width"] == 11 and d["height"] == 9
    assert len(d["y"]) == w * h and len(d["rgb"]) == 3 * w * h


def test_420_exactness_class_roundtrips():
    """4:2:0's lossless fixture class: luma constant per 8x8 block,
    chroma constant per 16x16 MCU (so the top-left subsample pick and
    the replication upsample are exact inverses), all values even."""
    w, h = 32, 16
    yp, cbp, crp = bytearray(w * h), bytearray(w * h), bytearray(w * h)
    for mx in range(2):
        cbv, crv = 96 + 8 * mx, 130 - 8 * mx
        for by in range(2):
            for bx in range(2):
                yv = 64 + 2 * ((mx * 7 + bx * 3 + by * 5) % 64)
                for y in range(8):
                    for x in range(8):
                        i = (by * 8 + y) * w + mx * 16 + bx * 8 + x
                        yp[i], cbp[i], crp[i] = yv, cbv, crv
    d = jpeg.decode(jpeg.encode_ycbcr_420(w, h, bytes(yp), bytes(cbp), bytes(crp)))
    assert d["n_components"] == 3
    assert d["y"] == bytes(yp) and d["cb"] == bytes(cbp) and d["cr"] == bytes(crp)
    exp = bytearray()
    for i in range(w * h):
        exp.extend(jpeg.ycbcr_to_rgb(yp[i], cbp[i], crp[i]))
    assert d["rgb"] == bytes(exp)


def test_420_crops_and_upsamples_odd_dimensions():
    w, h = 21, 13
    yp = bytes((i * 3) % 256 for i in range(w * h))
    cbp = bytes([100]) * (w * h)
    crp = bytes([120]) * (w * h)
    d = jpeg.decode(jpeg.encode_ycbcr_420(w, h, yp, cbp, crp))
    assert (d["width"], d["height"]) == (w, h)
    # constant chroma survives subsample+upsample exactly at ANY size
    assert d["cb"] == cbp and d["cr"] == crp
    assert len(d["y"]) == w * h


def test_422_and_440_exactness_classes_roundtrip():
    """The decoder's other claimed subsampled layouts, exercised through
    the generalized encoder: 4:2:2 (luma 2x1 — chroma constant per 16x8
    MCU) and 4:4:0 (luma 1x2 — chroma constant per 8x16 MCU) roundtrip
    bit-exactly on the even-constant fixture class."""
    for lh, lv in ((2, 1), (1, 2)):
        mw, mh = 8 * lh, 8 * lv
        w, h = mw * 2, mh * 2  # 2x2 MCUs
        yp, cbp, crp = bytearray(w * h), bytearray(w * h), bytearray(w * h)
        for my in range(2):
            for mx in range(2):
                cbv = 96 + 4 * (mx + 2 * my)
                crv = 130 - 4 * (mx + 2 * my)
                for by in range(lv):
                    for bx in range(lh):
                        yv = 64 + 2 * (((mx * lh + bx) * 3
                                        + (my * lv + by) * 5) % 64)
                        for y in range(8):
                            for x in range(8):
                                gy = my * mh + by * 8 + y
                                gx = mx * mw + bx * 8 + x
                                i = gy * w + gx
                                yp[i], cbp[i], crp[i] = yv, cbv, crv
        enc = jpeg.encode_ycbcr_sub(
            w, h, bytes(yp), bytes(cbp), bytes(crp), lh, lv
        )
        d = jpeg.decode(enc)
        assert d["y"] == bytes(yp), (lh, lv)
        assert d["cb"] == bytes(cbp), (lh, lv)
        assert d["cr"] == bytes(crp), (lh, lv)


def test_422_constant_chroma_odd_dimensions():
    w, h = 19, 10
    yp = bytes((i * 7) % 256 for i in range(w * h))
    cbp = bytes([104]) * (w * h)
    crp = bytes([118]) * (w * h)
    d = jpeg.decode(jpeg.encode_ycbcr_sub(w, h, yp, cbp, crp, 2, 1))
    assert (d["width"], d["height"]) == (w, h)
    assert d["cb"] == cbp and d["cr"] == crp


def test_encode_sub_refuses_bad_factors():
    args = (8, 8, bytes(64), bytes(64), bytes(64))
    with pytest.raises(ValueError, match="1 or 2"):
        jpeg.encode_ycbcr_sub(*args, 3, 1)
    with pytest.raises(ValueError, match="4:4:4"):
        jpeg.encode_ycbcr_sub(*args, 1, 1)


def test_vector_rgb_path_equals_scalar_transform():
    """The numpy int64 vector path in _planes_to_rgb must be bit-identical
    to the per-pixel ycbcr_to_rgb over the full byte range (arithmetic
    shift == _fix's floor semantics, clip == _clamp8)."""
    random.seed(29)
    n = 4096
    yp = bytes(random.randrange(256) for _ in range(n))
    cbp = bytes(random.randrange(256) for _ in range(n))
    crp = bytes(random.randrange(256) for _ in range(n))
    got = jpeg._planes_to_rgb(yp, cbp, crp)
    exp = bytearray(3 * n)
    for i in range(n):
        exp[3 * i], exp[3 * i + 1], exp[3 * i + 2] = jpeg.ycbcr_to_rgb(
            yp[i], cbp[i], crp[i]
        )
    assert got == bytes(exp)


def test_420_luma_error_bound_on_arbitrary_images():
    random.seed(23)
    w, h = 16, 16
    yp = bytes(random.randrange(256) for _ in range(w * h))
    cbp = bytes(random.randrange(256) for _ in range(w * h))
    crp = bytes(random.randrange(256) for _ in range(w * h))
    d = jpeg.decode(jpeg.encode_ycbcr_420(w, h, yp, cbp, crp))
    # luma is NOT subsampled: same quantization-error envelope as gray
    assert max(abs(a - b) for a, b in zip(d["y"], yp)) <= 64
    # chroma went through top-left pick + replication: decoded chroma at
    # the picked positions (even x, even y) obeys the quantization bound
    for y in range(0, h, 2):
        for x in range(0, w, 2):
            assert abs(d["cb"][y * w + x] - cbp[y * w + x]) <= 64


# ---------------------------------------------------------------------------
# refusals, by name
# ---------------------------------------------------------------------------


def _mutate_marker(payload: bytes, old: int, new: int) -> bytes:
    i = payload.index(bytes([0xFF, old]))
    return payload[:i + 1] + bytes([new]) + payload[i + 2:]


def test_baseline_stream_mislabeled_sof2_is_an_error():
    """SOF2 is SUPPORTED now (r12) — but a baseline scan header under a
    progressive frame is still corrupt: its Ss=0/Se=63 band mixes DC and
    AC, which a progressive scan may not (G.1.1.1.1)."""
    enc = jpeg.encode_gray(8, 8, bytes(64))
    with pytest.raises(ValueError, match="mixes DC and AC"):
        jpeg.decode(_mutate_marker(enc, 0xC0, 0xC2))


def test_progressive_fixture_class_exact():
    """The even-constant-block lossless class survives the progressive
    path: DC-only content through DC first+refine scans and all-zero AC
    bands through pure-EOB AC scans reproduce the source exactly."""
    w, h, src = _const_block_gray(3, 2)
    assert jpeg.decode(jpeg.encode_gray_progressive(w, h, src))["pixels"] == src


def test_progressive_decodes_identically_to_baseline():
    """The load-bearing identity: same quantized coefficients, different
    stream organization — progressive MUST decode to the byte-identical
    pixels baseline decodes to, across scan scripts that exercise
    spectral-selection-only, multi-bit DC approximation, two-step AC
    refinement, and many-band splits."""
    rng = random.Random(20240819)
    src = bytes(rng.randrange(256) for _ in range(24 * 24))
    base = jpeg.decode(jpeg.encode_gray(24, 24, src))["pixels"]
    scripts = [
        jpeg.PROGRESSIVE_SCRIPT,
        ((0, 0, 0, 0), (1, 63, 0, 0)),
        ((0, 0, 0, 2), (0, 0, 2, 1), (0, 0, 1, 0), (1, 63, 0, 0)),
        ((0, 0, 0, 1), (1, 63, 0, 2), (0, 0, 1, 0), (1, 63, 2, 1),
         (1, 63, 1, 0)),
        ((0, 0, 0, 0), (1, 2, 0, 0), (3, 10, 0, 0), (11, 63, 0, 0)),
    ]
    for sc in scripts:
        got = jpeg.decode(
            jpeg.encode_gray_progressive(24, 24, src, scan_script=sc)
        )["pixels"]
        assert got == base, f"script {sc} diverged"


def test_progressive_with_restarts_decodes_identically():
    """Restart markers inside progressive scans: predictors AND the EOB
    run reset at each boundary (E.2.4 applies per scan)."""
    rng = random.Random(7)
    src = bytes(rng.randrange(256) for _ in range(24 * 24))
    base = jpeg.decode(jpeg.encode_gray(24, 24, src))["pixels"]
    for ri in (1, 2, 3, 5):
        got = jpeg.decode(
            jpeg.encode_gray_progressive(24, 24, src, restart_interval=ri)
        )["pixels"]
        assert got == base


def test_progressive_color_interleaved_dc_identity():
    """Color progressive: the interleaved (ns=3) DC scans drive the
    decoder's MCU-ordered multi-component path; per-component AC scans
    drive the non-interleaved grid.  Planes and fixed-point RGB must
    match the baseline stream's exactly."""
    rng = random.Random(99)
    n = 24 * 16
    planes = [bytes(rng.randrange(256) for _ in range(n)) for _ in range(3)]
    base = jpeg.decode(jpeg.encode_ycbcr(24, 16, *planes))
    for kwargs in (
        {},
        {"restart_interval": 2},
        {"scan_script": ((0, 0, 0, 0), (1, 63, 0, 0))},
    ):
        prog = jpeg.decode(
            jpeg.encode_ycbcr_progressive(24, 16, *planes, **kwargs)
        )
        assert prog["y"] == base["y"]
        assert prog["cb"] == base["cb"]
        assert prog["cr"] == base["cr"]
        assert prog["rgb"] == base["rgb"]


def test_progressive_eob_runs_span_blocks():
    """A mostly-empty high band across many blocks must produce an EOB
    run longer than one block (the cross-block EOBRUN machinery, encoder
    AND decoder) — pinned by construction: 12 blocks whose band 6-63 is
    all zero encode that band as ONE EOBn symbol, and the stream still
    decodes exactly."""
    w, h, src = _const_block_gray(12, 1)
    enc = jpeg.encode_gray_progressive(
        w, h, src, scan_script=((0, 0, 0, 0), (1, 5, 0, 0), (6, 63, 0, 0))
    )
    assert jpeg.decode(enc)["pixels"] == src


def test_progressive_rejects_bad_scripts():
    src = bytes(64)
    with pytest.raises(ValueError, match="DC first"):
        jpeg.encode_gray_progressive(8, 8, src, scan_script=((1, 63, 0, 0),))
    with pytest.raises(ValueError, match="mix DC and AC"):
        jpeg.encode_gray_progressive(
            8, 8, src, scan_script=((0, 0, 0, 0), (0, 63, 0, 0))
        )
    with pytest.raises(ValueError, match="refine one bit"):
        jpeg.encode_gray_progressive(
            8, 8, src, scan_script=((0, 0, 0, 2), (0, 0, 2, 0))
        )


def test_progressive_truncated_between_scans_fails_loud():
    """A progressive stream cut inside the inter-scan segment walk (round-12
    advice) must raise the module's ValueError contract, not IndexError —
    at every cut class: mid marker, mid segment header, mid segment body."""
    enc = jpeg.encode_gray_progressive(16, 16, bytes(range(256)))
    dht2 = enc.index(b"\xff\xc4", enc.index(b"\xff\xda"))  # first inter-scan DHT
    for cut in (dht2 + 1, dht2 + 3, dht2 + 8):
        with pytest.raises(ValueError, match="between scans|truncated"):
            jpeg.decode(enc[:cut])


def test_progressive_fill_bytes_between_interscan_segments():
    """B.1.1.2 fill bytes between inter-scan DHT/DQT segments (after one
    segment is consumed, before the next marker) must be skipped, and a
    non-0xFF garbage byte there must fail loudly — round-12 advice."""
    enc = jpeg.encode_gray_progressive(16, 16, bytes(range(256)))
    sos2 = enc.index(b"\xff\xda", enc.index(b"\xff\xda") + 2)  # scan-2 SOS,
    # which directly follows the consumed inter-scan DHT segment
    padded = enc[:sos2] + b"\xff\xff\xff" + enc[sos2:]
    assert jpeg.decode(padded)["pixels"] == jpeg.decode(enc)["pixels"]
    with pytest.raises(ValueError, match="between scans|expected marker"):
        jpeg.decode(enc[:sos2] + b"\x55" + enc[sos2:])


def test_progressive_rejects_interleaved_ac_scan():
    """ns>1 on an AC scan is spec-illegal (G.1.1.1.1) — mutate a color
    progressive stream's first AC SOS to claim 3 components."""
    n = 16 * 16
    enc = jpeg.encode_ycbcr_progressive(
        16, 16, bytes([100]) * n, bytes([96]) * n, bytes([120]) * n
    )
    # find the first single-component SOS (ns==1): FF DA len=8 body[0]==1
    i = 0
    while True:
        i = enc.index(b"\xff\xda", i + 1)
        if enc[i + 4] == 1:
            break
    bad = bytearray(enc)
    bad[i + 4] = 3  # claim ns=3 with a body sized for ns=1
    with pytest.raises(ValueError, match="non-interleaved|malformed"):
        jpeg.decode(bytes(bad))


def test_refuses_arithmetic_by_name():
    enc = jpeg.encode_gray(8, 8, bytes(64))
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg.decode(_mutate_marker(enc, 0xC0, 0xC9))


def test_refuses_two_component_by_name():
    enc = bytearray(jpeg.encode_color(8, 8, bytes(range(192))))
    i = enc.index(bytes([0xFF, 0xC0]))
    enc[i + 9] = 2  # n_components: neither gray nor YCbCr
    with pytest.raises(ValueError, match="grayscale .1. or YCbCr"):
        jpeg.decode(bytes(enc))


def test_refuses_nonunit_chroma_sampling_by_name():
    enc = bytearray(jpeg.encode_color(8, 8, bytes(range(192))))
    i = enc.index(bytes([0xFF, 0xC0]))
    enc[i + 14] = 0x21  # Cb sampling factor 2x1
    with pytest.raises(ValueError, match="chroma sampling"):
        jpeg.decode(bytes(enc))


def test_refuses_sampling_factor_above_two_by_name():
    enc = bytearray(jpeg.encode_color(8, 8, bytes(range(192))))
    i = enc.index(bytes([0xFF, 0xC0]))
    enc[i + 11] = 0x41  # Y sampling factor 4x1
    with pytest.raises(ValueError, match="sampling factor 4x1"):
        jpeg.decode(bytes(enc))


def test_refuses_missing_soi():
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode(b"\x00\x01\x02\x03")


def _const_block_gray(bw: int, bh: int) -> tuple[int, int, bytes]:
    """Width, height, pixels: bw x bh blocks, each constant EVEN (the
    lossless class under the flat q=16 table)."""
    w, h = bw * 8, bh * 8
    px = bytearray(w * h)
    for by in range(bh):
        for bx in range(bw):
            v = 64 + 2 * ((bx * 3 + by * 5) % 64)
            for y in range(8):
                for x in range(8):
                    px[(by * 8 + y) * w + bx * 8 + x] = v
    return w, h, bytes(px)


def test_restart_gray_lossless_roundtrip_every_interval():
    """DRI + RSTn through the whole codec: a 3x2-block constant-even gray
    image roundtrips bit-exactly at every restart interval from 1 (marker
    after every MCU — maximal predictor resets) through 7 (sequence
    numbers stay in range without wrapping)."""
    w, h, src = _const_block_gray(3, 2)
    for ri in range(1, 8):
        enc = jpeg.encode_gray(w, h, src, restart_interval=ri)
        if ri < 6:  # 6 MCUs: markers exist only when an interval closes early
            assert bytes([0xFF, 0xDD]) in enc  # DRI present
            assert bytes([0xFF, 0xD0]) in enc  # at least RST0 in the scan
        assert jpeg.decode(enc)["pixels"] == src


def test_restart_marker_sequence_wraps_modulo_8():
    """More than 8 intervals: RSTn must cycle RST0..RST7, RST0, ... —
    12 MCUs at interval 1 emits 11 markers, exercising the wrap."""
    w, h, src = _const_block_gray(12, 1)
    enc = jpeg.encode_gray(w, h, src, restart_interval=1)
    seq = []
    pos = enc.index(bytes([0xFF, 0xDA]))
    while True:
        nxt = [enc.find(bytes([0xFF, 0xD0 + n]), pos + 2) for n in range(8)]
        hits = [(p, n) for n, p in enumerate(nxt) if p != -1]
        if not hits:
            break
        p, n = min(hits)
        seq.append(n)
        pos = p
    assert seq == [i % 8 for i in range(11)]
    assert jpeg.decode(enc)["pixels"] == src


def test_restart_lossy_output_identical_to_unrestarted():
    """Restart markers change the bitstream layout, never the pixels: a
    NON-fixture (lossy) image must decode to the same bytes with and
    without restarts — predictor resets and byte-aligned resync are
    exactly inverse between encoder and decoder."""
    rng = random.Random(20240416)
    w, h = 24, 16
    src = bytes(rng.randrange(256) for _ in range(w * h))
    base = jpeg.decode(jpeg.encode_gray(w, h, src))["pixels"]
    for ri in (1, 2, 4):
        got = jpeg.decode(
            jpeg.encode_gray(w, h, src, restart_interval=ri)
        )["pixels"]
        assert got == base


def test_restart_color_420_roundtrip():
    """Restarts compose with the subsampled path: per-MCU-constant chroma
    + per-block-constant luma 4:2:0 roundtrips bit-exactly with a marker
    after every MCU (all three DC predictors reset per boundary)."""
    w, h = 48, 32  # 3x2 MCUs
    yp, cb, cr = bytearray(w * h), bytearray(w * h), bytearray(w * h)
    for my in range(2):
        for mx in range(3):
            cbv = 96 + 2 * ((mx * 5 + my * 7) % 32)
            crv = 96 + 2 * ((mx * 7 + my * 3) % 32)
            for by in range(2):
                for bx in range(2):
                    yv = 64 + 2 * (((mx * 2 + bx) * 3 + (my * 2 + by) * 5) % 64)
                    for y in range(8):
                        row0 = (my * 16 + by * 8 + y) * w + mx * 16 + bx * 8
                        for x in range(8):
                            yp[row0 + x] = yv
                            cb[row0 + x] = cbv
                            cr[row0 + x] = crv
    for ri in (1, 2, 5):
        dec = jpeg.decode(
            jpeg.encode_ycbcr_420(
                w, h, bytes(yp), bytes(cb), bytes(cr), restart_interval=ri
            )
        )
        assert dec["y"] == bytes(yp)
        assert dec["cb"] == bytes(cb)
        assert dec["cr"] == bytes(cr)


def test_restart_marker_out_of_sequence_is_an_error():
    w, h, src = _const_block_gray(3, 1)
    enc = jpeg.encode_gray(w, h, src, restart_interval=1)
    i = enc.index(bytes([0xFF, 0xD0]))
    bad = enc[:i] + bytes([0xFF, 0xD1]) + enc[i + 2:]
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg.decode(bad)


def test_stray_restart_marker_under_dri_zero_still_refuses():
    """The DRI=0 posture is unchanged: a bare RSTn in a scan whose frame
    declared no restart interval is corrupt data, not a resync point."""
    w, h, src = _const_block_gray(2, 1)
    enc = jpeg.encode_gray(w, h, src)
    sos = enc.index(bytes([0xFF, 0xDA]))
    splice = sos + 2 + 6 + 3  # a few bytes into the entropy data
    bad = enc[:splice] + bytes([0xFF, 0xD0]) + enc[splice:]
    with pytest.raises(ValueError, match="RSTn"):
        jpeg.decode(bad)


def test_restart_interval_larger_than_image_emits_no_markers():
    """An interval that never closes before the last MCU yields a DRI
    segment but zero RSTn markers — and still decodes (T.81 E.1.4: no
    marker after the final interval)."""
    w, h, src = _const_block_gray(2, 1)
    enc = jpeg.encode_gray(w, h, src, restart_interval=100)
    scan = enc[enc.index(bytes([0xFF, 0xDA])):]
    assert not any(
        bytes([0xFF, 0xD0 + n]) in scan for n in range(8)
    )
    assert jpeg.decode(enc)["pixels"] == src


def test_fill_bytes_before_marker_are_skipped():
    """B.1.1.2: any run of 0xFF fill bytes may precede a marker byte."""
    enc = jpeg.encode_gray(8, 8, bytes(range(0, 128, 2)))
    i = enc.index(bytes([0xFF, 0xC0]))
    padded = enc[:i] + b"\xff\xff\xff" + enc[i:]
    assert jpeg.decode(padded)["pixels"] == jpeg.decode(enc)["pixels"]


def test_refuses_standalone_marker_by_name():
    """TEM (0x01) carries no length field — named refusal, not a
    misparse of arbitrary bytes as a segment length."""
    enc = jpeg.encode_gray(8, 8, bytes(64))
    i = enc.index(bytes([0xFF, 0xC0]))
    with pytest.raises(ValueError, match="standalone"):
        jpeg.decode(enc[:i] + b"\xff\x01" + enc[i:])


def test_truncated_after_lone_trailing_ff_fails_loud():
    """Entropy data cut immediately after a 0xFF must raise the module's
    ValueError contract, not IndexError."""
    enc = jpeg.encode_gray(8, 8, bytes([200]) * 64)
    i = enc.index(bytes([0xFF, 0xDA]))
    scan_start = i + 2 + 8  # SOS header is 8 bytes for 1 component
    with pytest.raises(ValueError, match="jpeg:"):
        jpeg.decode(enc[:scan_start] + b"\x12\xff")


# ---------------------------------------------------------------------------
# spark plumbing
# ---------------------------------------------------------------------------


def test_decode_jpeg_features_end_to_end(spark):
    docs = spark.createDataFrame([(i,) for i in (0, 1, 5, 11)], "doc_id long")
    feats = multimodal.decode_jpeg_features(
        multimodal.synth_jpeg_payloads(docs)
    )
    rows = {r["doc_id"]: r for r in feats.collect()}
    for i, r in rows.items():
        w, h, px = _blocky(i)
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["pixel_sum"] == sum(px)
        assert r["pixel_md5"] == r["source_md5"]


def test_decode_jpeg_features_null_payload(spark):
    df = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    row = multimodal.decode_jpeg_features(df).collect()[0]
    assert row["width"] is None and row["pixel_sum"] is None


def test_decode_jpeg_color_features_end_to_end(spark):
    docs = spark.createDataFrame([(i,) for i in (0, 1, 5, 11)], "doc_id long")
    feats = multimodal.decode_jpeg_color_features(
        multimodal.synth_jpeg_color_payloads(docs)
    )
    rows = {r["doc_id"]: r for r in feats.collect()}
    for i, r in rows.items():
        wb, hb = 1 + i % 3, 1 + i % 2
        assert (r["width"], r["height"]) == (8 * wb, 8 * hb)
        assert r["n_pixels"] == 64 * wb * hb
        # plane sums from the fixture's id arithmetic
        exp_y = exp_cb = exp_cr = exp_r = exp_g = exp_b = 0
        for by in range(hb):
            for bx in range(wb):
                yv = 64 + 2 * ((i * 7 + bx * 3 + by * 5) % 64)
                cbv = 96 + 2 * ((i * 11 + bx * 5 + by * 7) % 32)
                crv = 96 + 2 * ((i * 13 + bx * 7 + by * 11) % 32)
                rr, gg, bb = jpeg.ycbcr_to_rgb(yv, cbv, crv)
                exp_y += 64 * yv
                exp_cb += 64 * cbv
                exp_cr += 64 * crv
                exp_r += 64 * rr
                exp_g += 64 * gg
                exp_b += 64 * bb
        assert (r["y_sum"], r["cb_sum"], r["cr_sum"]) == (exp_y, exp_cb, exp_cr)
        assert (r["r_sum"], r["g_sum"], r["b_sum"]) == (exp_r, exp_g, exp_b)
        assert r["pixel_md5"] == r["source_md5"]


def test_decode_jpeg_color_features_null_payload(spark):
    df = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    row = multimodal.decode_jpeg_color_features(df).collect()[0]
    assert row["width"] is None and row["r_sum"] is None


def test_progressive_subsampled_identity_including_pad_geometry():
    """Subsampled progressive (4:2:0/4:2:2/4:4:0): the decoder's
    NON-INTERLEAVED component grids (A.2.2 — ceil over the component
    size, not the MCU-padded grid) are the subtlest progressive math, so
    pin them on geometries where they differ from the padded grid
    (40x17 with 2x2 luma: 5-wide nb grid vs 6-wide padded grid — the
    pad column carries DC-only data).  Every stream must decode
    byte-identically to its baseline subsampled sibling."""
    rng = random.Random(11)
    for lh, lv in ((2, 2), (2, 1), (1, 2)):
        for w, h in ((32, 32), (40, 17), (17, 23)):
            n = w * h
            planes = [
                bytes(rng.randrange(256) for _ in range(n)) for _ in range(3)
            ]
            base = jpeg.decode(jpeg.encode_ycbcr_sub(w, h, *planes, lh, lv))
            for kwargs in (
                {},
                {"restart_interval": 2},
                {"scan_script": ((0, 0, 0, 0), (1, 63, 0, 0))},
            ):
                prog = jpeg.decode(
                    jpeg.encode_ycbcr_progressive_sub(
                        w, h, *planes, lh, lv, **kwargs
                    )
                )
                assert prog["y"] == base["y"], (lh, lv, w, h, kwargs)
                assert prog["cb"] == base["cb"]
                assert prog["cr"] == base["cr"]


def test_restart_422_and_440_roundtrip():
    """Baseline restart markers on the remaining subsampled layouts:
    4:2:2 (2x1 luma) and 4:4:0 (1x2) share the interleaved-MCU restart
    path with 4:2:0 — pin them on the lossless fixture class."""
    w, h = 32, 32
    n = w * h
    yp = bytes([100]) * n
    cb = bytes([96]) * n
    cr = bytes([120]) * n
    for lh, lv in ((2, 1), (1, 2)):
        for ri in (1, 3):
            dec = jpeg.decode(
                jpeg.encode_ycbcr_sub(
                    w, h, yp, cb, cr, lh, lv, restart_interval=ri
                )
            )
            assert dec["y"] == yp and dec["cb"] == cb and dec["cr"] == cr


# ---------------------------------------------------------------------------
# encoder stream bytes
# ---------------------------------------------------------------------------

#: odd and even geometries, including a single pixel and sizes whose
#: subsampled MCU grid pads past the A.2.2 non-interleaved grid
_FROZEN_GEOMETRIES = (
    (1, 1), (8, 8), (13, 9), (16, 16), (7, 15), (17, 33), (40, 17)
)
_FROZEN_RESTARTS = (0, 1, 3, 100)
_FROZEN_SAMPLING = ((1, 2), (2, 1), (2, 2))
_FROZEN_SCRIPTS = (jpeg.PROGRESSIVE_SCRIPT,) + multimodal._PROG_SCRIPTS[1:]
#: non-flat luma and chroma tables, so a swapped DQT slot changes bytes
_FROZEN_LUMA_Q = tuple(3 + (i * 7) % 29 for i in range(64))
_FROZEN_CHROMA_Q = tuple(5 + (i * 11) % 37 for i in range(64))

#: sha256 per public encoder over the matrix below.  Produced by the
#: pre-refactor hand-specialized encoders (one body per layout) and kept
#: unchanged since: any edit to the encoder must reproduce these bytes.
_FROZEN_DIGESTS = {
    "encode_color":
        "c7a531bcce71d5ed621c4fed0e727fcefabc5a68363561cf98668bb680aad6f5",
    "encode_gray":
        "929e59564264972a1d4af8b41160b5e5ccec9a99752944416f339f6a4de833d4",
    "encode_ycbcr":
        "f99b08744fcd5a73e8e94569181669dacead05509102e74f981305af08256628",
    "encode_ycbcr_420":
        "8600b843b1d395dd58099b29e8b513c7a34215437470b5a6c191f539a6e729ee",
    "encode_ycbcr_sub":
        "e8b34b871bc0ca7de8862a663a422353c19b985128a514a8e78aa56492ed13a1",
    "encode_gray_progressive":
        "40c38193fd3f4cfa98c0591dd43c239fd75d3c4ce774286606465d1437ad02ed",
    "encode_ycbcr_progressive":
        "f1d3ca335666e69ed6cdfdc63368485a699c5cfc5f1c7b0ad3636a3a704f5e63",
    "encode_ycbcr_progressive_sub":
        "e37489ba96f3986132ae0f32aba7268d8d7669eaa38e278a921eb92652a2664d",
}


def _frozen_cases():
    """(encoder name, args, kwargs) over the deterministic matrix: per
    geometry one image kind (random / gradient / even-constant blocks) and one
    table pair (flat q=16 defaults, or the non-flat pair), crossed with
    restart intervals, luma sampling and progressive scan scripts."""
    rng = random.Random(20240615)
    for gi, (w, h) in enumerate(_FROZEN_GEOMETRIES):
        n = w * h
        kind = gi % 3
        planes = []
        for p in range(3):
            if kind == 0:
                planes.append(bytes(rng.randrange(256) for _ in range(n)))
            elif kind == 1:
                planes.append(bytes(
                    (x * 9 + y * 5 + p * 40) % 256
                    for y in range(h) for x in range(w)
                ))
            else:
                planes.append(bytes(
                    64 + 2 * ((x // 8 * 3 + y // 8 * 5 + p * 7) % 64)
                    for y in range(h) for x in range(w)
                ))
        gray, rgb = planes[0], bytes(v for t in zip(*planes) for v in t)
        q = {} if gi % 2 == 0 else {
            "qtable": _FROZEN_LUMA_Q, "chroma_qtable": _FROZEN_CHROMA_Q
        }
        gq = {k: v for k, v in q.items() if k == "qtable"}
        yield "encode_color", (w, h, rgb), gq
        for ri in _FROZEN_RESTARTS:
            r = {"restart_interval": ri}
            yield "encode_gray", (w, h, gray), {**gq, **r}
            yield "encode_ycbcr", (w, h, *planes), {**q, **r}
            yield "encode_ycbcr_420", (w, h, *planes), {**q, **r}
            for lh, lv in _FROZEN_SAMPLING:
                yield "encode_ycbcr_sub", (w, h, *planes, lh, lv), {**q, **r}
            for sc in _FROZEN_SCRIPTS:
                r = {"restart_interval": ri, "scan_script": sc}
                yield "encode_gray_progressive", (w, h, gray), {**gq, **r}
                yield "encode_ycbcr_progressive", (w, h, *planes), {**q, **r}
                for lh, lv in _FROZEN_SAMPLING:
                    yield (
                        "encode_ycbcr_progressive_sub",
                        (w, h, *planes, lh, lv),
                        {**q, **r},
                    )


def test_encoder_bytes_are_frozen():
    """The encoders' exact output bytes, not just their decoded pixels:
    every public encoder hashes its streams over a fixed matrix and must
    match the recorded digests byte for byte."""
    digests = {}
    for name, args, kwargs in _frozen_cases():
        payload = getattr(jpeg, name)(*args, **kwargs)
        d = digests.setdefault(name, hashlib.sha256())
        d.update(len(payload).to_bytes(4, "big") + payload)
    assert {k: d.hexdigest() for k, d in digests.items()} == _FROZEN_DIGESTS
