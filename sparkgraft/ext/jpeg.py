"""Pure-stdlib baseline JPEG codec — the DCT decode boundary.

PNG (round 10) covered the lossless-filter class of image codecs; this
module retires the transform-coding class: a REAL baseline JPEG decoder —
marker parsing, canonical Huffman entropy decode with DC prediction and
AC run-length semantics, dequantization, dezigzag, and a genuine 8x8
inverse DCT — plus the matching deterministic encoder the fixtures use.
Nothing beyond ``struct``/``math`` (numpy accelerates the 8x8 IDCT matrix
product, as it already does for resampling in ext/multimodal).

Scope is declared, not hedged (the ext/png + ext/wav posture): baseline
sequential (SOF0) AND progressive (SOF2), grayscale (1 component) and
YCbCr color (3 components) at 4:4:4, 4:2:2, 4:2:0 and 4:4:0 — luma
sampling factors of 1 or 2 per axis with 1x1 chroma, decoded through a
generic interleaved-MCU loop with replication (nearest) chroma
upsampling, which is exact integer indexing — WITH restart intervals
(DRI + RSTn marker resynchronization, T.81 E.2.4/F.2.1.3.1: byte-align,
verify the modulo-8 marker sequence, reset every DC predictor — the one
marker family real camera files emit routinely).  Progressive decode
(T.81 Annex G) covers spectral selection AND successive approximation:
interleaved/non-interleaved DC first + refinement scans, AC first scans
with cross-block EOB runs, AC refinement scans with positional
correction bits, DHT/DQT/DRI between scans, restarts inside any scan.
The encoder mirrors the decoder: one walk over the frame's component
list (``_encode``) writes every layout — gray, 4:4:4 and subsampled
color, baseline and progressive — quantizing each block once, so a
progressive stream decodes to byte-identical pixels to its baseline
sibling (the property the tests pin).  Sampling factors above 2, every
other SOF family, arithmetic coding, 12-bit precision, and DNL all
raise ``ValueError`` naming the unsupported feature — they are
unsupported INPUTS to a working decoder.
The color transform is FIXED-POINT integer arithmetic (16-bit scaled
JFIF coefficients, the libjpeg convention: ``(c*v + 32768) >> 16`` with
arithmetic shift = floor), NOT float — so decode output is bit-stable
and an ANSI-SQL oracle can reproduce it with FLOOR((c*v + 32768)/65536)
exactly (every intermediate fits float64's 2^53 integer range).

Huffman tables are the spec's Annex K tables (ITU-T T.81 Tables K.3/K.5
for luminance, K.4/K.6 for chrominance; progressive AC scans ship their
own), built canonically from (BITS, HUFFVAL); the zigzag order is
GENERATED from the diagonal-walk definition rather than transcribed.
Encoder and decoder share none of the hot code paths: the encoder emits
bits MSB-first with 0xFF byte stuffing, the decoder re-derives codes
from the DHT segment it parses out of the byte stream — so a roundtrip
genuinely exercises both directions.

Exactness contract the driver lane leans on: an image whose 8x8 blocks
are each CONSTANT with even values quantizes losslessly under the flat
q=16 table (DC = (v - 128) * 8 is divisible by 16; every AC is zero), so
decode(encode(img)) reproduces the source bytes EXACTLY — a SQL-stateable
roundtrip through FDCT -> quantize -> Huffman -> parse -> dequantize ->
IDCT.  Non-constant blocks roundtrip within quantization error like any
real JPEG; tests pin that path against an independent pure-``math.cos``
IDCT reference.
"""

from __future__ import annotations

import math
import struct

SOI = b"\xff\xd8"
EOI = b"\xff\xd9"

#: ITU-T T.81 Annex K, Table K.3 — luminance DC: code counts by length
#: (1..16) and the symbol values in code order.
DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_VALS = tuple(range(12))

#: ITU-T T.81 Annex K, Table K.5 — luminance AC.
AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

#: ITU-T T.81 Annex K, Table K.4 — chrominance DC.
DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROMA_VALS = tuple(range(12))

#: ITU-T T.81 Annex K, Table K.6 — chrominance AC.
AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROMA_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

#: flat quantization table the fixtures use — q=16 everywhere makes
#: even-valued constant blocks quantize losslessly (see module docstring)
FLAT_Q16 = (16,) * 64

#: SOF markers we refuse BY NAME (everything is a working decoder's
#: unsupported input, not a missing decoder).  SOF0 (baseline) and SOF2
#: (progressive) are the two SUPPORTED frame types.
_SOF_NAMES = {
    0xC1: "extended sequential (SOF1)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def zigzag_order() -> list[int]:
    """The 64 zigzag positions as row-major indices, generated from the
    diagonal walk: diagonal d runs up-right when d is even, down-left
    when odd (T.81 Figure 5)."""
    out = []
    for d in range(15):
        cells = [(r, d - r) for r in range(8) if 0 <= d - r < 8]
        if d % 2 == 0:
            cells.reverse()  # up-right: row decreasing
        out.extend(r * 8 + c for r, c in cells)
    return out


ZIGZAG = tuple(zigzag_order())

#: DCT-II basis A[u][x] = c(u)/2 * cos((2x+1) u pi / 16); spatial = A^T F A
_BASIS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        / 2.0
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


def _canonical_codes(bits, vals):
    """(value -> (code, length)) canonical Huffman assignment per T.81
    Annex C: codes of each length count up from (prev + 1) << 1."""
    table = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


#: the Annex K tables by DHT slot (0 = luminance, 1 = chrominance) as
#: (DC BITS, DC HUFFVAL, AC BITS, AC HUFFVAL), and their canonical codes
_ANNEX_K = (
    (DC_BITS, DC_VALS, AC_BITS, AC_VALS),
    (DC_CHROMA_BITS, DC_CHROMA_VALS, AC_CHROMA_BITS, AC_CHROMA_VALS),
)
_DC_CODES = tuple(_canonical_codes(t[0], t[1]) for t in _ANNEX_K)
_AC_CODES = tuple(_canonical_codes(t[2], t[3]) for t in _ANNEX_K)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0
        self._rst = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing inside entropy data
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)

    def restart(self) -> None:
        """Close a restart interval: byte-align (1-bit pad, stuffed like
        any entropy byte) and emit RSTn with the modulo-8 sequence number
        (T.81 E.1.4).  Callers emit none after the LAST interval."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (self._rst & 7)])
        self._rst += 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    a bare RSTn inside the scan is either a resync point (when the frame
    declared a restart interval) or a hard error (when it declared none).

    The reader is chunked, not per-bit: symbols decode via a 16-bit PEEK
    against a flat lookup table (:func:`_huffman_lut`) and magnitude
    payloads read in one shift — the canonical-decoder fast path.  At the
    very end of the scan ``peek16`` pads with 1-bits past the terminating
    marker (the spec's own pad value), tracking the pad so only REAL bits
    can ever be consumed."""

    def __init__(self, data: bytes, pos: int, allow_restarts: bool = False):
        self.data = data
        self.pos = pos
        self.allow_restarts = allow_restarts
        self._acc = 0
        self._n = 0
        self._ended = False

    def _fill_byte(self) -> bool:
        """Buffer one entropy byte; False once the next bytes are a marker
        (end of scan data, or — with ``allow_restarts`` — an RSTn restart
        boundary, left unconsumed for :meth:`resync`)."""
        if self._ended or self.pos >= len(self.data):
            self._ended = True
            return False
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("jpeg: truncated entropy-coded data")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                if not self.allow_restarts:
                    raise ValueError(
                        "jpeg: restart markers (RSTn) unsupported — encoder "
                        "declared DRI=0"
                    )
                # stop at the boundary (pos still at the 0xFF): any decode
                # that needs more REAL bits past here is a truncation error
                self._ended = True
                return False
            else:  # EOI (or any segment marker): scan data is over
                self._ended = True
                return False
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8
        return True

    def resync(self, expected: int) -> None:
        """Byte-align at a restart boundary (T.81 E.2.4): discard the
        closed interval's pad bits, step over any not-yet-buffered pad
        byte (at most one, possibly 0xFF00-stuffed) and B.1.1.2 fill
        bytes, verify the RSTn modulo-8 sequence number, and reset the
        entropy state.  DC predictor reset is the CALLER's job — the
        reader knows nothing about components."""
        self._acc = 0
        self._n = 0
        self._ended = False
        data, pos = self.data, self.pos
        skipped = 0
        while True:
            if pos + 1 >= len(data):
                raise ValueError("jpeg: truncated stream at restart boundary")
            b = data[pos]
            if b != 0xFF:
                # the interval's flush pad byte, when no decode ever
                # buffered it; a well-formed stream has at most one
                pos += 1
                skipped += 1
                if skipped > 2:
                    raise ValueError(
                        "jpeg: entropy data overruns the restart boundary"
                    )
                continue
            nxt = data[pos + 1]
            if nxt == 0x00:  # stuffed 0xFF pad byte
                pos += 2
                skipped += 1
                if skipped > 2:
                    raise ValueError(
                        "jpeg: entropy data overruns the restart boundary"
                    )
                continue
            if nxt == 0xFF:  # fill byte before the marker (B.1.1.2)
                pos += 1
                continue
            break
        if not 0xD0 <= nxt <= 0xD7:
            raise ValueError(
                f"jpeg: expected restart marker, found 0xFF{nxt:02X}"
            )
        if nxt - 0xD0 != expected & 7:
            raise ValueError(
                "jpeg: restart marker out of sequence — expected "
                f"RST{expected & 7}, found RST{nxt - 0xD0}"
            )
        self.pos = pos + 2

    def peek16(self) -> int:
        while self._n < 16:
            if not self._fill_byte():
                # pad with 1-bits (F.1.2.3); consume() still bounds on _n
                pad = 16 - self._n
                return ((self._acc << pad) | ((1 << pad) - 1)) & 0xFFFF
        return (self._acc >> (self._n - 16)) & 0xFFFF

    def consume(self, n: int) -> None:
        if n > self._n:
            raise ValueError("jpeg: truncated entropy-coded data")
        self._n -= n
        self._acc &= (1 << self._n) - 1

    def bits(self, n: int) -> int:
        while self._n < n:
            if not self._fill_byte():
                raise ValueError("jpeg: truncated entropy-coded data")
        self._n -= n
        v = (self._acc >> self._n) & ((1 << n) - 1)
        self._acc &= (1 << self._n) - 1
        return v


def _huffman_lut(bits: tuple, vals: tuple) -> list:
    """Flat 65536-entry decode table: index by the next 16 bits, get
    ``(symbol, code_length)`` (None for the reserved all-ones / undefined
    codes).  Built once per DISTINCT table — callers cache by (bits,
    vals), so the ~64k fill cost amortizes across every image sharing the
    table (all of them, for Annex K streams)."""
    table: list = [None] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (16 - length)
            entry = (vals[k], length)
            for i in range(start, start + (1 << (16 - length))):
                table[i] = entry
            code += 1
            k += 1
        code <<= 1
    return table


#: (bits, vals) -> flat decode table; every Annex-K stream shares one DC
#: and one AC table, so the cache makes the 64k fill a once-per-process
#: cost instead of once-per-image
_LUT_CACHE: dict[tuple, list] = {}


def _cached_lut(bits: tuple, vals: tuple) -> list:
    key = (bits, vals)
    t = _LUT_CACHE.get(key)
    if t is None:
        t = _LUT_CACHE[key] = _huffman_lut(bits, vals)
    return t


def _decode_huffman(reader: _BitReader, lut: list) -> int:
    hit = lut[reader.peek16()]
    if hit is None:
        raise ValueError("jpeg: invalid Huffman code in scan")
    reader.consume(hit[1])
    return hit[0]


def _extend(bits_val: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the `size`-bit magnitude payload to its
    signed value."""
    if size == 0:
        return 0
    if bits_val < (1 << (size - 1)):
        return bits_val - (1 << size) + 1
    return bits_val


def _fdct(block: list[int]) -> list[float]:
    """A @ f @ A^T over the level-shifted 8x8 block (row-major list) —
    numpy matmul when available (same posture as :func:`_idct`)."""
    try:
        import numpy as np

        a = np.asarray(_BASIS)
        f = np.asarray(block, dtype=np.float64).reshape(8, 8) - 128.0
        return list((a @ f @ a.T).ravel())
    except ImportError:  # pragma: no cover - numpy is baked into this env
        shifted = [[block[y * 8 + x] - 128 for x in range(8)] for y in range(8)]
        tmp = [
            [sum(_BASIS[u][y] * shifted[y][x] for y in range(8)) for x in range(8)]
            for u in range(8)
        ]
        return [
            sum(tmp[u][x] * _BASIS[v][x] for x in range(8))
            for u in range(8)
            for v in range(8)
        ]


def _idct(coefs) -> list[int]:
    """A^T @ F @ A, +128 level shift, round, clamp — numpy matmul when
    available (it is, in this container), pure-math fallback kept honest
    by tests."""
    try:
        import numpy as np

        a = np.asarray(_BASIS)
        f = np.asarray(coefs, dtype=np.float64).reshape(8, 8)
        px = a.T @ f @ a + 128.0
        return [int(v) for v in np.clip(np.rint(px), 0, 255).astype(int).ravel()]
    except ImportError:  # pragma: no cover - numpy is baked into this env
        f = [[coefs[u * 8 + v] for v in range(8)] for u in range(8)]
        tmp = [
            [sum(_BASIS[u][y] * f[u][v] for u in range(8)) for v in range(8)]
            for y in range(8)
        ]
        out = []
        for y in range(8):
            for x in range(8):
                v = sum(tmp[y][v2] * _BASIS[v2][x] for v2 in range(8)) + 128.0
                out.append(max(0, min(255, int(round(v)))))
        return out


# ---------------------------------------------------------------------------
# fixed-point JFIF color transform (bit-stable: integer in, integer out)
# ---------------------------------------------------------------------------
# Coefficients are round(c * 65536) of the JFIF/CCIR 601 full-range
# constants; each row of the forward matrix sums to exactly 65536 so a
# gray pixel (r=g=b=v) maps to y=v losslessly.

_FIX_Y = (19595, 38470, 7471)  # 0.299, 0.587, 0.114
_FIX_CB = (-11059, -21709, 32768)  # -0.168736, -0.331264, 0.5
_FIX_CR = (32768, -27439, -5330)  # 0.5, -0.418688, -0.081312
_FIX_R_CR = 91881  # 1.402
_FIX_G_CB = -22554  # -0.344136
_FIX_G_CR = -46802  # -0.714136
_FIX_B_CB = 116131  # 1.772


def _fix(v: int) -> int:
    """Scale a 16-bit fixed-point product back to pixel units, rounding
    half-up: ``(v + 32768) >> 16``.  Python's ``>>`` on negatives is an
    arithmetic shift (floor), matching SQL ``FLOOR((v + 32768)/65536.0)``."""
    return (v + 32768) >> 16


def _clamp8(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """Forward JFIF transform, fixed-point (see module docstring)."""
    y = _fix(_FIX_Y[0] * r + _FIX_Y[1] * g + _FIX_Y[2] * b)
    cb = 128 + _fix(_FIX_CB[0] * r + _FIX_CB[1] * g + _FIX_CB[2] * b)
    cr = 128 + _fix(_FIX_CR[0] * r + _FIX_CR[1] * g + _FIX_CR[2] * b)
    return _clamp8(y), _clamp8(cb), _clamp8(cr)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """Inverse JFIF transform, fixed-point (see module docstring)."""
    r = y + _fix(_FIX_R_CR * (cr - 128))
    g = y + _fix(_FIX_G_CB * (cb - 128) + _FIX_G_CR * (cr - 128))
    b = y + _fix(_FIX_B_CB * (cb - 128))
    return _clamp8(r), _clamp8(g), _clamp8(b)


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _magnitude(v: int) -> tuple[int, int]:
    """(size, payload bits) for a signed coefficient (T.81 F.1.2.1)."""
    size = abs(v).bit_length()
    if v < 0:
        v += (1 << size) - 1
    return size, v


def _extract_block(
    plane: bytes, width: int, height: int, bx: int, by: int
) -> list[int]:
    """The 8x8 block at (bx, by), edge-replicated past the image bounds
    (the standard padding convention; the decoder crops back)."""
    block = []
    for y in range(8):
        sy = min(by * 8 + y, height - 1)
        for x in range(8):
            sx = min(bx * 8 + x, width - 1)
            block.append(plane[sy * width + sx])
    return block


def _quantize_block(block: list[int], qtable) -> list[int]:
    """FDCT + quantize one 8x8 pixel block; returns the 64 quantized
    coefficients in ZIGZAG order (round-half-away-from-zero, the
    symmetric quantizer both the baseline and progressive encoders
    share so their coefficient streams are identical)."""
    coefs = _fdct(block)
    return [
        int(math.floor(coefs[ZIGZAG[i]] / qtable[i] + 0.5))
        if coefs[ZIGZAG[i]] >= 0
        else -int(math.floor(-coefs[ZIGZAG[i]] / qtable[i] + 0.5))
        for i in range(64)
    ]


def _table_seg(cls: int, slot: int, bits, vals) -> bytes:
    return _seg(0xC4, bytes([(cls << 4) | slot]) + bytes(bits) + bytes(vals))


#: default progressive scan script (spectral selection + one bit of
#: successive approximation on every band): DC first at Al=1, the two AC
#: bands first at Al=1, then the three refinement scans.  Every decoder
#: path — interleavable DC first/refine, AC first with EOB runs, AC
#: refinement with correction bits — is on the emitted stream.
PROGRESSIVE_SCRIPT = (
    (0, 0, 0, 1),
    (1, 5, 0, 1),
    (6, 63, 0, 1),
    (0, 0, 1, 0),
    (1, 5, 1, 0),
    (6, 63, 1, 0),
)


def _closes_interval(restart_interval: int, done: int, total: int) -> bool:
    """True when ``done`` MCUs close a restart interval and MCUs remain:
    the point to emit RSTn (T.81 E.1.4 — none after the LAST interval)."""
    return (
        restart_interval > 0 and done % restart_interval == 0 and done < total
    )


def _uniform_table(symbols) -> tuple[tuple, tuple]:
    """(BITS, HUFFVAL) giving every symbol the same code length L with
    2^L > n, so the all-ones code stays unassigned (the padding-safe
    canonical convention).  Progressive scans need EOBRUN symbols
    ((r<<4)|0, r>=1) that Annex K's tables simply do not contain, so each
    AC scan ships its own DHT built from the symbols it actually uses —
    which also keeps the decoder's between-scan DHT handling honest."""
    vals = tuple(sorted(symbols))
    n = len(vals)
    if n == 0:
        vals, n = (0x00,), 1
    length = max(1, (n + 1).bit_length() - (1 if (n + 1) & n == 0 else 0))
    while (1 << length) <= n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return tuple(bits), vals


def _eob_symbol(run: int) -> tuple[int, int, int]:
    """(symbol, extra_bits_value, extra_bits_count) coding an EOB run of
    ``run`` blocks (G.1.2.2: EOBn = (n<<4)|0 with n = floor(log2 run),
    followed by n bits of run - 2^n)."""
    nbits = run.bit_length() - 1
    return (nbits << 4) | 0x00, run - (1 << nbits), nbits


def _enc_ac_first(
    blocks, ss, se, al, restart_interval, emit_sym, emit_bits, emit_restart
):
    """AC first scan (Ah=0) over every block's [Ss..Se] band: point
    transform truncates toward zero, zero runs split by ZRL, EOB runs
    accumulate across blocks and flush before any coefficient symbol, at
    restart boundaries, and at scan end.  Emitter-parameterized so the
    symbol-collection pass and the real emission pass share one walk."""
    eob_run = 0

    def flush_eob():
        nonlocal eob_run
        if eob_run:
            sym, extra, nbits = _eob_symbol(eob_run)
            emit_sym(sym)
            if nbits:
                emit_bits(extra, nbits)
            eob_run = 0

    total = len(blocks)
    for i, blk in enumerate(blocks):
        r = 0
        for k in range(ss, se + 1):
            v = blk[k]
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                emit_sym(0xF0)
                r -= 16
            tval = t if v > 0 else -t
            size, payload = _magnitude(tval)
            emit_sym((r << 4) | size)
            emit_bits(payload, size)
            r = 0
        if r:
            eob_run += 1
            if eob_run == 0x7FFF:
                flush_eob()
        if _closes_interval(restart_interval, i + 1, total):
            flush_eob()
            emit_restart()
    flush_eob()


def _enc_ac_refine(
    blocks, ss, se, al, restart_interval, emit_sym, emit_bits, emit_restart
):
    """AC refinement scan (Ah=Al+1, G.1.2.3): newly-nonzero coefficients
    code as (run<<4)|1 + sign, correction bits for nonzero-history
    coefficients follow the symbol whose walk passes them, and EOB-run
    blocks buffer their remaining-band correction bits until the run
    flushes — the exact bit order the decoder's positional walk reads."""
    eob_run = 0
    buffered: list[int] = []  # correction bits owed after the next EOB flush

    def flush_eob():
        nonlocal eob_run
        if eob_run:
            sym, extra, nbits = _eob_symbol(eob_run)
            emit_sym(sym)
            if nbits:
                emit_bits(extra, nbits)
            eob_run = 0
        for b in buffered:
            emit_bits(b, 1)
        buffered.clear()

    total = len(blocks)
    for i, blk in enumerate(blocks):
        # categorize the band: H = nonzero history (correction bit),
        # N = newly nonzero at this precision, Z = still zero
        cats = []
        for k in range(ss, se + 1):
            v = blk[k]
            if abs(v) >> (al + 1):
                cats.append(("H", (abs(v) >> al) & 1))
            elif (abs(v) >> al) == 1:
                cats.append(("N", 1 if v > 0 else 0))
            else:
                cats.append(("Z", 0))
        n_positions = [j for j, (tag, _b) in enumerate(cats) if tag == "N"]
        j = 0
        for t in n_positions:
            flush_eob()
            while True:
                # zero-history run length from j up to (excluding) t
                zs = [p for p in range(j, t) if cats[p][0] == "Z"]
                if len(zs) > 15:
                    z16 = zs[15]  # ZRL consumes 16 zero-history slots
                    emit_sym(0xF0)
                    for p in range(j, z16 + 1):
                        if cats[p][0] == "H":
                            emit_bits(cats[p][1], 1)
                    j = z16 + 1
                    continue
                emit_sym((len(zs) << 4) | 1)
                emit_bits(cats[t][1], 1)  # sign: 1 = positive
                for p in range(j, t):
                    if cats[p][0] == "H":
                        emit_bits(cats[p][1], 1)
                j = t + 1
                break
        if j <= se - ss:
            # remaining band closes with an EOB whose correction bits are
            # owed only once the run flushes
            eob_run += 1
            buffered.extend(
                cats[p][1] for p in range(j, se - ss + 1)
                if cats[p][0] == "H"
            )
            if eob_run == 0x7FFF:
                flush_eob()
        if _closes_interval(restart_interval, i + 1, total):
            flush_eob()
            emit_restart()
    flush_eob()


def _mcu_scan(
    mcus, ncomps: int, se: int, ah: int, al: int, restart_interval: int
) -> bytes:
    """Entropy-code one INTERLEAVED scan over ``mcus`` (per MCU, its
    ``(component index, table slot, block)`` list in A.2.3 order): the
    baseline scan (``se`` = 63: differential DC plus run-length AC under
    the Annex K tables), a progressive DC first scan (``ah`` = 0:
    differential DC of the point-transformed ``dc >> al``) or a DC
    refinement scan (one raw bit per block).  A closed restart interval
    emits RSTn and resets every DC predictor."""
    w = _BitWriter()
    preds = [0] * ncomps
    for m, mcu in enumerate(mcus, 1):
        for ci, slot, blk in mcu:
            if ah:  # DC refinement: no Huffman, no predictor
                w.write((blk[0] >> al) & 1, 1)
                continue
            dc = blk[0] >> al  # arithmetic shift = the decoder's OR inverse
            size, payload = _magnitude(dc - preds[ci])
            w.write(*_DC_CODES[slot][size])
            if size:
                w.write(payload, size)
            preds[ci] = dc
            if se:  # baseline AC: zero runs split by ZRL, EOB after the last
                ac = _AC_CODES[slot]
                run = 0
                for v in blk[1:]:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        w.write(*ac[0xF0])
                        run -= 16
                    size, payload = _magnitude(v)
                    w.write(*ac[(run << 4) | size])
                    w.write(payload, size)
                    run = 0
                if run:
                    w.write(*ac[0x00])
        if _closes_interval(restart_interval, m, len(mcus)):
            w.restart()
            preds = [0] * ncomps
    w.flush()
    return bytes(w.out)


def _encode(
    width: int,
    height: int,
    planes,
    luma_h: int,
    luma_v: int,
    qtable,
    chroma_qtable,
    restart_interval: int,
    scan_script=None,
) -> bytes:
    """Encode ``planes`` — ``(gray,)`` or ``(y, cb, cr)``, each
    ``width*height`` bytes — with luma sampled ``luma_h x luma_v`` and
    chroma 1x1: the one component-list walk behind every public encoder,
    mirroring :func:`decode`.  Chroma of a subsampled layout is picked
    top-left onto the MCU grid, then every block is quantized once
    (:func:`_quantize_block`) on its component's MCU-padded grid, so
    baseline and progressive streams carry identical coefficients.
    ``scan_script`` None writes a baseline (SOF0) frame with one
    interleaved scan; otherwise a progressive (SOF2) frame with one
    interleaved scan per DC entry and one scan per component per AC
    entry, the latter over the component's A.2.2 non-interleaved grid
    and each behind its own uniform-length DHT."""
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError("jpeg: dimensions out of range")
    if not 0 <= restart_interval <= 0xFFFF:
        raise ValueError("jpeg: restart interval must be 0..65535 MCUs")
    progressive = scan_script is not None
    if progressive:
        if not scan_script or scan_script[0][:3] != (0, 0, 0):
            raise ValueError(
                # the grayscale encoder names an empty script as such
                "jpeg: progressive scan script is empty"
                if not scan_script and len(planes) == 1
                else "jpeg: first progressive scan must be DC first"
            )
        for ss, se, ah, al in scan_script:
            if ss == 0 and se != 0:
                raise ValueError(
                    "jpeg: a progressive scan cannot mix DC and AC"
                )
            if not (0 <= ss <= se <= 63 and 0 <= al <= 13):
                raise ValueError("jpeg: invalid scan script entry")
            if ah != 0 and ah != al + 1:
                raise ValueError(
                    "jpeg: successive approximation must refine one bit"
                )

    mcux = -(-width // (8 * luma_h))
    mcuy = -(-height // (8 * luma_v))
    subsampled = (luma_h, luma_v) != (1, 1)
    if subsampled:
        # chroma sample per MCU-grid position: the top-left pick, the
        # exact inverse of the decoder's replication upsample
        pick = [
            min(luma_v * cy, height - 1) * width + min(luma_h * cx, width - 1)
            for cy in range(mcuy * 8)
            for cx in range(mcux * 8)
        ]
    qtables = (qtable, chroma_qtable)
    mcus = [[] for _ in range(mcux * mcuy)]  # (comp, slot, block) per MCU
    comps = []  # (component id, h, v, table slot, A.2.2 grid blocks)
    for ci, plane in enumerate(planes):
        h, v = (luma_h, luma_v) if ci == 0 else (1, 1)
        slot = min(ci, 1)
        pw, ph = width, height
        if ci and subsampled:
            pw, ph = mcux * 8, mcuy * 8
            plane = bytes(map(plane.__getitem__, pick))
        gw, q = mcux * h, qtables[slot]
        blocks = [
            _quantize_block(_extract_block(plane, pw, ph, bx, by), q)
            for by in range(mcuy * v)
            for bx in range(gw)
        ]
        for i, blk in enumerate(blocks):  # raster order within each MCU
            by, bx = divmod(i, gw)
            mcus[by // v * mcux + bx // h].append((ci, slot, blk))
        # AC scans walk the component's NON-INTERLEAVED grid (A.2.2):
        # ceil over the component size, not the MCU-padded grid
        nbw = (-(-(width * h) // luma_h) + 7) // 8
        nbh = (-(-(height * v) // luma_v) + 7) // 8
        blocks = [
            blocks[by * gw + bx] for by in range(nbh) for bx in range(nbw)
        ]
        comps.append((ci + 1, h, v, slot, blocks))

    slots = range(min(len(planes), 2))
    parts = [
        SOI,
        _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        *(_seg(0xDB, bytes([s, *qtables[s]])) for s in slots),
        _seg(
            0xC2 if progressive else 0xC0,
            struct.pack(">BHHB", 8, height, width, len(comps))
            # component id, sampling factors, quant slot
            + bytes(b for cid, h, v, slot, _ in comps
                    for b in (cid, (h << 4) | v, slot)),
        ),
    ]
    for s in slots:
        dc_bits, dc_vals, ac_bits, ac_vals = _ANNEX_K[s]
        parts.append(_table_seg(0, s, dc_bits, dc_vals))
        if not progressive:
            parts.append(_table_seg(1, s, ac_bits, ac_vals))
    if restart_interval:
        parts.append(_seg(0xDD, struct.pack(">H", restart_interval)))

    # SOS component list of the interleaved scans: id, (DC table << 4) |
    # AC table; progressive DC scans code no AC
    interleaved = bytes([len(comps)]) + bytes(
        b for cid, _h, _v, slot, _ in comps
        for b in (cid, (slot << 4) | (0 if progressive else slot))
    )
    for ss, se, ah, al in scan_script or ((0, 63, 0, 0),):
        if ss == 0:  # baseline, DC first or DC refinement
            scans = [(b"", interleaved, _mcu_scan(
                mcus, len(comps), se, ah, al, restart_interval
            ))]
        else:  # AC: one scan per component, symbols collected first
            enc = _enc_ac_first if ah == 0 else _enc_ac_refine
            scans = []
            for cid, _h, _v, _slot, blocks in comps:
                syms: set[int] = set()
                enc(
                    blocks, ss, se, al, restart_interval,
                    syms.add, lambda _v, _n: None, lambda: None,
                )
                bits, vals = _uniform_table(syms)
                codes = _canonical_codes(bits, vals)
                w = _BitWriter()
                enc(
                    blocks, ss, se, al, restart_interval,
                    lambda sym: w.write(*codes[sym]), w.write, w.restart,
                )
                w.flush()
                scans.append(
                    (_table_seg(1, 0, bits, vals), bytes([1, cid, 0x00]),
                     bytes(w.out))
                )
        for dht, comp_list, data in scans:
            parts += [
                dht,
                _seg(0xDA, comp_list + bytes([ss, se, (ah << 4) | al])),
                data,
            ]
    parts.append(EOI)
    return b"".join(parts)


def _check_planes(width: int, height: int, *planes: bytes) -> None:
    if any(len(p) != width * height for p in planes):
        raise ValueError("jpeg: planes must each be width*height bytes")


def _check_sampling(luma_h: int, luma_v: int, full_res: str) -> None:
    if luma_h not in (1, 2) or luma_v not in (1, 2):
        raise ValueError("jpeg: luma sampling factors must be 1 or 2")
    if (luma_h, luma_v) == (1, 1):
        raise ValueError(f"jpeg: 1x1 luma is 4:4:4 — use {full_res}")


def encode_gray(
    width: int, height: int, pixels: bytes, qtable=FLAT_Q16,
    restart_interval: int = 0,
) -> bytes:
    """Write a real baseline grayscale JPEG: FDCT, quantization under
    ``qtable`` (zigzag-ordered in the DQT segment, as the spec requires),
    differential DC, run-length AC, Annex K Huffman coding, byte
    stuffing.  Edge blocks of non-multiple-of-8 images are padded by edge
    replication (the standard convention); the decoder crops back.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker after
    every that-many MCUs (one block each, for grayscale), resetting the
    DC predictor — the camera-file layout."""
    if len(pixels) != width * height:
        raise ValueError("jpeg: pixels must be width*height bytes")
    return _encode(
        width, height, (pixels,), 1, 1, qtable, None, restart_interval
    )


def encode_ycbcr(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    qtable=FLAT_Q16,
    chroma_qtable=FLAT_Q16,
    restart_interval: int = 0,
) -> bytes:
    """Write a baseline YCbCr 4:4:4 color JPEG from the three planes:
    interleaved MCUs (one 8x8 block per component, Y then Cb then Cr),
    per-component differential-DC predictors, Annex K LUMINANCE tables
    (K.3/K.5) for Y and CHROMINANCE tables (K.4/K.6) for Cb/Cr, quant
    slot 0 for Y and slot 1 for chroma.  Taking planes directly (rather
    than RGB — :func:`encode_color` layers the fixed-point forward
    transform on top) keeps the lossless fixture class reachable: an
    even-valued constant block in ANY plane quantizes losslessly under
    the flat q=16 table, exactly as in the grayscale contract.
    ``restart_interval`` > 0 emits DRI + per-interval RSTn markers,
    resetting ALL THREE DC predictors at each boundary."""
    _check_planes(width, height, y_plane, cb_plane, cr_plane)
    return _encode(
        width, height, (y_plane, cb_plane, cr_plane), 1, 1, qtable,
        chroma_qtable, restart_interval,
    )


def encode_ycbcr_sub(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    luma_h: int = 2,
    luma_v: int = 2,
    qtable=FLAT_Q16,
    chroma_qtable=FLAT_Q16,
    restart_interval: int = 0,
) -> bytes:
    """Baseline YCbCr with subsampled chroma at luma sampling
    ``luma_h x luma_v`` (each 1 or 2; chroma is always 1x1): (2,2) is
    4:2:0 — the dominant real-world layout — (2,1) is 4:2:2, (1,2) is
    4:4:0.  Each MCU covers ``8*luma_h x 8*luma_v`` pixels and carries
    ``luma_h*luma_v`` Y blocks (raster order) plus one Cb and one Cr
    block.  Chroma is subsampled by TOP-LEFT SAMPLE (spec-legal — the
    subsampling filter is the encoder's choice) because that is the
    exact inverse of the decoder's replication upsample: chroma constant
    per luma_h x luma_v pixel cell (and in the fixture class per whole
    MCU) roundtrips bit-exactly, extending the even-constant-block
    lossless contract to every subsampled layout the decoder accepts.
    ``restart_interval`` > 0 emits DRI + per-interval RSTn markers,
    resetting all three DC predictors at each boundary."""
    _check_sampling(luma_h, luma_v, "encode_ycbcr")
    _check_planes(width, height, y_plane, cb_plane, cr_plane)
    return _encode(
        width, height, (y_plane, cb_plane, cr_plane), luma_h, luma_v,
        qtable, chroma_qtable, restart_interval,
    )


def encode_ycbcr_420(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    qtable=FLAT_Q16,
    chroma_qtable=FLAT_Q16,
    restart_interval: int = 0,
) -> bytes:
    """4:2:0 (luma 2x2) — see :func:`encode_ycbcr_sub`."""
    return encode_ycbcr_sub(
        width, height, y_plane, cb_plane, cr_plane, 2, 2, qtable,
        chroma_qtable, restart_interval,
    )


def encode_color(
    width: int, height: int, rgb: bytes, qtable=FLAT_Q16
) -> bytes:
    """Baseline YCbCr 4:4:4 JPEG from interleaved RGB bytes: the
    fixed-point forward transform (:func:`rgb_to_ycbcr`) then
    :func:`encode_ycbcr`."""
    if len(rgb) != 3 * width * height:
        raise ValueError("jpeg: rgb must be 3*width*height bytes")
    n = width * height
    yp, cbp, crp = bytearray(n), bytearray(n), bytearray(n)
    for i in range(n):
        yp[i], cbp[i], crp[i] = rgb_to_ycbcr(
            rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        )
    return encode_ycbcr(width, height, bytes(yp), bytes(cbp), bytes(crp),
                        qtable, qtable)


def encode_gray_progressive(
    width: int,
    height: int,
    pixels: bytes,
    qtable=FLAT_Q16,
    scan_script=PROGRESSIVE_SCRIPT,
    restart_interval: int = 0,
) -> bytes:
    """Write a REAL progressive (SOF2) grayscale JPEG: spectral selection
    + successive approximation per ``scan_script`` (tuples of
    ``(Ss, Se, Ah, Al)``; the first scan must be a DC first scan, per
    G.1.1.1.1).  Quantized coefficients are IDENTICAL to
    :func:`encode_gray`'s (shared :func:`_quantize_block`), so the
    progressive stream decodes to byte-identical pixels — the property
    the tests pin.  DC scans use the Annex K DC table; each AC scan
    ships its own uniform-length DHT because progressive EOBRUN symbols
    don't exist in Annex K's tables.  ``restart_interval`` applies per
    scan (EOB runs flush at each boundary; predictors reset)."""
    if len(pixels) != width * height:
        raise ValueError("jpeg: pixels must be width*height bytes")
    return _encode(
        width, height, (pixels,), 1, 1, qtable, None, restart_interval,
        scan_script,
    )


def encode_ycbcr_progressive(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    qtable=FLAT_Q16,
    chroma_qtable=FLAT_Q16,
    scan_script=PROGRESSIVE_SCRIPT,
    restart_interval: int = 0,
) -> bytes:
    """Progressive YCbCr 4:4:4 from the three planes: DC scans are
    INTERLEAVED (ns=3 — the one progressive scan type that may be; the
    decoder's MCU-ordered multi-component DC path), AC scans are
    per-component as the spec requires, emitted Y, Cb, Cr per script
    band.  Quantized coefficients match :func:`encode_ycbcr` exactly, so
    decoded planes are byte-identical to the baseline stream's."""
    _check_planes(width, height, y_plane, cb_plane, cr_plane)
    return _encode(
        width, height, (y_plane, cb_plane, cr_plane), 1, 1, qtable,
        chroma_qtable, restart_interval, scan_script,
    )


def encode_ycbcr_progressive_sub(
    width: int,
    height: int,
    y_plane: bytes,
    cb_plane: bytes,
    cr_plane: bytes,
    luma_h: int = 2,
    luma_v: int = 2,
    qtable=FLAT_Q16,
    chroma_qtable=FLAT_Q16,
    scan_script=PROGRESSIVE_SCRIPT,
    restart_interval: int = 0,
) -> bytes:
    """Progressive YCbCr with SUBSAMPLED chroma (luma ``luma_h x
    luma_v``, chroma 1x1 — 4:2:0/4:2:2/4:4:0 like
    :func:`encode_ycbcr_sub`): DC scans interleave ``luma_h*luma_v``
    luma blocks + Cb + Cr per MCU; AC scans are per-component over the
    component's NON-INTERLEAVED grid (A.2.2: ceil over the component
    size, NOT the MCU-padded grid — so luma pad columns/rows of
    non-multiple-of-MCU images carry DC-only data, exactly what the
    decoder expects and crops).  Chroma subsamples by top-left pick and
    every quantized coefficient matches :func:`encode_ycbcr_sub`'s, so
    the progressive stream decodes byte-identically to the baseline
    subsampled stream."""
    _check_sampling(luma_h, luma_v, "encode_ycbcr_progressive")
    _check_planes(width, height, y_plane, cb_plane, cr_plane)
    return _encode(
        width, height, (y_plane, cb_plane, cr_plane), luma_h, luma_v,
        qtable, chroma_qtable, restart_interval, scan_script,
    )


def _decode_block(reader: _BitReader, dcm, acm, q, pred: int):
    """Entropy-decode, dequantize, dezigzag, and IDCT one 8x8 block;
    returns ``(pixels, new_pred)``."""
    coefs = [0.0] * 64
    size = _decode_huffman(reader, dcm)
    pred += _extend(reader.bits(size), size)
    coefs[0] = pred * q[0]
    i = 1
    while i < 64:
        rs = _decode_huffman(reader, acm)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                i += 16
                continue
            break  # EOB
        i += run
        if i > 63:
            raise ValueError("jpeg: AC run past end of block")
        coefs[ZIGZAG[i]] = _extend(reader.bits(size), size) * q[i]
        i += 1
    return _idct(coefs), pred


def _refine_coef(reader: _BitReader, blk: list[int], natural: int, p1: int):
    """One AC correction bit (T.81 G.1.2.3): append bit ``p1`` to the
    MAGNITUDE of an already-nonzero coefficient.  Magnitude arithmetic,
    not two's-complement bitwise — the encoder's AC point transform
    truncates toward zero, so the refinement bit is a bit of |coef|."""
    if reader.bits(1):
        v = blk[natural]
        if abs(v) & p1 == 0:
            blk[natural] = v + p1 if v > 0 else v - p1


def _decode_progressive(
    payload: bytes,
    scan_at: int,
    first_scan_body: bytes,
    frame_comps: list,
    width: int,
    height: int,
    qtables: dict,
    dc_maps: dict,
    ac_maps: dict,
    restart_interval: int,
) -> tuple[list[bytearray], list[int]]:
    """Progressive (SOF2) multi-scan decode: spectral selection +
    successive approximation, T.81 Annex G.

    Coefficients accumulate UNQUANTIZED-index-space (quantized values)
    per component across scans — DC first scans store ``diff << Al`` with
    per-scan predictors, DC refinement ORs in one bit per block (exact in
    two's complement because the DC point transform is an arithmetic
    shift), AC first scans run-length-code the band with EOB-run
    counting, and AC refinement scans interleave newly-nonzero insertions
    with magnitude correction bits for history coefficients.  Restart
    markers resynchronize per scan (predictors AND the EOB run reset —
    E.2.4 applies to progressive scans too).  After the last scan every
    block is dequantized and inverse-transformed exactly as the baseline
    path, so a progressive stream of the same quantized coefficients
    decodes to BYTE-IDENTICAL pixels (the property the tests pin).

    Returns ``(planes, strides)`` on the interleaved (MCU-padded) grid,
    ready for the shared upsample/crop tail in :func:`decode`."""
    hmax = max(h for (_c, h, _v, _q) in frame_comps)
    vmax = max(v for (_c, _h, v, _q) in frame_comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    n_comp = len(frame_comps)
    # per component: interleaved-grid block dims and coefficient blocks
    # (NATURAL order, quantized values)
    grid_w = [mcux * h for (_c, h, _v, _q) in frame_comps]
    grid_h = [mcuy * v for (_c, _h, v, _q) in frame_comps]
    coef = [
        [[0] * 64 for _ in range(grid_w[i] * grid_h[i])]
        for i in range(n_comp)
    ]
    # non-interleaved scan dims (A.2.2): ceil over the COMPONENT's size,
    # not the MCU-padded grid
    nb_w = [
        (-(-(width * h) // hmax) + 7) // 8 for (_c, h, _v, _q) in frame_comps
    ]
    nb_h = [
        (-(-(height * v) // vmax) + 7) // 8 for (_c, _h, v, _q) in frame_comps
    ]
    comp_index = {cid: i for i, (cid, _h, _v, _q) in enumerate(frame_comps)}

    body = first_scan_body
    pos = scan_at
    while True:
        # ---- parse this scan's header ----
        ns = body[0]
        if not 1 <= ns <= n_comp or len(body) < 4 + 2 * ns:
            raise ValueError("jpeg: malformed progressive scan header")
        scomps = []  # (ci, dc_sel, ac_sel)
        for c in range(ns):
            cid = body[1 + 2 * c]
            if cid not in comp_index:
                raise ValueError("jpeg: scan names a component not in frame")
            sel = body[2 + 2 * c]
            scomps.append((comp_index[cid], sel >> 4, sel & 0x0F))
        ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        dc_scan = ss == 0
        if dc_scan:
            if se != 0:
                raise ValueError(
                    "jpeg: progressive scan mixes DC and AC (Ss=0 needs Se=0)"
                )
        else:
            if ns != 1:
                raise ValueError(
                    "jpeg: progressive AC scans must be non-interleaved"
                )
            if not ss <= se <= 63:
                raise ValueError("jpeg: invalid spectral band")
        if ah != 0 and ah != al + 1:
            # refinement must step exactly one bit (G.1.1.1.2)
            raise ValueError(
                "jpeg: successive approximation must refine one bit "
                f"(Ah={ah}, Al={al})"
            )
        reader = _BitReader(payload, pos, allow_restarts=restart_interval > 0)
        p1 = 1 << al
        eob_run = 0
        preds = [0] * n_comp
        rst_idx = 0
        units_done = 0

        def _resync_if_due(total_units: int) -> None:
            nonlocal eob_run, preds, rst_idx
            if (
                restart_interval
                and units_done % restart_interval == 0
                and units_done < total_units
            ):
                reader.resync(rst_idx)
                rst_idx += 1
                preds = [0] * n_comp
                eob_run = 0

        if dc_scan and ah == 0:
            # ---- DC first scan: differential, shifted by Al ----
            if any(s not in dc_maps for (_ci, s, _a) in scomps):
                raise ValueError(
                    "jpeg: scan references undefined Huffman table"
                )
            if ns > 1:  # interleaved MCU order
                total = mcux * mcuy
                for _my in range(mcuy):
                    for _mx in range(mcux):
                        for ci, dc_sel, _ac_sel in scomps:
                            _cid, h, v, _q = frame_comps[ci]
                            for by in range(v):
                                for bx in range(h):
                                    size = _decode_huffman(
                                        reader, dc_maps[dc_sel]
                                    )
                                    preds[ci] += _extend(
                                        reader.bits(size), size
                                    )
                                    bi = (
                                        (_my * v + by) * grid_w[ci]
                                        + _mx * h
                                        + bx
                                    )
                                    coef[ci][bi][0] = preds[ci] << al
                        units_done += 1
                        _resync_if_due(total)
            else:
                ci, dc_sel, _ac_sel = scomps[0]
                total = nb_w[ci] * nb_h[ci]
                for by in range(nb_h[ci]):
                    for bx in range(nb_w[ci]):
                        size = _decode_huffman(reader, dc_maps[dc_sel])
                        preds[ci] += _extend(reader.bits(size), size)
                        coef[ci][by * grid_w[ci] + bx][0] = preds[ci] << al
                        units_done += 1
                        _resync_if_due(total)
        elif dc_scan:
            # ---- DC refinement: one raw bit per block, OR at Al ----
            if ns > 1:
                total = mcux * mcuy
                for _my in range(mcuy):
                    for _mx in range(mcux):
                        for ci, _dc_sel, _ac_sel in scomps:
                            _cid, h, v, _q = frame_comps[ci]
                            for by in range(v):
                                for bx in range(h):
                                    bi = (
                                        (_my * v + by) * grid_w[ci]
                                        + _mx * h
                                        + bx
                                    )
                                    if reader.bits(1):
                                        coef[ci][bi][0] |= p1
                        units_done += 1
                        _resync_if_due(total)
            else:
                ci = scomps[0][0]
                total = nb_w[ci] * nb_h[ci]
                for by in range(nb_h[ci]):
                    for bx in range(nb_w[ci]):
                        if reader.bits(1):
                            coef[ci][by * grid_w[ci] + bx][0] |= p1
                        units_done += 1
                        _resync_if_due(total)
        elif ah == 0:
            # ---- AC first scan: band run-length with EOB runs ----
            ci, _dc_sel, ac_sel = scomps[0]
            if ac_sel not in ac_maps:
                raise ValueError(
                    "jpeg: scan references undefined Huffman table"
                )
            acm = ac_maps[ac_sel]
            total = nb_w[ci] * nb_h[ci]
            for by in range(nb_h[ci]):
                for bx in range(nb_w[ci]):
                    blk = coef[ci][by * grid_w[ci] + bx]
                    if eob_run > 0:
                        eob_run -= 1
                    else:
                        k = ss
                        while k <= se:
                            rs = _decode_huffman(reader, acm)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r < 15:
                                    eob_run = (1 << r) - 1
                                    if r:
                                        eob_run += reader.bits(r)
                                    break
                                k += 16  # ZRL
                                continue
                            k += r
                            if k > se:
                                raise ValueError(
                                    "jpeg: AC run past band end"
                                )
                            blk[ZIGZAG[k]] = (
                                _extend(reader.bits(s), s) << al
                            )
                            k += 1
                    units_done += 1
                    _resync_if_due(total)
        else:
            # ---- AC refinement scan (G.1.2.3) ----
            ci, _dc_sel, ac_sel = scomps[0]
            if ac_sel not in ac_maps:
                raise ValueError(
                    "jpeg: scan references undefined Huffman table"
                )
            acm = ac_maps[ac_sel]
            total = nb_w[ci] * nb_h[ci]
            for by in range(nb_h[ci]):
                for bx in range(nb_w[ci]):
                    blk = coef[ci][by * grid_w[ci] + bx]
                    if eob_run > 0:
                        # whole band: correction bits for nonzero history
                        for k in range(ss, se + 1):
                            if blk[ZIGZAG[k]]:
                                _refine_coef(reader, blk, ZIGZAG[k], p1)
                        eob_run -= 1
                    else:
                        k = ss
                        while k <= se:
                            rs = _decode_huffman(reader, acm)
                            r, s = rs >> 4, rs & 0x0F
                            newval = 0
                            if s == 0:
                                if r < 15:  # EOB run starts here
                                    eob_run = 1 << r
                                    if r:
                                        eob_run += reader.bits(r)
                                    break
                                # ZRL: pass 16 zero-history positions
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "jpeg: refinement magnitude must "
                                        "be 1"
                                    )
                                newval = p1 if reader.bits(1) else -p1
                            # advance past r zero-history coefficients,
                            # emitting corrections for nonzero history
                            while k <= se:
                                nat = ZIGZAG[k]
                                if blk[nat] != 0:
                                    _refine_coef(reader, blk, nat, p1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                blk[ZIGZAG[k]] = newval
                            k += 1
                        if eob_run > 0:
                            # this block consumed the first EOB slot:
                            # correction bits for the REST of the band
                            for kk in range(k, se + 1):
                                if blk[ZIGZAG[kk]]:
                                    _refine_coef(reader, blk, ZIGZAG[kk], p1)
                            eob_run -= 1
                    units_done += 1
                    _resync_if_due(total)

        # ---- find the next marker after this scan's entropy data ----
        pos = reader.pos
        while True:
            if pos + 1 >= len(payload):
                raise ValueError("jpeg: truncated stream after scan")
            if payload[pos] != 0xFF:
                pos += 1  # unread pad byte of the closed scan
                continue
            nxt = payload[pos + 1]
            if nxt == 0x00 or nxt == 0xFF or 0xD0 <= nxt <= 0xD7:
                pos += 2 if nxt == 0x00 else 1
                if 0xD0 <= nxt <= 0xD7:
                    pos += 1  # stray trailing restart marker: step over
                continue
            break
        # ---- walk segments until the next SOS or EOI ----
        body = None
        while True:
            # mirror the pre-SOS header loop: require a marker prefix, skip
            # B.1.1.2 fill bytes, and bounds-check every read so a truncated
            # or garbled stream fails as ValueError, not IndexError.
            if pos >= len(payload) or payload[pos] != 0xFF:
                raise ValueError(
                    f"jpeg: expected marker between scans at byte {pos}"
                )
            while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= len(payload):
                raise ValueError("jpeg: truncated stream between scans")
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI: all scans done
                break
            if pos + 4 > len(payload):
                raise ValueError("jpeg: truncated stream between scans")
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            if pos + 2 + seg_len > len(payload):
                raise ValueError("jpeg: truncated stream between scans")
            seg_body = payload[pos + 4: pos + 2 + seg_len]
            pos += 2 + seg_len
            if marker == 0xC4:  # DHT between scans
                i = 0
                while i < len(seg_body):
                    tc, th = seg_body[i] >> 4, seg_body[i] & 0x0F
                    nbits = tuple(seg_body[i + 1: i + 17])
                    n = sum(nbits)
                    vals = tuple(seg_body[i + 17: i + 17 + n])
                    (dc_maps if tc == 0 else ac_maps)[th] = _cached_lut(
                        nbits, vals
                    )
                    i += 17 + n
            elif marker == 0xDB:  # DQT between scans
                i = 0
                while i < len(seg_body):
                    pq, tq = seg_body[i] >> 4, seg_body[i] & 0x0F
                    if pq != 0:
                        raise ValueError(
                            "jpeg: 16-bit quant tables unsupported"
                        )
                    qtables[tq] = tuple(seg_body[i + 1: i + 65])
                    i += 65
            elif marker == 0xDD:  # DRI between scans
                if len(seg_body) < 2:
                    raise ValueError("jpeg: truncated stream between scans")
                (restart_interval,) = struct.unpack_from(">H", seg_body, 0)
            elif marker == 0xDA:  # next scan
                body = seg_body
                break
            # APPn / COM: skipped
        if body is None:
            break  # EOI
    # ---- dequantize + IDCT every block into the padded planes ----
    strides = [grid_w[i] * 8 for i in range(n_comp)]
    planes = [bytearray(strides[i] * grid_h[i] * 8) for i in range(n_comp)]
    for ci, (_cid, _h, _v, tq) in enumerate(frame_comps):
        if tq not in qtables:
            raise ValueError("jpeg: frame references undefined quant table")
        q = qtables[tq]
        qnat = [0] * 64
        for zz in range(64):
            qnat[ZIGZAG[zz]] = q[zz]
        stride = strides[ci]
        for by in range(grid_h[ci]):
            for bx in range(grid_w[ci]):
                blk = coef[ci][by * grid_w[ci] + bx]
                px = _idct([blk[i] * qnat[i] for i in range(64)])
                x0, y0 = bx * 8, by * 8
                out = planes[ci]
                for y in range(8):
                    row0 = (y0 + y) * stride + x0
                    out[row0: row0 + 8] = px[y * 8: y * 8 + 8]
    return planes, strides


def decode(payload: bytes) -> dict:
    """Strict baseline JPEG decoder: grayscale and YCbCr color at
    4:4:4 / 4:2:2 / 4:2:0 / 4:4:0 (luma factors 1-2 per axis, 1x1
    chroma).

    Grayscale returns ``{"width", "height", "n_components": 1,
    "pixels"}`` with ``pixels`` the row-major 8-bit gray bytes (edge
    padding cropped).  Color returns ``{"width", "height",
    "n_components": 3, "y", "cb", "cr", "rgb"}`` — the three decoded
    planes at FULL resolution (subsampled chroma is replication-
    upsampled: exact integer indexing, the inverse of the encoder's
    top-left pick) plus interleaved RGB from the FIXED-POINT inverse
    transform (:func:`ycbcr_to_rgb`).  Honors DRI restart intervals: at
    each interval boundary the reader byte-aligns, verifies the RSTn
    modulo-8 sequence, and every component's DC predictor resets (T.81
    E.2.4) — an out-of-sequence marker is a hard error, and a stray RSTn
    under DRI=0 stays one.  Refuses, BY NAME: every non-baseline SOF
    family, sampling factors above 2 (or non-1x1 chroma), component
    counts other than 1 or 3, 12-bit precision, and scans referencing
    undefined tables."""
    if payload[:2] != SOI:
        raise ValueError("jpeg: missing SOI marker")
    pos = 2
    qtables: dict[int, tuple[int, ...]] = {}
    dc_maps: dict[int, list] = {}
    ac_maps: dict[int, list] = {}
    width = height = None
    frame_comps: list[tuple[int, int, int, int]] | None = None  # (id, h, v, tq)
    scan_at = None
    scan_sel: list[tuple[int, int]] | None = None  # (dc, ac) per comp
    restart_interval = 0
    progressive = False
    first_scan_body: bytes | None = None

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at byte {pos}")
        # B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("jpeg: truncated marker segment")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("jpeg: EOI before scan data")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, RSTn) carry no length field
            raise ValueError(
                f"jpeg: standalone marker 0x{marker:02X} before scan data"
            )
        if marker in _SOF_NAMES:
            raise ValueError(f"jpeg: {_SOF_NAMES[marker]} unsupported")
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                qtables[tq] = tuple(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + n])
                (dc_maps if tc == 0 else ac_maps)[th] = _cached_lut(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            precision, height, width, n_comp = struct.unpack_from(
                ">BHHB", body, 0
            )
            if precision != 8:
                raise ValueError(
                    f"jpeg: {precision}-bit precision unsupported"
                )
            if n_comp not in (1, 3):
                raise ValueError(
                    f"jpeg: {n_comp}-component images unsupported — "
                    "grayscale (1) or YCbCr (3) only"
                )
            if len(body) < 6 + 3 * n_comp:
                raise ValueError("jpeg: truncated SOF segment")
            frame_comps = []
            for c in range(n_comp):
                cid, sampling, tq = body[6 + 3 * c: 9 + 3 * c]
                sh, sv = sampling >> 4, sampling & 0x0F
                if sh not in (1, 2) or sv not in (1, 2):
                    raise ValueError(
                        "jpeg: sampling factor "
                        f"{sh}x{sv} unsupported — 1 or 2 per axis only"
                    )
                if n_comp == 1 and sampling != 0x11:
                    raise ValueError("jpeg: subsampling meaningless for gray")
                if n_comp == 3 and c > 0 and sampling != 0x11:
                    raise ValueError(
                        "jpeg: chroma sampling factors must be 1x1 "
                        f"(got {sh}x{sv}) — 4:4:4/4:2:2/4:2:0 via the "
                        "luma factor only"
                    )
                frame_comps.append((cid, sh, sv, tq))
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame_comps is None:
                raise ValueError("jpeg: SOS before SOF")
            if progressive:
                # progressive scan headers carry a SUBSET of components
                # and spectral/approximation parameters; the multi-scan
                # loop (_decode_progressive) validates each one
                scan_at = pos
                first_scan_body = body
                break
            ns = body[0]
            if ns != len(frame_comps) or any(
                body[1 + 2 * c] != frame_comps[c][0] for c in range(ns)
            ):
                raise ValueError("jpeg: scan does not match the frame")
            scan_sel = [
                (body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            if (
                body[1 + 2 * ns] != 0
                or body[2 + 2 * ns] != 63
                or body[3 + 2 * ns] != 0
            ):
                raise ValueError("jpeg: non-sequential scan parameters")
            scan_at = pos
            break
        # APPn / COM / others: skipped

    if width is None or scan_at is None:
        raise ValueError("jpeg: missing SOF or SOS")
    samplings = [(sh, sv) for (_cid, sh, sv, _tq) in frame_comps]
    hmax = max(sh for sh, _ in samplings)
    vmax = max(sv for _, sv in samplings)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    if progressive:
        planes, strides = _decode_progressive(
            payload,
            scan_at,
            first_scan_body,
            frame_comps,
            width,
            height,
            qtables,
            dc_maps,
            ac_maps,
            restart_interval,
        )
    else:
        comps = []  # (h, v, dcm, acm, q) per component, scan order
        for (cid, sh, sv, tq), (dc_sel, ac_sel) in zip(frame_comps, scan_sel):
            if tq not in qtables:
                raise ValueError("jpeg: scan references undefined quant table")
            if dc_sel not in dc_maps or ac_sel not in ac_maps:
                raise ValueError(
                    "jpeg: scan references undefined Huffman table"
                )
            comps.append(
                (sh, sv, dc_maps[dc_sel], ac_maps[ac_sel], qtables[tq])
            )

        # generic interleaved-MCU loop (A.2.3): an MCU carries h_i*v_i
        # blocks per component in raster order; each component decodes
        # into its own (possibly subsampled) plane, padded to whole MCUs
        # and cropped on upsample.  hmax/vmax define the MCU's pixel
        # footprint.
        strides = [mcux * c[0] * 8 for c in comps]
        planes = [bytearray(strides[i] * mcuy * comps[i][1] * 8)
                  for i in range(len(comps))]
        preds = [0] * len(comps)
        reader = _BitReader(
            payload, scan_at, allow_restarts=restart_interval > 0
        )
        total_mcus = mcux * mcuy
        mcu_idx = rst_idx = 0
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (sh, sv, dcm, acm, q) in enumerate(comps):
                    for by in range(sv):
                        for bx in range(sh):
                            px, preds[ci] = _decode_block(
                                reader, dcm, acm, q, preds[ci]
                            )
                            out = planes[ci]
                            stride = strides[ci]
                            x0 = (mx * sh + bx) * 8
                            y0 = (my * sv + by) * 8
                            for y in range(8):
                                row0 = (y0 + y) * stride + x0
                                out[row0: row0 + 8] = px[y * 8: y * 8 + 8]
                mcu_idx += 1
                if (
                    restart_interval
                    and mcu_idx % restart_interval == 0
                    and mcu_idx < total_mcus
                ):
                    reader.resync(rst_idx)
                    rst_idx += 1
                    preds = [0] * len(comps)

    def _upsample(ci: int) -> bytes:
        """Full-resolution plane: nearest (replication) upsample from the
        component's sampling grid, cropped to width x height — exact
        integer indexing, the inverse of the encoder's top-left pick.
        numpy fancy-index path when available (identical index
        arithmetic, so bit-identical output), per-pixel fallback kept."""
        sh, sv = samplings[ci]
        src, stride = planes[ci], strides[ci]
        try:
            import numpy as np

            grid = np.frombuffer(bytes(src), dtype=np.uint8).reshape(
                -1, stride
            )
            if sh == hmax and sv == vmax:
                return grid[:height, :width].tobytes()
            rows = (np.arange(height) * sv) // vmax
            cols = (np.arange(width) * sh) // hmax
            return grid[np.ix_(rows, cols)].tobytes()
        except ImportError:  # pragma: no cover - numpy is baked in
            if sh == hmax and sv == vmax:
                return b"".join(
                    src[y * stride: y * stride + width]
                    for y in range(height)
                )
            out = bytearray(width * height)
            for y in range(height):
                sy = (y * sv) // vmax
                row0 = sy * stride
                orow = y * width
                for x in range(width):
                    out[orow + x] = src[row0 + (x * sh) // hmax]
            return bytes(out)

    if len(planes) == 1:
        return {
            "width": width,
            "height": height,
            "n_components": 1,
            "pixels": _upsample(0),
        }
    yp, cbp, crp = (_upsample(i) for i in range(3))
    return {
        "width": width,
        "height": height,
        "n_components": 3,
        "y": yp,
        "cb": cbp,
        "cr": crp,
        "rgb": _planes_to_rgb(yp, cbp, crp),
    }


def _planes_to_rgb(yp: bytes, cbp: bytes, crp: bytes) -> bytes:
    """Interleaved RGB from the three planes via the fixed-point inverse
    transform — numpy int64 vector path when available (``>>`` on int64
    is an arithmetic shift, exactly :func:`_fix`'s semantics, so the two
    paths are bit-identical; pinned in tests), per-pixel fallback kept
    honest the same way as :func:`_idct`."""
    try:
        import numpy as np

        y = np.frombuffer(yp, dtype=np.uint8).astype(np.int64)
        cb = np.frombuffer(cbp, dtype=np.uint8).astype(np.int64) - 128
        cr = np.frombuffer(crp, dtype=np.uint8).astype(np.int64) - 128
        r = np.clip(y + ((_FIX_R_CR * cr + 32768) >> 16), 0, 255)
        g = np.clip(
            y + ((_FIX_G_CB * cb + _FIX_G_CR * cr + 32768) >> 16), 0, 255
        )
        b = np.clip(y + ((_FIX_B_CB * cb + 32768) >> 16), 0, 255)
        out = np.empty(3 * len(yp), dtype=np.uint8)
        out[0::3] = r
        out[1::3] = g
        out[2::3] = b
        return out.tobytes()
    except ImportError:  # pragma: no cover - numpy is baked into this env
        rgb = bytearray(3 * len(yp))
        for i in range(len(yp)):
            rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2] = ycbcr_to_rgb(
                yp[i], cbp[i], crp[i]
            )
        return bytes(rgb)
