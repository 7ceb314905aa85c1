"""Multimodal column conventions: opaque binary payloads + typed metadata.

Image/audio/video assets live as ``binary`` columns (or, at 100 TB, as
pointer structs — path/offset/length into object storage — so the parquet
stays scan-friendly and bytes are fetched lazily). Metadata travels in a
typed struct column next to the payload.

The decode / feature-extract step is the one place Python enters the
pipeline: a ``mapInPandas`` stage (Arrow-batched — one Python roundtrip per
batch, never per row).  PNG decodes FOR REAL via the pure-stdlib codec in
:mod:`sparkgraft.ext.png` (zlib inflate + full filter reconstruction —
``decode_features(fake=False)`` and :func:`decode_png_features`); other
codecs (JPEG/ffmpeg/torchvision) are not in this container, so
``decode_features`` also ships a deterministic fake decoder behind
``fake=True`` for fixtures, and ``frame_sample`` keeps its documented
``NotImplementedError`` boundary for ffmpeg-class video containers —
the Spark-side plumbing (schema, batching, partition shape) is real and
tested either way.  ANIMATION needs no external library: real
multi-frame extraction exists for animated GIF
(:func:`extract_gif_frames` over the pure-stdlib LZW codec in
:mod:`sparkgraft.ext.gif`), the true 1:N fan-out shape the byte-window
stub only imitated.  Resampling needs no external
library at all: :func:`resize_png_features` decodes and nearest-neighbor
resamples REAL pixels (numpy gather over the stdlib-decoded matrix), so
the former PIL boundary survives only in ``resize_stub``'s
geometry-only planner.

Every per-row codec stage — the ``synth_*_payloads`` fixture generators
and the real decode/feature stages — has ONE shape, :func:`_map_rows`:
the stage states its output DDL and a per-row function, and the helper
owns the Arrow-batch loop, NULL payloads, pass-through columns and the
nullable integer typing.  Only the vectorized stubs (``decode_features``,
``frame_sample``, ``resize_stub``) and the seek-ordered
``fetch_payload_ranges`` keep their own batch loops.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from sparkgraft.ext import gif as _gif, jpeg as _jpeg, png as _png, wav as _wav

#: output schema of the decode stage. width/height are REAL decoded
#: dimensions on the PNG path, byte-derived pseudo-dimensions on the
#: fake path (renamed from fake_width/fake_height in round 10 when the
#: real decoder landed).
DECODE_SCHEMA = (
    "doc_id bigint, n_bytes int, head_byte int, width int, height int"
)

#: pandas dtype per DDL integer type: nullable, so a NULL feature survives
#: the Arrow hop instead of forcing the column to float
_NULLABLE = {"int": "Int32", "bigint": "Int64"}


def _md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


def _map_rows(
    df: DataFrame,
    schema: str,
    decode: Callable,
    row: Callable,
    key: str = "payload",
    id_col: str = "doc_id",
    fan_out: bool = False,
) -> DataFrame:
    """The one shape of a per-row codec stage: an Arrow-batched
    ``mapInPandas`` that emits ``row(decode(v))`` for each ``key`` cell.

    ``schema`` is the stage's output DDL with ``doc_id`` (read from
    ``id_col``) first; ``row`` returns a dict over the other declared
    names (extra keys are ignored), or a list of such dicts when
    ``fan_out`` — one output row each.  A NULL ``key`` cell yields NULL
    features, or zero rows when ``fan_out``.  Every input column other
    than ``id_col``/``key`` passes through in input order, appended to the
    schema (replicated onto each fanned-out row).  Column dtypes come from
    the DDL via ``_NULLABLE``, so each type is stated once."""
    declared = [f.split() for f in schema.split(",")]
    rest = [(c, t) for c, t in df.dtypes if c not in (id_col, key)]
    schema += "".join(f", {c} {t}" for c, t in rest)
    names = [n for n, _ in declared[1:]]
    dtypes = {n: _NULLABLE.get(t) for n, t in declared + rest}

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src: list[int] = []
            recs: list[dict | None] = []
            for j, v in enumerate(pdf[key]):
                if v is None:
                    got = [] if fan_out else [None]
                else:
                    got = row(decode(v))
                    if not fan_out:
                        got = [got]
                src += [j] * len(got)
                recs += got
            cols = {"doc_id": pdf[id_col].to_numpy()[src]}
            for n in names:
                cols[n] = [None if r is None else r[n] for r in recs]
            for c, _ in rest:
                cols[c] = pdf[c].to_numpy()[src]
            yield pd.DataFrame(
                {n: pd.Series(v, dtype=dtypes[n]) for n, v in cols.items()}
            )

    return df.mapInPandas(_batches, schema)


def _synth_payloads(
    df: DataFrame, id_col: str, make: Callable, counts: tuple[str, ...] = ()
) -> DataFrame:
    """A fixture generator over ``_map_rows``: ``make(id)`` returns
    ``(payload, source, *counts)`` and the row becomes (doc_id, payload,
    source_md5 = md5(source), *counts) — ``source`` is the ground truth
    the decode stage must reproduce."""
    names = ("payload", "source_md5", *counts)

    def row(i: int) -> dict:
        payload, source, *extra = make(i)
        return dict(zip(names, (payload, _md5(source), *extra)))

    schema = "doc_id bigint, payload binary, source_md5 string" + "".join(
        f", {c} bigint" for c in counts
    )
    return _map_rows(df.select(id_col), schema, int, row, key=id_col, id_col=id_col)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Demo payload builder: utf-8 bytes of the text as the binary column,
    plus a typed metadata struct. In a real pipeline the payload comes from
    the source (image bytes etc.); everything downstream only sees
    (payload: binary, meta: struct)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.length(payload).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def decode_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads.

    ``fake=False`` decodes FOR REAL: PNG payloads go through the
    pure-stdlib codec (:mod:`sparkgraft.ext.png` — zlib inflate, CRC
    checks, all five filter reconstructions) and ``width``/``height`` are
    the true IHDR dimensions; a payload without the PNG signature is an
    unsupported INPUT (JPEG etc. genuinely need PIL/ffmpeg) and raises
    ``ValueError`` naming its magic bytes — fail loud, never a silently
    wrong feature row.

    ``fake=True`` keeps the deterministic stand-in decoder (byte-derived
    pseudo-dimensions) for fixtures whose payloads are arbitrary bytes,
    so every downstream stage stays exercisable on any corpus.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        int32 = _NULLABLE["int"]
        for pdf in batches:
            payloads = pdf["payload"]
            # nullable Int32 end to end: a NULL payload (absent media)
            # decodes to NULL features — len(None) would throw mid-job,
            # and the oracle's byte arithmetic over NULL text is NULL
            n_bytes = payloads.map(
                lambda b: None if b is None else len(b)
            ).astype(int32)
            head = payloads.map(
                lambda b: None if b is None else (b[0] if len(b) else 0)
            ).astype(int32)
            if fake:
                width = (n_bytes % 640).astype(int32)
                height = (
                    head.astype(_NULLABLE["bigint"]) * 3 % 480
                ).astype(int32)
            else:
                dims = []
                for b in payloads:
                    if b is None:
                        dims.append((None, None))
                        continue
                    if bytes(b[:8]) != _png.SIGNATURE:
                        raise ValueError(
                            f"decode_features: unsupported codec (magic "
                            f"{bytes(b[:4])!r}); only PNG decodes with the "
                            f"stdlib codec — other formats need PIL/ffmpeg, "
                            f"or pass fake=True for the stub"
                        )
                    d = _png.decode(bytes(b))
                    dims.append((d["width"], d["height"]))
                width = pd.Series(
                    [w for w, _ in dims], index=pdf.index, dtype=int32
                )
                height = pd.Series(
                    [h for _, h in dims], index=pdf.index, dtype=int32
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "head_byte": head,
                    "width": width,
                    "height": height,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_decode, DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, n_bytes int, frame_md5 string"
RESIZE_SCHEMA = "doc_id bigint, width int, height int, out_width int, out_height int"


def frame_sample(
    df: DataFrame,
    every_n: int = 4,
    frame_bytes: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Frame sampling over binary payloads: keep every ``every_n``-th
    fixed-size byte window as a "frame" (the fake stand-in for a video
    keyframe extractor; ``fake=False`` raises where ffmpeg would run —
    for ANIMATED GIF payloads real frame extraction exists without
    ffmpeg, see :func:`extract_gif_frames`).

    Arrow-batched ``mapInPandas``; emits (doc_id, frame_idx, n_bytes,
    frame_md5) — 1:N row fan-out, the shape a real frame extractor has.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real frame extraction for video containers requires "
                    "ffmpeg (not in this container); animated GIF decodes "
                    "for real via extract_gif_frames; pass fake=True for "
                    "the byte-window stub"
                )
            out = {"doc_id": [], "frame_idx": [], "n_bytes": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # absent media has no frames (oracle: unnest
                    # of a NULL series emits zero rows for NULL text)
                n_windows = (len(payload) + frame_bytes - 1) // frame_bytes
                for w in range(0, n_windows, every_n):
                    frame = payload[w * frame_bytes : (w + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(w)
                    out["n_bytes"].append(len(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(_frames, FRAME_SCHEMA)


def resize_stub(
    df: DataFrame, target_width: int = 224, fake: bool = False
) -> DataFrame:
    """Aspect-preserving resize planner: from (fake) decoded dimensions,
    compute output dims for a target width. This stage sees only
    DIMENSIONS (no pixel data in its input relation), so ``fake=False``
    raises by construction — for real pixel resampling over decoded PNG
    payloads use :func:`resize_png_features`, which needs no external
    library. The fake path computes the real geometry arithmetic on the
    stub dimensions."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        int32 = _NULLABLE["int"]
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "resize_stub's input carries dimensions only, not "
                    "pixels — use resize_png_features for real "
                    "resampling, or pass fake=True for the geometry-only "
                    "planner"
                )
            # nullable Int32 end to end: decode_features emits NULL dims
            # for absent media (NULL payloads), which arrive here as NaN —
            # astype('int32') would raise on the first such row, killing
            # the decode->resize chain one operator after the decode fix.
            # NULL dims plan a NULL resize (out_width included: no media,
            # no plan), and <NA> propagates through the geometry math.
            w = pdf["width"].astype(int32).clip(lower=1)
            h = pdf["height"].astype(int32).clip(lower=1)
            out_h = (
                (h.astype("Float64") * target_width / w).round().astype(int32)
            ).clip(lower=1)
            out_w = pd.Series(target_width, index=pdf.index, dtype=int32).where(
                w.notna()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "out_width": out_w,
                    "out_height": out_h,
                }
            )

    return df.mapInPandas(_resize, RESIZE_SCHEMA)


#: decoded-PNG feature schema (decode_png_features)
PNG_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, bit_depth int, color_type int, "
    "n_pixels bigint, pixel_sum bigint, pixel_md5 string"
)


def synth_png_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL PNG payloads from ids — the fixture generator
    for the real-decode lane.  Per row: ``width = 4 + id % 13``,
    ``height = 3 + id % 7``, grayscale pixel ``i = (id * 31 + i) % 256``,
    and the row filters cycle all five types ``(id + y) % 5`` so a decode
    exercises every reconstruction path.  Emits (id, payload,
    source_md5) where source_md5 digests the RAW pixels — the decode
    stage must reproduce it bit-for-bit through deflate + filters.

    The generation rule is pure integer arithmetic on the id, so a SQL
    oracle can predict the DECODED width/height/pixel_sum without being
    able to parse PNG at all — the codec sits inside a relation both
    engines can state."""

    def make(i: int) -> tuple:
        w, h = 4 + i % 13, 3 + i % 7
        px = bytes((i * 31 + j) % 256 for j in range(w * h))
        filters = [(i + y) % 5 for y in range(h)]
        return _png.encode(w, h, px, filters=filters), px

    return _synth_payloads(df, id_col, make)


#: paletted-fixture arithmetic shared by the synth generators and stated
#: verbatim in the lane oracles: per doc_id, bit depth cycles 1/2/4/8,
#: palette size is the depth's index space (200 entries at depth 8 so a
#: partial palette is exercised), palette entry k = ((id*7+3k)%256,
#: (id*11+5k)%256, (id*13+7k)%256), pixel i's index = (id*31+i) % n_colors.
_PAL_DEPTHS = (1, 2, 4, 8)
_PAL_COLORS = {1: 2, 2: 4, 4: 16, 8: 200}


def _synth_palette(i: int, n_colors: int) -> bytes:
    return bytes(
        v
        for k in range(n_colors)
        for v in (
            (i * 7 + k * 3) % 256,
            (i * 11 + k * 5) % 256,
            (i * 13 + k * 7) % 256,
        )
    )


def synth_png_palette_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL paletted PNGs from ids — the fixture generator
    for the palette-decode lane (round 13: the PLTE/color-type-3 boundary
    closed).  Per row: ``width = 4 + id % 13``, ``height = 3 + id % 7``,
    bit depth cycling 1/2/4/8 by ``id % 4`` (sub-byte scanline packing for
    three of the four), the shared palette/index arithmetic above, and row
    filters cycling all five types ``(id + y) % 5``.  ``source_md5``
    digests the palette-EXPANDED RGB — exactly what decode must emit —
    so the decode stage proves index unpacking AND palette application
    bit-for-bit.  Pure integer arithmetic on the id throughout, so a SQL
    oracle states the decoded pixel_sum without parsing PNG."""

    def make(i: int) -> tuple:
        w, h = 4 + i % 13, 3 + i % 7
        depth = _PAL_DEPTHS[i % 4]
        nc = _PAL_COLORS[depth]
        pal = _synth_palette(i, nc)
        idx = bytes((i * 31 + j) % nc for j in range(w * h))
        payload = _png.encode(
            w,
            h,
            idx,
            color_type=3,
            bit_depth=depth,
            palette=pal,
            filters=[(i + y) % 5 for y in range(h)],
        )
        return payload, b"".join(pal[v * 3 : v * 3 + 3] for v in idx)

    return _synth_payloads(df, id_col, make)


def synth_png_adam7_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL Adam7-interlaced PNGs from ids — the fixture
    generator for the interlace-decode lane (round 13).  Per row: color
    type cycles gray8 / RGB8 / palette-4bit / RGBA8 by ``id % 4``,
    ``width = 3 + id % 14`` and ``height = 2 + id % 11`` straddle the 8x8
    pass tile (small sizes leave EMPTY passes), sample ``i = (id*31+i) %
    256`` (palette rows use index ``(id*31+i) % 16`` with the shared
    palette arithmetic), and the filters cycle all five types across the
    full per-pass scanline sequence ``(id + k) % 5``.  ``source_md5``
    digests the de-interlaced (palette-expanded) samples, so decode
    proves the whole pass-scatter grid bit-for-bit."""

    def make(i: int) -> tuple:
        w, h = 3 + i % 14, 2 + i % 11
        ct = (0, 2, 3, 6)[i % 4]
        nl = _png.scanline_count(w, h, 1)
        filters = [(i + k) % 5 for k in range(nl)]
        if ct == 3:
            pal = _synth_palette(i, 16)
            idx = bytes((i * 31 + j) % 16 for j in range(w * h))
            payload = _png.encode(
                w, h, idx, color_type=3, bit_depth=4,
                palette=pal, filters=filters, interlace=1,
            )
            return payload, b"".join(pal[v * 3 : v * 3 + 3] for v in idx)
        ch = {0: 1, 2: 3, 6: 4}[ct]
        source = bytes((i * 31 + j) % 256 for j in range(w * h * ch))
        payload = _png.encode(
            w, h, source, color_type=ct, filters=filters, interlace=1,
        )
        return payload, source

    return _synth_payloads(df, id_col, make)


def decode_png_features(
    df: DataFrame, id_col: str = "doc_id", include_interlace: bool = False
) -> DataFrame:
    """Real PNG decode + feature extraction (ext/png: pure-stdlib zlib +
    struct, CRC-checked, full filter reconstruction, Adam7 + palette
    since round 13) behind the standard Arrow-batched ``mapInPandas``
    boundary.  Emits per-image features a training pipeline filters on:
    true dimensions, sample count, exact pixel sum, and a pixel digest
    (dedup key for decoded content — catches re-encoded duplicates
    byte-level dedup misses).  For paletted images the sum/digest cover
    the palette-EXPANDED RGB — the form downstream stages consume.

    ``include_interlace=True`` appends the IHDR interlace method as a
    column (the Adam7 lane's physical certificate that its payloads
    really are interlaced); default off so the long-proven
    ``multimodal_decode_png`` output schema is unchanged.

    NULL payloads (absent media) emit NULL features, same convention as
    ``decode_features``.  Extra input columns are passed through, so a
    generator stage can ship ground truth (``source_md5``) alongside."""

    def row(d: dict) -> dict:
        px = d["pixels"]
        return {
            **d,
            "n_pixels": d["width"] * d["height"],
            "pixel_sum": sum(px),
            "pixel_md5": _md5(px),
        }

    schema = PNG_FEATURES_SCHEMA
    if include_interlace:
        schema += ", interlace int"
    return _map_rows(df, schema, _png.decode, row, id_col=id_col)


#: decode-and-resample feature schema (resize_png_features)
RESIZE_PNG_SCHEMA = (
    "doc_id bigint, width int, height int, out_width int, out_height int, "
    "out_pixels bigint, out_pixel_sum bigint, pixel_md5 string, "
    "out_md5 string"
)


def nearest_resample(
    pixels: bytes, width: int, height: int, out_width: int, out_height: int
) -> bytes:
    """Nearest-neighbor resample of a row-major 8-bit grayscale matrix,
    floor mapping: output (x, y) reads source
    ``((y * height) // out_height, (x * width) // out_width)``.

    The floor rule (rather than PIL's center-of-pixel sampling) is chosen
    because it is exact INTEGER arithmetic — an SQL oracle can state the
    resampled pixel values without parsing PNG or resampling anything,
    the same predict-through-the-codec trick the decode lanes use.

    Vectorized as a numpy double-gather (two index vectors + ``np.ix_``),
    no per-pixel Python loop; cost is O(out pixels) per image."""
    if width <= 0 or height <= 0 or out_width <= 0 or out_height <= 0:
        raise ValueError(
            f"nearest_resample: extents must be positive, got "
            f"{width}x{height} -> {out_width}x{out_height}"
        )
    if len(pixels) != width * height:
        raise ValueError(
            f"nearest_resample: pixel buffer is {len(pixels)} bytes, "
            f"expected {width * height} ({width}x{height} grayscale)"
        )
    mat = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ys = (np.arange(out_height) * height) // out_height
    xs = (np.arange(out_width) * width) // out_width
    return mat[np.ix_(ys, xs)].tobytes()


def resize_png_features(
    df: DataFrame, target_width: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """REAL decode + REAL resample in one Arrow-batched ``mapInPandas``
    stage — the canonical vision-pipeline preprocessing step (decode an
    image, resize it to the model's input width) with no external imaging
    library: the pure-stdlib PNG codec yields true pixels and
    :func:`nearest_resample` gathers them to the target geometry.

    Aspect-preserving integer geometry: ``out_width = target_width``,
    ``out_height = max(1, (height * target_width) // width)`` — floor
    division so the SQL oracle states it exactly.  Emits the decoded
    dims, output dims, exact resampled pixel sum, and digests of both
    the decoded and the resampled matrices (``pixel_md5`` certifies the
    codec roundtrip against a generator-shipped source digest;
    ``out_md5`` is the dedup key for resized content).  NULL payloads
    (absent media) emit NULL features; extra input columns pass through,
    same conventions as :func:`decode_png_features`.

    Scale posture: per-row-bounded map work over Arrow batches — no
    shuffle, no driver traffic; output size is images x out-pixels
    regardless of source resolution, so a mixed-resolution 100 TB corpus
    normalizes without a skewed stage."""

    def row(d: dict) -> dict:
        w, h, px = d["width"], d["height"], d["pixels"]
        oh = max(1, (h * target_width) // w)
        out = nearest_resample(px, w, h, target_width, oh)
        return {
            "width": w,
            "height": h,
            "out_width": target_width,
            "out_height": oh,
            "out_pixels": target_width * oh,
            "out_pixel_sum": sum(out),
            "pixel_md5": _md5(px),
            "out_md5": _md5(out),
        }

    return _map_rows(df, RESIZE_PNG_SCHEMA, _png.decode, row, id_col=id_col)


#: decoded-WAV feature schema (decode_wav_features)
WAV_FEATURES_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, bit_depth int, "
    "n_frames bigint, n_samples bigint, sample_sum bigint, abs_peak int, "
    "duration_ms int, pcm_md5 string"
)


def synth_wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL WAV payloads from ids — the fixture generator for
    the real audio-decode lane (the PNG generator's audio twin).  Per row:
    ``n_channels = 1 + (id // 2) % 2``, ``sample_rate = 8000 * (1 + id %
    3)``, ``bit_depth = 8 + 8 * (id % 2)``, ``n_frames = 16 + id % 33``,
    and interleaved sample ``j`` is ``(id * 37 + j * 101) % 2^depth``
    (sign-folded for 16-bit), so half the corpus is unsigned 8-bit and
    half signed 16-bit, mono and stereo both present.  Every payload also
    carries a LIST chunk (odd-size bodies included) between fmt and data,
    so the decoder's skip-unknown-chunk + word-alignment path runs on
    every row.  Emits (id, payload, source_md5) where source_md5 digests
    the raw PCM bytes — the decoder must reproduce them exactly.

    As with the PNG twin, the generation rule is pure integer arithmetic
    on the id, so a SQL oracle predicts the DECODED sample sum / peak /
    duration without being able to parse RIFF at all."""

    def make(i: int) -> tuple:
        ch = 1 + (i // 2) % 2
        sr = 8000 * (1 + i % 3)
        bd = 8 + 8 * (i % 2)
        nf = 16 + i % 33
        samples = []
        for j in range(nf * ch):
            raw = (i * 37 + j * 101) % (1 << bd)
            if bd == 16 and raw >= 32768:
                raw -= 65536
            samples.append(raw)
        payload = _wav.encode(
            samples,
            ch,
            sr,
            bd,
            extra_chunk=(b"LIST", b"INFO" + b"x" * (1 + i % 4)),
        )
        return payload, _wav.pack_samples(samples, bd)

    return _synth_payloads(df, id_col, make)


def decode_wav_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real WAV decode + feature extraction (ext/wav: pure-stdlib struct,
    RIFF chunk walking, strict PCM validation) behind the standard
    Arrow-batched ``mapInPandas`` boundary.  Emits per-clip features an
    audio-training pipeline filters on: true sample rate / channel count /
    depth, frame and sample counts, exact integer sample sum and absolute
    peak, integer duration_ms, and a PCM digest (dedup key for decoded
    audio — catches container-level re-wraps byte dedup misses).

    NULL payloads (absent media) emit NULL features, same convention as
    ``decode_features``/``decode_png_features``.  Extra input columns pass
    through so a generator stage can ship ground truth (``source_md5``)
    alongside."""

    def row(d: dict) -> dict:
        s = d["samples"]
        return {
            **d,
            "n_samples": len(s),
            "sample_sum": sum(s),
            "abs_peak": max((abs(v) for v in s), default=0),
            "duration_ms": d["n_frames"] * 1000 // d["sample_rate"],
            "pcm_md5": _md5(d["data"]),
        }

    return _map_rows(df, WAV_FEATURES_SCHEMA, _wav.decode, row, id_col=id_col)


#: extracted-GIF-frame schema (extract_gif_frames) — 1:N fan-out, one row
#: per decoded frame
GIF_FRAMES_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, n_frames int, "
    "pixel_sum bigint, frame_md5 string, anim_md5 string"
)


def synth_gif_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL animated-GIF payloads from ids — the fixture
    generator for the real frame-extraction lane.  Per row:
    ``width = 3 + id % 5``, ``height = 2 + id % 3``,
    ``n_frames = 2 + id % 4``, frame ``f`` pixel
    ``i = (id * 31 + f * 17 + i) % 256`` — pure integer arithmetic, so a
    SQL oracle can predict the DECODED per-frame pixel sums without
    parsing GIF or LZW at all (the decode-lane trick, now across a 1:N
    frame fan-out).  Emits (id, payload, source_md5) where source_md5
    digests ALL raw frames concatenated — the extraction stage must
    reproduce it bit-for-bit through LZW + sub-block framing."""

    def make(i: int) -> tuple:
        w, h, nf = 3 + i % 5, 2 + i % 3, 2 + i % 4
        frames = [
            bytes((i * 31 + f * 17 + j) % 256 for j in range(w * h))
            for f in range(nf)
        ]
        return _gif.encode(w, h, frames), b"".join(frames)

    return _synth_payloads(df, id_col, make)


def extract_gif_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL multi-frame extraction over animated-GIF payloads — the 1:N
    fan-out ``frame_sample`` only imitated with byte windows, now backed
    by a true codec (:mod:`sparkgraft.ext.gif`: LZW dictionary
    reconstruction, sub-block reassembly, strict container walking).

    One output row per decoded frame: geometry, per-frame exact pixel sum
    and digest (the dedup key for frame-level near-dup mining), plus
    ``anim_md5`` — the digest of all frames concatenated, constant per
    doc, so a generator-shipped ground-truth digest certifies the whole
    animation roundtrip on every row without a regrouping shuffle.

    NULL payloads (absent media) emit ZERO rows, matching
    ``frame_sample``'s convention (no media, no frames).  Extra input
    columns are replicated onto each frame row.  Scale posture:
    per-row-bounded map work over Arrow batches — no shuffle, no driver
    traffic; the fan-out factor is the frame count, bounded by the
    container."""

    def row(d: dict) -> list[dict]:
        anim = _md5(b"".join(d["frames"]))
        return [
            {
                **d,
                "frame_idx": f,
                "pixel_sum": sum(px),
                "frame_md5": _md5(px),
                "anim_md5": anim,
            }
            for f, px in enumerate(d["frames"])
        ]

    return _map_rows(
        df, GIF_FRAMES_SCHEMA, _gif.decode, row, id_col=id_col, fan_out=True
    )


def payload_digests(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-payload byte length + content digest — binary-column ops that
    stay fully JVM-side (no decode needed)."""
    with_payload = attach_payload(df, text_col, id_col)
    return with_payload.select(
        F.col(id_col),
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


# ---------------------------------------------------------------------------
# Pointer-struct payloads: the 100 TB posture for multimodal columns.
# Parquet holds (path, offset, length) pointers into large blob files /
# object storage, so the table stays scan-friendly (column pruning, predicate
# pushdown, tiny row groups) and bytes are fetched lazily, only by the stages
# that need them.
# ---------------------------------------------------------------------------

#: the pointer column convention: struct<path:string, offset:bigint, length:int>
POINTER_FIELD = "ptr"
FETCH_SCHEMA = "doc_id bigint, n_bytes bigint, payload_md5 string"


def build_pointer_fixture(spark, df: DataFrame, blob_path: str,
                          text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """FIXTURE/DEMO TOOLING, not a data-path operator: write one local blob
    file of concatenated utf-8 payloads and return the pointer table for it.

    In production the blobs already live in object storage and pointers
    arrive WITH the data (written by the ingest job); a Spark job never
    builds them by collecting a corpus to the driver — this helper exists
    so the ranged-read fetch operator has something real to read in tests
    and in the registered demo query, at fixture scale (hundreds of docs).
    """
    import os

    rows = df.select(id_col, text_col).orderBy(id_col).collect()
    ptrs, off = [], 0
    os.makedirs(os.path.dirname(blob_path), exist_ok=True)
    with open(blob_path, "wb") as f:
        for r in rows:
            if r[1] is None:
                # NULL content has NO payload: a NULL pointer, not a
                # zero-length range ('' is a real, fetchable empty payload;
                # NULL is absence — the fetch emits NULL stats for it,
                # matching octet_length(encode(NULL)) = NULL)
                ptrs.append((r[0], None))
                continue
            payload = r[1].encode("utf-8")
            f.write(payload)
            ptrs.append((r[0], (blob_path, off, len(payload))))
            off += len(payload)
    return spark.createDataFrame(
        ptrs,
        f"doc_id bigint, {POINTER_FIELD} struct<path:string, offset:bigint, length:int>",
    )


def fetch_payload_ranges(df: DataFrame, pointer_col: str = POINTER_FIELD) -> DataFrame:
    """Ranged-read fetch over pointer structs — the lazy-bytes data path.

    Arrow-batched ``mapInPandas``: per batch, group pointers by file and
    read them in offset order (sequential-friendly seeks; against object
    storage this becomes ranged GETs, ideally coalesced per file). Emits
    (doc_id, n_bytes, payload_md5) so correctness is checkable without
    shipping the bytes anywhere — swap the digest for the decode stage in
    a real pipeline. Partitioning discipline: repartition the pointer
    table by path upstream if many tasks would touch the same blobs."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy()
            ptrs = list(pdf[pointer_col])
            # NULL pointers (absent media) fetch nothing and emit NULL
            # stats; they are excluded from the seek ordering entirely.
            # Arrow->pandas renders a NULL struct as either None or a
            # dict of NaNs depending on the batch — treat both as absent
            def _absent(p) -> bool:
                return p is None or p.get("path") is None

            order = sorted(
                (i for i in range(len(ptrs)) if not _absent(ptrs[i])),
                key=lambda i: (ptrs[i]["path"], ptrs[i]["offset"]),
            )
            n_bytes: list[int | None] = [None] * len(ptrs)
            digests: list[str | None] = [None] * len(ptrs)
            open_path, handle = None, None
            try:
                for i in order:
                    p = ptrs[i]
                    if p["path"] != open_path:
                        if handle is not None:
                            handle.close()
                        open_path = p["path"]
                        handle = open(open_path, "rb")
                    # int(): when a batch contains any NULL struct, Arrow
                    # hands back float64 offset/length for EVERY row, and
                    # file.seek/read reject floats
                    handle.seek(int(p["offset"]))
                    payload = handle.read(int(p["length"]))
                    if len(payload) != int(p["length"]):
                        raise IOError(
                            f"short read at {open_path}:{p['offset']}: "
                            f"wanted {p['length']}, got {len(payload)}"
                        )
                    n_bytes[i] = len(payload)
                    digests[i] = hashlib.md5(payload).hexdigest()
            finally:
                if handle is not None:
                    handle.close()
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": n_bytes, "payload_md5": digests}
            )

    return df.select("doc_id", pointer_col).mapInPandas(_fetch, FETCH_SCHEMA)


#: spectral-feature schema (spectral_features) — integer-exact features
#: plus the FFT-derived dominant bin
SPECTRAL_SCHEMA = (
    "doc_id bigint, sample_rate int, n_frames bigint, n_fft_bins int, "
    "dominant_bin int, dominant_hz int, energy bigint, sample_sum bigint, "
    "abs_peak int, pcm_md5 string"
)


def synth_tone_wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL tone payloads from ids — the fixture generator
    for the spectral-analysis lane.  Per row: a mono 16-bit 8 kHz clip of
    64 frames carrying a square wave at FFT bin ``k = 1 + id % 31`` with
    amplitude ``A = 10000 + (id % 7) * 1000``: sample ``j`` is ``+A`` when
    ``((2*k*j) // 64) % 2 == 0`` else ``-A``.  A square wave's spectrum is
    its fundamental plus odd harmonics at <= 1/3 the magnitude, so bin k
    strictly dominates the positive-frequency spectrum for every k in
    1..31 (verified exhaustively over all (k, A) classes) — which makes
    the FFT's argmax SQL-stateable even though SQL cannot run an FFT.

    Emits (id, payload, source_md5) where source_md5 digests the raw PCM
    bytes, same contract as :func:`synth_wav_payloads`."""

    def make(i: int) -> tuple:
        k = 1 + i % 31
        amp = 10000 + (i % 7) * 1000
        samples = [
            amp if ((2 * k * j) // 64) % 2 == 0 else -amp for j in range(64)
        ]
        payload = _wav.encode(
            samples,
            1,
            8000,
            16,
            extra_chunk=(b"LIST", b"INFOfft" + b"x" * (i % 2)),
        )
        return payload, _wav.pack_samples(samples, 16)

    return _synth_payloads(df, id_col, make)


def spectral_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real spectral analysis over real-decoded audio: WAV decode
    (ext/wav) feeding ``numpy.fft.rfft``, in ONE Arrow-batched
    ``mapInPandas`` stage — the feature-extraction step an audio-training
    pipeline runs after decode (dominant frequency for content bucketing,
    energy/peak for silence and clipping filters).

    Emits integer-exact features only: ``dominant_bin`` (argmax of the
    positive-frequency magnitude spectrum, DC excluded), ``dominant_hz``
    (exact when sample_rate is a multiple of n_frames), exact integer
    ``energy`` (sum of squared samples — checked against Parseval on the
    FFT side in tests, reported from the sample domain so it stays
    integer), ``sample_sum``, ``abs_peak``, and the PCM digest.  The
    float spectrum itself never crosses the engine boundary, so the lane
    stays bit-reproducible.

    Declared domain: MONO clips (one channel = one spectrum).  Multi-
    channel input aborts loudly rather than silently averaging channels.

    NULL payloads emit NULL features; extra input columns pass through
    (ground-truth digests).  Scale posture: per-row-bounded map work
    (64-point FFTs), no shuffle, no driver traffic."""

    def row(d: dict) -> dict:
        if d["n_channels"] != 1:
            raise ValueError(
                "spectral_features: declared domain is MONO audio; "
                f"got {d['n_channels']} channels"
            )
        mag = np.abs(np.fft.rfft(np.asarray(d["samples"], dtype=np.float64)))
        dom = 1 + int(np.argmax(mag[1:])) if len(mag) > 1 else 0
        si = np.asarray(d["samples"], dtype=np.int64)
        return {
            **d,
            "n_fft_bins": len(mag),
            "dominant_bin": dom,
            "dominant_hz": dom * d["sample_rate"] // d["n_frames"],
            "energy": int((si * si).sum()),
            "sample_sum": int(si.sum()),
            "abs_peak": int(np.abs(si).max()) if len(si) else 0,
            "pcm_md5": _md5(d["data"]),
        }

    return _map_rows(df, SPECTRAL_SCHEMA, _wav.decode, row, id_col=id_col)


#: decoded-JPEG feature schema (decode_jpeg_features)
JPEG_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "pixel_sum bigint, pixel_md5 string"
)


def _fill_block(
    planes: list[bytearray], w: int, bx: int, by: int, values: tuple[int, ...]
) -> None:
    """Set 8x8 block (bx, by) of each row-major plane (width ``w``) to its
    constant value — the lossless class of the JPEG fixtures."""
    for plane, v in zip(planes, values):
        for y in range(by * 8, by * 8 + 8):
            x0 = y * w + bx * 8
            plane[x0 : x0 + 8] = bytes((v,)) * 8


def _jpeg_gray_fixture(i: int) -> tuple[int, int, bytes]:
    """``(width, height, pixels)`` of the grayscale fixture image shared by
    :func:`synth_jpeg_payloads` and :func:`synth_jpeg_prog_payloads`."""
    wb, hb = 1 + i % 3, 1 + i % 2
    w, h = 8 * wb, 8 * hb
    px = bytearray(w * h)
    for by in range(hb):
        for bx in range(wb):
            v = 64 + 2 * ((i * 7 + bx * 3 + by * 5) % 64)
            _fill_block([px], w, bx, by, (v,))
    return w, h, bytes(px)


def _count_rst(payload: bytes) -> int:
    """RSTn marker pairs in a JPEG stream (0xFF 0xD0-0xD7 cannot occur in
    stuffed entropy data, so the count is exact)."""
    return sum(payload.count(bytes((0xFF, 0xD0 + n))) for n in range(8))


def synth_jpeg_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL baseline-JPEG payloads from ids — the fixture
    generator for the DCT decode lane.  Per row: a grayscale image of
    ``8*(1 + id % 3) x 8*(1 + id % 2)`` whose 8x8 block (bx, by) is the
    CONSTANT even value ``64 + 2 * ((id*7 + bx*3 + by*5) % 64)`` —
    exactly the class the flat q=16 table quantizes losslessly (ext/jpeg
    module docstring), so the encode -> Huffman -> IDCT roundtrip is
    bit-exact and the decoded pixel sum is pure id arithmetic.  Blocks
    DIFFER within an image, so the differential-DC predictor path is
    genuinely exercised on every multi-block row.

    Emits (id, payload, source_md5) with source_md5 digesting the
    pre-encode pixel bytes — the decoder must reproduce them exactly."""

    def make(i: int) -> tuple:
        w, h, px = _jpeg_gray_fixture(i)
        return _jpeg.encode_gray(w, h, px), px

    return _synth_payloads(df, id_col, make)


#: the three deterministic progressive scan scripts the prog fixture
#: cycles through (id % 3): the full spectral+successive default, the
#: minimal spectral-only pair, and a 7-scan two-bit-DC approximation
#: chain — together they cover every progressive decode path
_PROG_SCRIPTS = (
    None,  # resolved to jpeg.PROGRESSIVE_SCRIPT at use (6 scans)
    ((0, 0, 0, 0), (1, 63, 0, 0)),  # 2 scans
    (
        (0, 0, 0, 2), (0, 0, 2, 1), (0, 0, 1, 0),
        (1, 5, 0, 1), (6, 63, 0, 1), (1, 5, 1, 0), (6, 63, 1, 0),
    ),  # 7 scans
)
PROG_SCRIPT_SCANS = (6, 2, 7)


def synth_jpeg_prog_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PROGRESSIVE (SOF2) JPEG payloads from ids — the
    same image class and geometry as :func:`synth_jpeg_payloads`
    (``8*(1 + id % 3) x 8*(1 + id % 2)``, constant EVEN blocks, lossless
    under flat q=16, so decoded pixel sums stay pure id arithmetic), but
    streamed progressively: scan script cycles by ``id % 3``
    (full spectral+successive default / spectral-only / 7-scan two-bit
    DC chain) and ``restart_interval = id % 2`` puts restart markers
    inside every scan of every other image.

    Emits (id, payload, source_md5, n_scans, n_rst): ``n_scans`` counts
    the SOS markers physically present (certifying the multi-scan
    structure was emitted, not silently folded to baseline — 0xFFDA
    cannot occur unstuffed in entropy data), ``n_rst`` the RSTn pairs
    (closed form: scans * floor((blocks-1)/interval))."""

    def make(i: int) -> tuple:
        w, h, px = _jpeg_gray_fixture(i)
        payload = _jpeg.encode_gray_progressive(
            w, h, px,
            scan_script=_PROG_SCRIPTS[i % 3] or _jpeg.PROGRESSIVE_SCRIPT,
            restart_interval=i % 2,
        )
        return payload, px, payload.count(b"\xff\xda"), _count_rst(payload)

    return _synth_payloads(df, id_col, make, counts=("n_scans", "n_rst"))


def decode_jpeg_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real baseline-JPEG decode + feature extraction (ext/jpeg: marker
    parse, canonical Huffman, differential DC, dequantize, true 8x8 IDCT)
    behind the standard Arrow-batched ``mapInPandas`` boundary — the DCT
    sibling of ``decode_png_features``.  NULL payloads emit NULL
    features; extra input columns pass through."""

    def row(d: dict) -> dict:
        px = d["pixels"]
        return {
            **d,
            "n_pixels": len(px),
            "pixel_sum": sum(px),
            "pixel_md5": _md5(px),
        }

    return _map_rows(df, JPEG_FEATURES_SCHEMA, _jpeg.decode, row, id_col=id_col)


#: decoded-color-JPEG feature schema (decode_jpeg_color_features)
JPEG_COLOR_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "y_sum bigint, cb_sum bigint, cr_sum bigint, "
    "r_sum bigint, g_sum bigint, b_sum bigint, pixel_md5 string"
)


def synth_jpeg_color_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL baseline YCbCr 4:4:4 JPEG payloads from ids —
    the color sibling of :func:`synth_jpeg_payloads`.  Per row: an
    ``8*(1 + id % 3) x 8*(1 + id % 2)`` image whose 8x8 block (bx, by)
    holds the CONSTANT EVEN plane values::

        y  =  64 + 2 * ((id*7  + bx*3 + by*5)  % 64)
        cb =  96 + 2 * ((id*11 + bx*5 + by*7)  % 32)
        cr =  96 + 2 * ((id*13 + bx*7 + by*11) % 32)

    — the class the flat q=16 table quantizes losslessly in EVERY plane,
    so the three decoded planes are bit-exact and the derived RGB is the
    fixed-point inverse transform of pure id arithmetic (SQL-stateable;
    ext/jpeg module docstring).  Emits (id, payload, source_md5) with
    source_md5 digesting the concatenated y||cb||cr source planes."""

    def make(i: int) -> tuple:
        wb, hb = 1 + i % 3, 1 + i % 2
        w, h = 8 * wb, 8 * hb
        planes = [bytearray(w * h) for _ in range(3)]
        for by in range(hb):
            for bx in range(wb):
                _fill_block(planes, w, bx, by, (
                    64 + 2 * ((i * 7 + bx * 3 + by * 5) % 64),
                    96 + 2 * ((i * 11 + bx * 5 + by * 7) % 32),
                    96 + 2 * ((i * 13 + bx * 7 + by * 11) % 32),
                ))
        yp, cbp, crp = map(bytes, planes)
        return _jpeg.encode_ycbcr(w, h, yp, cbp, crp), yp + cbp + crp

    return _synth_payloads(df, id_col, make)


def _ycbcr_420_fixture(i: int, mw: int, mh: int) -> tuple[int, int, list[bytes]]:
    """The 4:2:0 fixture planes (y, cb, cr) of ``mw x mh`` 16x16 MCUs:
    luma constant per 8x8 block (gx, gy), chroma per MCU (mx, my) — see
    :func:`synth_jpeg_rst_payloads`; the one-MCU-row 420 fixture is its
    ``my = 0`` case."""
    w, h = 16 * mw, 16 * mh
    planes = [bytearray(w * h) for _ in range(3)]
    for my in range(mh):
        for mx in range(mw):
            cbv = 96 + 2 * ((i * 11 + mx * 5 + my * 7) % 32)
            crv = 96 + 2 * ((i * 13 + mx * 7 + my * 3) % 32)
            for gy in (2 * my, 2 * my + 1):
                for gx in (2 * mx, 2 * mx + 1):
                    yv = 64 + 2 * ((i * 7 + gx * 3 + gy * 5) % 64)
                    _fill_block(planes, w, gx, gy, (yv, cbv, crv))
    return w, h, [bytes(p) for p in planes]


def synth_jpeg_420_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL baseline YCbCr 4:2:0 JPEG payloads from ids —
    the subsampled sibling of :func:`synth_jpeg_color_payloads`.  Per
    row: a ``16*(1 + id % 2) x 16`` image (one MCU row, 1-2 MCU
    columns); luma is CONSTANT EVEN per 8x8 block and chroma CONSTANT
    EVEN per 16x16 MCU::

        y  (block gx=mx*2+bx, by) = 64 + 2 * ((id*7  + gx*3 + by*5) % 64)
        cb (MCU mx)               = 96 + 2 * ((id*11 + mx*5) % 32)
        cr (MCU mx)               = 96 + 2 * ((id*13 + mx*7) % 32)

    MCU-constant chroma makes the encoder's top-left subsample pick and
    the decoder's replication upsample exact inverses, so the whole
    subsampled pipeline is lossless on this class and the oracle stays
    pure id arithmetic.  Emits (id, payload, source_md5) digesting the
    full-resolution y||cb||cr source planes."""

    def make(i: int) -> tuple:
        w, h, planes = _ycbcr_420_fixture(i, 1 + i % 2, 1)
        return _jpeg.encode_ycbcr_420(w, h, *planes), b"".join(planes)

    return _synth_payloads(df, id_col, make)


def synth_jpeg_rst_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic baseline 4:2:0 JPEGs WITH RESTART INTERVALS — the
    camera-file layout (DRI + RSTn markers): per row a
    ``16*(1 + id % 3) x 32`` image (1-3 MCU columns x 2 MCU rows, so 2-6
    MCUs) encoded with ``restart_interval = 1 + id % 2``; marker counts
    therefore span 0-5 and sequence numbers RST0-RST4, covering the
    every-MCU case, the multi-MCU-interval case, and the
    interval-never-closes (DRI present, zero markers) case.  Plane
    values keep the lossless fixture class::

        y  (block gx, gy)  = 64 + 2 * ((id*7  + gx*3 + gy*5) % 64)
        cb (MCU mx, my)    = 96 + 2 * ((id*11 + mx*5 + my*7) % 32)
        cr (MCU mx, my)    = 96 + 2 * ((id*13 + mx*7 + my*3) % 32)

    Emits (id, payload, source_md5, n_rst) where ``n_rst`` counts the
    RSTn byte pairs actually present in the payload (0xFF followed by
    0xD0-0xD7 cannot occur in stuffed entropy data, so the count is
    exact) — the oracle predicts it as ``floor((mcus - 1) / interval)``,
    certifying the markers were genuinely emitted, not skipped."""

    def make(i: int) -> tuple:
        w, h, planes = _ycbcr_420_fixture(i, 1 + i % 3, 2)
        payload = _jpeg.encode_ycbcr_420(
            w, h, *planes, restart_interval=1 + i % 2
        )
        return payload, b"".join(planes), _count_rst(payload)

    return _synth_payloads(df, id_col, make, counts=("n_rst",))


def decode_jpeg_color_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Color-JPEG decode + feature extraction: per-plane sums, RGB sums
    from the fixed-point inverse transform, and the md5 of the decoded
    y||cb||cr planes — same Arrow-batched ``mapInPandas`` boundary as
    every other media stage.  NULL payloads emit NULL features; extra
    input columns pass through."""

    def row(d: dict) -> dict:
        if d["n_components"] != 3:
            raise ValueError("jpeg: expected a color scan")
        rgb = d["rgb"]
        return {
            **d,
            "n_pixels": d["width"] * d["height"],
            "y_sum": sum(d["y"]),
            "cb_sum": sum(d["cb"]),
            "cr_sum": sum(d["cr"]),
            "r_sum": sum(rgb[0::3]),
            "g_sum": sum(rgb[1::3]),
            "b_sum": sum(rgb[2::3]),
            "pixel_md5": _md5(d["y"] + d["cb"] + d["cr"]),
        }

    return _map_rows(
        df, JPEG_COLOR_FEATURES_SCHEMA, _jpeg.decode, row, id_col=id_col
    )
