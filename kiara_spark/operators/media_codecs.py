"""REAL media decoders for dependency-free public formats — pure-stdlib
``struct`` parsing, no PIL/ffmpeg required.

The reference treats media as opaque files moved through its value system
(`/root/reference/src/kiara/models/filesystem.py` — FileModel/FolderImportConfig
carry bytes + metadata, never pixels); a Spark-native training pipeline
additionally needs the decode step itself.  This module implements it for
formats whose codecs are pure byte arithmetic:

- **BMP** (Windows bitmap, uncompressed 24-bit BI_RGB): 14-byte file header
  + 40-byte BITMAPINFOHEADER, bottom-up rows, BGR byte order, rows padded
  to 4 bytes.  The decoder undoes all three quirks and returns pixels in
  logical top-down row-major RGB order.
- **PPM/PGM** (netpbm P6/P5): ASCII header (magic, width, height, maxval,
  with ``#`` comments) followed by raw samples, already top-down RGB.
- **WAV** (RIFF/WAVE, PCM 16-bit): chunked container; ``fmt `` carries
  rate/channels/bits, ``data`` the interleaved little-endian samples.

Spark integration is ``mapInPandas`` (Arrow-batched, schema-stable,
partition-preserving — same plumbing as the stub family in ``misc.py``,
which stays available as the fallback for formats these decoders don't
cover).  Decode failures yield ``format='unknown'`` rows with NULL
features instead of failing the batch: at 100 TB a corrupt blob must be
an auditable row, not a job abort.

The deterministic synth encoders (``synth_bmp``/``synth_ppm``/
``synth_wav``) exist so fixtures can be generated inside the pipeline and
the decoded aggregates verified by an EXACT DuckDB oracle: pixel n is
``(seed*31 + n) % 256`` and sample n is ``((seed*7 + n*13) % 65536) -
32768``, both reproducible as SQL over ``range()``.  Round-tripping
through the real container formats (padding, BGR, bottom-up, chunk
layout) is precisely what the oracle then proves correct.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# synth encoders (deterministic fixtures)
# ---------------------------------------------------------------------------


def synth_pixels(seed: int, width: int, height: int) -> bytes:
    """Logical image: top-down row-major RGB, P(n) = (seed*31 + n) % 256."""
    n = width * height * 3
    return bytes((seed * 31 + i) % 256 for i in range(n))


def synth_bmp(seed: int, width: int, height: int) -> bytes:
    """Uncompressed 24-bit BI_RGB BMP of the synth_pixels image — written
    bottom-up, BGR, with 4-byte row padding (the real format quirks)."""
    return encode_bmp(synth_pixels(seed, width, height), width, height)


def encode_bmp(px: bytes, width: int, height: int) -> bytes:
    """Write top-down row-major RGB pixels as an uncompressed 24-bit
    BI_RGB BMP (bottom-up, BGR, 4-byte row padding)."""
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):          # bottom-up
        row = px[y * row_bytes:(y + 1) * row_bytes]
        for x in range(width):
            r, g, b = row[x * 3:x * 3 + 3]
            body += bytes((b, g, r))             # BGR on disk
        body += b"\x00" * pad
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def encode_png(px: bytes, width: int, height: int) -> bytes:
    """Write top-down row-major RGB pixels as an 8-bit/channel truecolor
    PNG (one zlib-deflated IDAT, filter 0 per scanline) — stdlib-only,
    the encoder twin of :func:`decode_bmp`'s codec family.  Used by the
    pipeline PNG renderer (reference ``PipelineRendererPng`` shells out
    to graphviz; this container has no raster backend, so the repo
    carries its own encoder)."""
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    row_bytes = width * 3
    raw = bytearray()
    for y in range(height):
        raw += b"\x00" + px[y * row_bytes:(y + 1) * row_bytes]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def synth_ppm(seed: int, width: int, height: int) -> bytes:
    """P6 binary PPM of the synth_pixels image (header + raw RGB)."""
    return encode_ppm(synth_pixels(seed, width, height), width, height)


def encode_ppm(px: bytes, width: int, height: int) -> bytes:
    """Write top-down row-major RGB pixels as a binary P6 PPM."""
    return f"P6\n{width} {height}\n255\n".encode("ascii") + bytes(px)


def synth_samples(seed: int, n_samples: int) -> list[int]:
    """PCM fixture: s(n) = ((seed*7 + n*13) % 65536) - 32768 (full int16)."""
    return [((seed * 7 + n * 13) % 65536) - 32768 for n in range(n_samples)]


def synth_wav(seed: int, sample_rate: int, n_channels: int,
              n_frames: int) -> bytes:
    """RIFF/WAVE PCM-16 container around synth_samples (interleaved)."""
    samples = synth_samples(seed, n_frames * n_channels)
    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = n_channels * 2
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * block_align, block_align, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# decoders
# ---------------------------------------------------------------------------


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bit BMP -> (width, height, pixels in
    logical top-down RGB order).  Raises ValueError on anything else."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("bad BMP dimensions")
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    if pixel_offset + stride * height > len(data):
        raise ValueError("truncated BMP pixel array")
    out = bytearray(width * height * 3)
    for y in range(height):
        src_y = y if top_down else height - 1 - y
        base = pixel_offset + src_y * stride
        dst = y * row_bytes
        for x in range(width):
            b, g, r = data[base + x * 3:base + x * 3 + 3]
            out[dst + x * 3:dst + x * 3 + 3] = bytes((r, g, b))
    return width, height, bytes(out)


def _pnm_header(data: bytes, magic: bytes) -> tuple[int, int, int, int]:
    """Parse a netpbm ASCII header (handles whitespace + # comments);
    returns (width, height, maxval, body_offset)."""
    if not data.startswith(magic):
        raise ValueError("bad netpbm magic")
    pos, fields = len(magic), []
    while len(fields) < 3:
        if pos >= len(data):
            raise ValueError("truncated netpbm header")
        c = data[pos:pos + 1]
        if c == b"#":
            while pos < len(data) and data[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(data) and not data[pos:pos + 1].isspace():
                pos += 1
            fields.append(int(data[start:pos]))
    return fields[0], fields[1], fields[2], pos + 1  # single ws after maxval


def decode_ppm(data: bytes) -> tuple[int, int, bytes]:
    """Parse binary PPM (P6, RGB) or PGM (P5, grayscale expanded to RGB)
    -> (width, height, top-down RGB pixels)."""
    if data[:2] == b"P6":
        w, h, maxval, off = _pnm_header(data, b"P6")
        need = w * h * 3
        if w <= 0 or h <= 0 or maxval != 255 or len(data) < off + need:
            raise ValueError("unsupported/truncated P6")
        return w, h, bytes(data[off:off + need])
    if data[:2] == b"P5":
        w, h, maxval, off = _pnm_header(data, b"P5")
        need = w * h
        if w <= 0 or h <= 0 or maxval != 255 or len(data) < off + need:
            raise ValueError("unsupported/truncated P5")
        gray = data[off:off + need]
        out = bytearray(need * 3)
        for i, v in enumerate(gray):
            out[i * 3:i * 3 + 3] = bytes((v, v, v))
        return w, h, bytes(out)
    raise ValueError("not a P6/P5 netpbm file")


def decode_wav(data: bytes) -> dict:
    """Parse a RIFF/WAVE PCM-16 file -> {sample_rate, n_channels, bits,
    n_frames, samples(list[int], interleaved)}.  Walks the chunk list, so
    extra chunks (LIST/fact/cue) before ``data`` are handled."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            # the slice clamps to available bytes — a cut-off file would
            # otherwise yield fewer samples and plausible-but-wrong
            # aggregates; reject like the truncated-BMP/P6 paths so corrupt
            # audio lands as format='unknown' in the auditable-row output
            raise ValueError(f"truncated {cid!r} chunk: {len(body)}/{size}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)             # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV: format={audio_format} bits={bits}")
    if sample_rate <= 0 or n_channels <= 0:
        # a zero rate would make downstream duration math divide by zero —
        # corrupt header, reject so the operator's never-abort catch turns
        # it into an auditable 'unknown' row
        raise ValueError(
            f"bad WAV header: rate={sample_rate} channels={n_channels}")
    n_samples = len(pcm) // 2
    samples = list(struct.unpack(f"<{n_samples}h", pcm[:n_samples * 2]))
    return {"sample_rate": sample_rate, "n_channels": n_channels,
            "bits": bits, "n_frames": n_samples // max(n_channels, 1),
            "samples": samples}


# ---------------------------------------------------------------------------
# Spark operators (mapInPandas, Arrow-batched)
# ---------------------------------------------------------------------------

IMAGE_DECODE_SCHEMA = ("id long, format string, width int, height int, "
                       "n_pixel_bytes bigint, pixel_sum bigint, "
                       "sum_r bigint, sum_g bigint, sum_b bigint, "
                       "weighted_checksum bigint")


def decode_image(df: DataFrame, binary_col: str = "media",
                 id_col: str = "id") -> DataFrame:
    """REAL image decode over ``mapInPandas``: sniffs BMP/P6/P5 by magic
    bytes, decodes pixels with the pure-Python codecs above, and emits
    order-sensitive aggregates —

    - ``pixel_sum``/``sum_r``/``sum_g``/``sum_b``: channel sums (catch a
      BGR<->RGB swap),
    - ``weighted_checksum`` = sum((n+1) * P(n)): position-weighted (catches
      bottom-up rows or padding bytes leaking into the pixel stream).

    Undecodable blobs become ``format='unknown'`` rows with NULL features
    (auditable, never a job abort).  Map-only: no shuffle, scales with the
    scan; CPU is per-byte Python, so at real scale the same plumbing would
    swap in a numpy/PIL kernel per batch — the schema, dispatch, and
    error contract carry over unchanged."""
    import pandas as pd

    def _decode(batches):
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                row = {"id": rid, "format": "unknown", "width": None,
                       "height": None, "n_pixel_bytes": None,
                       "pixel_sum": None, "sum_r": None, "sum_g": None,
                       "sum_b": None, "weighted_checksum": None}
                data = bytes(blob) if blob is not None else b""
                try:
                    if data[:2] == b"BM":
                        fmt, (w, h, px) = "bmp", decode_bmp(data)
                    elif data[:2] in (b"P6", b"P5"):
                        fmt, (w, h, px) = (
                            "ppm" if data[:2] == b"P6" else "pgm",
                            decode_ppm(data))
                    else:
                        raise ValueError("unknown magic")
                    row.update(
                        format=fmt, width=w, height=h, n_pixel_bytes=len(px),
                        pixel_sum=sum(px),
                        sum_r=sum(px[0::3]), sum_g=sum(px[1::3]),
                        sum_b=sum(px[2::3]),
                        weighted_checksum=sum(
                            (n + 1) * v for n, v in enumerate(px)))
                except (ValueError, struct.error):
                    pass
                rows.append(row)
            yield pd.DataFrame(rows)

    return df.mapInPandas(_decode, schema=IMAGE_DECODE_SCHEMA)


AUDIO_DECODE_SCHEMA = ("id long, format string, sample_rate int, "
                       "n_channels int, bits int, n_frames bigint, "
                       "duration_ms bigint, pcm_sum bigint, "
                       "pcm_weighted bigint, peak_abs int")


def decode_audio(df: DataFrame, binary_col: str = "media",
                 id_col: str = "id") -> DataFrame:
    """REAL audio decode over ``mapInPandas``: parses RIFF/WAVE PCM-16 with
    the stdlib codec above and emits exact aggregates (``pcm_sum``,
    position-weighted ``pcm_weighted`` = sum((n+1)*s(n)), ``peak_abs``,
    integer ``duration_ms``).  Same error contract and scale shape as
    :func:`decode_image`."""
    import pandas as pd

    def _decode(batches):
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                row = {"id": rid, "format": "unknown", "sample_rate": None,
                       "n_channels": None, "bits": None, "n_frames": None,
                       "duration_ms": None, "pcm_sum": None,
                       "pcm_weighted": None, "peak_abs": None}
                data = bytes(blob) if blob is not None else b""
                try:
                    d = decode_wav(data)
                    s = d["samples"]
                    row.update(
                        format="wav", sample_rate=d["sample_rate"],
                        n_channels=d["n_channels"], bits=d["bits"],
                        n_frames=d["n_frames"],
                        duration_ms=d["n_frames"] * 1000 // d["sample_rate"],
                        pcm_sum=sum(s),
                        pcm_weighted=sum((n + 1) * v for n, v in enumerate(s)),
                        peak_abs=max((abs(v) for v in s), default=0))
                except (ValueError, struct.error):
                    pass
                rows.append(row)
            yield pd.DataFrame(rows)

    return df.mapInPandas(_decode, schema=AUDIO_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# module registration
# ---------------------------------------------------------------------------

from ..modules import TABLE, _simple_module, config_kwargs  # noqa: E402
IMAGE_DHASH_SCHEMA = ("id long, format string, width int, height int, "
                      "dhash long")


def image_dhash(df: DataFrame, binary_col: str = "media",
                id_col: str = "id") -> DataFrame:
    """Perceptual difference hash (dHash — Krawetz 2013, the standard
    cheap image fingerprint) over REAL decoded pixels: nearest-neighbor
    downsample to a 9x8 grayscale grid, emit one bit per cell pair
    (brighter-than-left), pack 64 bits into a signed BIGINT.

    Deterministic and engine-portable by construction: integer
    nearest-neighbor sampling (``sx = x*W // 9``), integer grayscale
    ``(r+g+b) // 3``, two's-complement packing — a SQL oracle can predict
    the hash from the pixel rule alone.  Map-only ``mapInPandas``; the
    stdlib codecs stand in for a numpy/PIL kernel exactly as in
    :func:`decode_image` (same error contract: undecodable -> NULL row).

    Near-duplicate images (crops, re-encodes, brightness shifts) land
    within a few bits of Hamming distance; pair search is
    :func:`dhash_neardup_pairs`."""
    import pandas as pd

    def _hash(batches):
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                row = {"id": rid, "format": "unknown", "width": None,
                       "height": None, "dhash": None}
                data = bytes(blob) if blob is not None else b""
                try:
                    if data[:2] == b"BM":
                        fmt, (w, h, px) = "bmp", decode_bmp(data)
                    elif data[:2] in (b"P6", b"P5"):
                        fmt, (w, h, px) = (
                            "ppm" if data[:2] == b"P6" else "pgm",
                            decode_ppm(data))
                    else:
                        raise ValueError("unknown magic")

                    def gray(cx, cy):
                        k = 3 * (cy * w + cx)
                        return (px[k] + px[k + 1] + px[k + 2]) // 3

                    xs = [x * w // 9 for x in range(9)]
                    ys = [y * h // 8 for y in range(8)]
                    hval = 0
                    for i in range(64):
                        x, y = i % 8, i // 8
                        if gray(xs[x + 1], ys[y]) > gray(xs[x], ys[y]):
                            hval |= 1 << i
                    if hval >= 1 << 63:
                        hval -= 1 << 64
                    row.update(format=fmt, width=w, height=h, dhash=hval)
                except (ValueError, struct.error):
                    pass
                rows.append(row)
            yield pd.DataFrame(rows)

    return df.mapInPandas(_hash, schema=IMAGE_DHASH_SCHEMA)


def dhash_neardup_pairs(sig: DataFrame, id_col: str = "id",
                        hash_col: str = "dhash",
                        max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance: band the
    64-bit hash into four 16-bit keys, self-join within (band, key)
    buckets only, verify candidates with an exact
    ``bit_count(a XOR b) <= max_hamming``.

    By pigeonhole, any pair within Hamming distance 3 agrees on at least
    one of the four bands, so the banded join finds EVERY such pair
    without materializing N² — the same LSH shape as minhash dedup; for
    ``max_hamming`` > 3 recall needs more/narrower bands (documented
    contract, enforced below).  Only (id, 16-bit key) rows shuffle; the
    hash join keys are uniformly distributed by construction.

    Returns (id_a, id_b, hamming), id_a < id_b."""
    if max_hamming > 3:
        raise ValueError("4x16-bit banding guarantees recall only for "
                         "max_hamming <= 3; use more bands")
    base = sig.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    banded = base.select(
        "_id", "_h",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("_band"),
                     (F.shiftrightunsigned(F.col("_h"), 16 * b)
                      .bitwiseAND(F.lit(65535))).alias("_key"))
            for b in range(4)])).alias("_bk")
    ).select("_id", "_h", "_bk._band", "_bk._key")
    a = banded.select(F.col("_id").alias("id_a"), F.col("_h").alias("h_a"),
                      "_band", "_key")
    b = banded.select(F.col("_id").alias("id_b"), F.col("_h").alias("h_b"),
                      "_band", "_key")
    pairs = (a.join(b, ["_band", "_key"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "h_a", "h_b").distinct())
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (pairs.withColumn("hamming", ham.cast("bigint"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))




MediaDecodeImageReal = _simple_module(
    "media.decode_image_real", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": decode_image(
        im["table"].data,
        **config_kwargs(self, binary_col="binary_column",
                        id_col="id_column"))},
    doc="""Real BMP/PPM/PGM pixel decode (replaces the stub when the blob is
    one of the supported formats; unknown formats degrade to NULL rows).""",
)

MediaDecodeAudioReal = _simple_module(
    "media.decode_audio_real", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": decode_audio(
        im["table"].data,
        **config_kwargs(self, binary_col="binary_column",
                        id_col="id_column"))},
    doc="Real RIFF/WAVE PCM-16 decode.",
)


from ..operations import Operation  # noqa: E402

MediaImageDhash = _simple_module(
    "media.image_dhash", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": image_dhash(
        im["table"].data,
        **config_kwargs(self, binary_col="binary_column",
                        id_col="id_column"))},
    doc="""Perceptual dHash fingerprints over decoded pixels (see
    image_dhash).""",
)


def _media_dedup_images_process(self, im, ctx):
    sig = image_dhash(
        im["table"].data,
        **config_kwargs(self, binary_col="binary_column", id_col="id_column"))
    return {"pairs": dhash_neardup_pairs(
        sig, **config_kwargs(self, "max_hamming"))}


MediaDedupImages = _simple_module(
    "media.dedup_images", {"table": TABLE}, {"pairs": TABLE},
    _media_dedup_images_process,
    doc="""Near-duplicate image pairs via banded dHash LSH (see
    dhash_neardup_pairs).""",
)


MODULES = [MediaDecodeImageReal, MediaDecodeAudioReal, MediaImageDhash,
           MediaDedupImages]
OPERATIONS = [
    Operation("media.decode_image_real", "media.decode_image_real"),
    Operation("media.decode_audio_real", "media.decode_audio_real"),
    Operation("media.image_dhash", "media.image_dhash"),
    Operation("media.dedup_images", "media.dedup_images"),
]
