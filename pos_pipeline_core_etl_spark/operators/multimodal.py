"""Multimodal column plumbing (image/audio/video as opaque binary).

The Spark-side machinery is real and tested: typed ``binary`` payload
columns, Arrow-batched ``mapInPandas`` feature extraction with an
explicit output schema, partition-friendly batch shapes. The actual
media decode is STUBBED — the container has no image/audio libraries —
behind ``_try_decode_image``: if a real decoder (PIL) is importable it
is used, otherwise deterministic pseudo-features derived from the bytes
stand in, keeping every downstream contract (schema, null-handling,
batch iteration) identical to a production deployment.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.operators.common import ensure_parallelism

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, first_byte long, fake_width long, "
    "fake_height long, decoder string"
)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> dict | None:
    """Minimal REAL PNG decode — pure stdlib (struct + zlib), no PIL.

    Parses the signature and IHDR for dimensions, CRC-checks every chunk,
    and inflates the concatenated IDAT stream to verify the pixel data is
    intact (stored size must match the expected filtered-scanline size
    for the 8-bit formats). Returns None for non-PNG bytes; raises on a
    corrupt PNG.
    """
    import struct
    import zlib

    if not payload.startswith(PNG_MAGIC):
        return None
    pos = len(PNG_MAGIC)
    width = height = None
    bit_depth = color_type = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is not None and bit_depth == 8:
        expected = height * (1 + width * channels)  # +1 filter byte per scanline
        if len(raw) != expected:
            raise ValueError(
                f"PNG pixel data size {len(raw)} != expected {expected}"
            )
    return {"fake_width": width, "fake_height": height, "decoder": "png"}


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, bytearray] | None:
    """Full PNG pixel decode for 8-bit non-interlaced images — stdlib
    only: chunk walk with CRC verification, IDAT inflate, scanline
    unfiltering (filters 0-4: None/Sub/Up/Average/Paeth per the PNG
    spec), and PLTE lookup for paletted (color type 3) images, which
    decode to 3-channel RGB.

    Returns (width, height, channels, raw pixel bytes row-major) or None
    for non-PNG input; raises on unsupported (16-bit, interlaced) or
    corrupt PNGs — callers surface those as explicit failure rows.
    """
    import struct
    import zlib

    if not payload.startswith(PNG_MAGIC):
        return None
    pos = len(PNG_MAGIC)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = b""
    plte: bytes | None = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth == 16:
        raise ValueError("unsupported PNG: 16-bit depth")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, interlace={interlace})"
        )
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG missing PLTE chunk")
    ch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(idat)
    stride = width * ch
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG pixel data size mismatch")
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        f = raw[y * (1 + stride)]
        line = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    if color_type == 3:
        # palette indices → RGB triples (tRNS alpha is not applied; the
        # decode targets feature extraction, not compositing)
        assert plte is not None
        n_entries = len(plte) // 3
        rgb = bytearray(len(out) * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError(f"PNG palette index {idx} out of range")
            rgb[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
        return width, height, 3, rgb
    return width, height, ch, out


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Minimal PNG encoder (8-bit, filter 0 scanlines, one IDAT)."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + bytes(pixels[y * stride : (y + 1) * stride]) for y in range(height)
    )
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def resize_png(payload: bytes, width: int, height: int) -> bytes | None:
    """REAL nearest-neighbor PNG resize: decode → resample → re-encode,
    pure stdlib. Returns None for non-PNG input (caller falls back to the
    deterministic stub)."""
    decoded = decode_png_pixels(payload)
    if decoded is None:
        return None
    sw, sh, ch, px = decoded
    out = bytearray(width * height * ch)
    for y in range(height):
        sy = min(sh - 1, (y * sh) // height)
        for x in range(width):
            sx = min(sw - 1, (x * sw) // width)
            src = (sy * sw + sx) * ch
            dst = (y * width + x) * ch
            out[dst : dst + ch] = px[src : src + ch]
    return encode_png(width, height, ch, bytes(out))


def resize_jpeg(payload: bytes, width: int, height: int) -> bytes | None:
    """REAL nearest-neighbor JPEG resize: baseline grayscale decode →
    resample → re-encode (operators/jpeg.py, pure stdlib). Returns None
    for non-JPEG input; raises on the unsupported JPEG subset (callers
    surface an error row), mirroring :func:`resize_png`."""
    from pos_pipeline_core_etl_spark.operators.jpeg import (
        JPEG_MAGIC,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    if not payload.startswith(JPEG_MAGIC):
        return None
    sw, sh, px = decode_jpeg_gray(payload)
    out = bytearray(width * height)
    for y in range(height):
        sy = min(sh - 1, (y * sh) // height)
        for x in range(width):
            sx = min(sw - 1, (x * sw) // width)
            out[y * width + x] = px[sy * sw + sx]
    return encode_jpeg_gray(width, height, bytes(out))


def _try_decode_image(payload: bytes) -> dict:
    """Real decoder where the format allows, else deterministic fake.

    Order: PIL when importable → stdlib PNG decode for PNG bytes →
    deterministic pseudo-features (pure function of the payload so the
    DuckDB oracle reproduces them) for everything else.
    """
    try:  # pragma: no cover - PIL absent in this container
        from PIL import Image  # noqa: F401
        import io

        with Image.open(io.BytesIO(payload)) as im:
            return {
                "fake_width": im.width,
                "fake_height": im.height,
                "decoder": "pil",
            }
    except ImportError:
        pass
    except Exception:
        # undecodable bytes under a real decoder → explicit failure row
        return {"fake_width": -1, "fake_height": -1, "decoder": "error"}
    try:
        png = decode_png(payload)
    except Exception:
        return {"fake_width": -1, "fake_height": -1, "decoder": "error"}
    if png is not None:
        return png
    from pos_pipeline_core_etl_spark.operators.jpeg import (
        JPEG_MAGIC,
        decode_jpeg_gray,
    )

    if payload.startswith(JPEG_MAGIC):
        try:
            jw, jh, _px = decode_jpeg_gray(payload)
        except Exception:
            return {"fake_width": -1, "fake_height": -1, "decoder": "error"}
        return {"fake_width": jw, "fake_height": jh, "decoder": "jpeg"}
    n = len(payload)
    first = payload[0] if n else 0
    return {
        "fake_width": n % 640,
        "fake_height": (first * 7) % 480,
        "decoder": "stub",
    }


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = bytes(payload) if payload is not None else b""
            d = _try_decode_image(payload)
            feats.append(
                {
                    "doc_id": doc_id,
                    "n_bytes": len(payload),
                    "first_byte": payload[0] if payload else 0,
                    **d,
                }
            )
        yield pd.DataFrame(
            feats,
            columns=[
                "doc_id",
                "n_bytes",
                "first_byte",
                "fake_width",
                "fake_height",
                "decoder",
            ],
        )


def extract_features(binary_docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → typed feature rows via mapInPandas.

    Arrow-batched: each task processes whole record batches, the decode
    loop is per-row only inside a batch (exactly how a real image decode
    behaves — the codec is the cost, not the loop).
    """
    return binary_docs.mapInPandas(_extract_batches, schema=FEATURE_SCHEMA)


def documents_as_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload.

    Routed through the few-input-files parallelism guard: the downstream
    mapInPandas decode is the single most CPU-bound stage a multimodal
    pipeline has (real codecs, not the stub), and a one-file corpus must
    not feed it as ONE Arrow task."""
    docs = ensure_parallelism(docs)
    return docs.select("doc_id", F.encode(F.col(text_col), "UTF-8").alias("payload"))


FRAME_SCHEMA = "doc_id long, frame_index long, frame binary, n_frame_bytes long"


def sample_frames(
    binary_docs: DataFrame, frame_size: int = 256, every_n: int = 2
) -> DataFrame:
    """Video-style frame sampling: one payload row → N frame rows.

    The UDTF shape of multimodal pipelines — ``mapInPandas`` may emit
    more rows than it receives, so a single opaque video payload fans
    out to one row per sampled frame with an explicit output schema.
    The "codec" is stubbed (frames = fixed-size byte chunks, every
    ``every_n``-th kept), deterministic so the DuckDB oracle reproduces
    it; a real build swaps the chunker for pyav/ffmpeg keyframe
    extraction and nothing else changes.
    """

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                for i in range(0, (len(payload) + frame_size - 1) // frame_size):
                    if i % every_n:
                        continue
                    frame = payload[i * frame_size : (i + 1) * frame_size]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_index": i,
                            "frame": frame,
                            "n_frame_bytes": len(frame),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_index", "frame", "n_frame_bytes"]
            )

    return binary_docs.mapInPandas(chunk, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, out_width long, out_height long, n_bytes_in long, "
    "n_bytes_out long, resizer string"
)


def resize_images(
    binary_docs: DataFrame, width: int = 64, height: int = 48
) -> DataFrame:
    """Resize plumbing: payload in → resized payload stats out.

    PNG and baseline-JPEG bytes take the REAL path (stdlib decode →
    nearest-neighbor resample → re-encode, :func:`resize_png` /
    :func:`resize_jpeg`); other payloads use the deterministic stub
    (keep ``min(n_in, width·height/64)`` bytes — a pure function of the
    input so the oracle can check it). A production build swaps the
    codec (PIL/cv2) inside the same batch loop with the same schema.
    """
    budget = (width * height) // 64

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    img_out = resize_png(payload, width, height)
                    if img_out is not None:
                        resizer = "png"
                    else:
                        img_out = resize_jpeg(payload, width, height)
                        resizer = "jpeg" if img_out is not None else "stub"
                except Exception:
                    img_out = b""
                    resizer = "error"
                out = img_out if img_out else payload[:budget]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "out_width": width,
                        "out_height": height,
                        "n_bytes_in": len(payload),
                        "n_bytes_out": len(out),
                        "resizer": resizer,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "out_width",
                    "out_height",
                    "n_bytes_in",
                    "n_bytes_out",
                    "resizer",
                ],
            )

    return binary_docs.mapInPandas(do, schema=RESIZE_SCHEMA)


# mapInPandas callables ship to executors — serialize by value
from pos_pipeline_core_etl_spark.functions.serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash — difference hash): the standard
# near-duplicate-image signal for multimodal training-data dedup. Real
# over the stdlib PNG decoder; deterministic md5 stub for non-image
# payloads so the relational plumbing is oracle-checkable on any corpus.

DHASH_W, DHASH_H = 9, 8  # 9×8 grayscale grid → 64 horizontal gradients


def dhash_png(payload: bytes) -> tuple[int, str]:
    """(dhash, decoder) for a payload: REAL difference hash for PNG and
    baseline-JPEG bytes (decode → grayscale → nearest-neighbor 9×8
    resample → 64 left-vs-right gradient bits), else a deterministic
    60-bit md5 stub.

    dHash survives re-encoding, resizing and small edits — equal or
    near-equal (small Hamming distance) hashes mark near-duplicate
    images; the banded near-pair machinery (operators/dedup.py::
    simhash_banded_pairs) applies to this signature unchanged. Because
    the hash is computed on decoded PIXELS, a PNG and a JPEG of the
    same image hash near-equal — cross-format near-dup detection, which
    no byte-level fingerprint can do (pinned by test).

    A payload that LOOKS like an image (PNG or JPEG magic bytes) but
    fails to decode (truncated, corrupt, unsupported variants — 16-bit
    or interlaced PNG, progressive or multi-component JPEG; both
    decoders raise on all of these) yields an explicit
    ``decoder='error'`` row with the same deterministic md5-derived
    hash as the stub branch, mirroring ``_try_decode_image``'s
    convention — one bad image must never fail the whole mapInPandas
    job (ADVICE r5)."""
    import hashlib

    from pos_pipeline_core_etl_spark.operators.jpeg import (
        JPEG_MAGIC,
        decode_jpeg_gray,
    )

    decoded = None
    fmt = "png"
    decoder_on_miss = "stub"
    if payload.startswith(PNG_MAGIC):
        try:
            decoded = decode_png_pixels(payload)
        except Exception:
            decoded = None
            decoder_on_miss = "error"
    elif payload.startswith(JPEG_MAGIC):
        fmt = "jpeg"
        try:
            jw, jh, jpx = decode_jpeg_gray(payload)
            decoded = (jw, jh, 1, jpx)
        except Exception:
            decoded = None
            decoder_on_miss = "error"
    if decoded is None:
        stub = int(hashlib.md5(payload).hexdigest()[:15], 16)
        return stub, decoder_on_miss
    sw, sh, ch, px = decoded
    # grayscale nearest-neighbor resample to DHASH_W × DHASH_H
    gray = []
    for y in range(DHASH_H):
        sy = min(sh - 1, (y * sh) // DHASH_H)
        row = []
        for x in range(DHASH_W):
            sx = min(sw - 1, (x * sw) // DHASH_W)
            src = (sy * sw + sx) * ch
            if ch >= 3:
                # integer luma (ITU-R 601-ish, pure int math)
                v = (
                    299 * px[src] + 587 * px[src + 1] + 114 * px[src + 2]
                ) // 1000
            else:
                v = px[src]
            row.append(v)
        gray.append(row)
    h = 0
    bit = 0
    for y in range(DHASH_H):
        for x in range(DHASH_W - 1):
            if gray[y][x] > gray[y][x + 1]:
                h |= 1 << bit
            bit += 1
    if h >= 1 << 63:
        # reinterpret as signed so the 64-bit hash fits a BIGINT column
        # (Hamming distance over XOR is unaffected by the sign bit's
        # two's-complement reading)
        h -= 1 << 64
    return h, fmt


DHASH_SCHEMA = "doc_id long, dhash long, decoder string"


def image_dhash(binary_docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → (doc_id, dhash, decoder) via
    mapInPandas — Arrow-batched like :func:`extract_features`; the
    per-row cost is the codec, exactly as a real image pipeline."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                h, dec = dhash_png(payload)
                rows.append({"doc_id": doc_id, "dhash": h, "decoder": dec})
            yield pd.DataFrame(rows, columns=["doc_id", "dhash", "decoder"])

    return binary_docs.mapInPandas(batches, schema=DHASH_SCHEMA)
