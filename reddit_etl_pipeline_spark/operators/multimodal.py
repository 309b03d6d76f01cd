"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media is modeled the Spark-native way: an opaque ``binary`` content column
plus typed metadata columns, processed with Arrow-batched ``mapInPandas``
(one pandas batch per partition slice — the only sane shape for MB-scale
blobs; a row-at-a-time Python UDF would serialize each blob separately).

The actual codec work (JPEG decode, audio resample, video frame extract)
needs native libraries this environment doesn't ship, so the codec calls
are STUBS: ``decode_media`` raises NotImplementedError unless
``fake=True``, in which case a clearly-marked deterministic fake stands in
(byte-slice pseudo-decode). Everything Spark-side — schema, batching,
partitioning, UDF signatures, output shapes — is real and tested, so
swapping the fake for pillow/ffmpeg is a one-function change.

Scale notes: blobs never pass through a shuffle here (all ops are
map-only); feature vectors (small) are what downstream joins/aggregations
touch. At 100 TB, keep blobs in their own parquet column (or external
object store with a path column) and let column pruning skip them unless
the decode stage actually runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def attach_fake_media(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Derive a deterministic media relation from the documents table:
    content = utf-8 bytes of the text (a stand-in blob), media_type cycles
    by id. Used by tests and the driver queries — real pipelines read
    binaryFile/parquet sources instead."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
        F.concat(F.lit("synthetic://doc/"), F.col(id_col)).alias("source_uri"),
    )


def _fake_decode(content: bytes, media_type: str) -> bytes:
    """Deterministic stand-in for a codec: identity on the byte payload.
    Marked FAKE — replace with pillow/soundfile/ffmpeg bindings."""
    return content


# ------------------------------------------------------------- real codecs
#
# Three REAL containers, decoded with the stdlib only: PCM WAV (RIFF, via
# the ``wave`` module — the spec-true reference reader), 24-bit BI_RGB BMP
# (hand-parsed headers: bottom-up/top-down row order, BGR channel order,
# 4-byte row padding), and 8-bit truecolor PNG (chunk walk with CRC
# verification, zlib inflate, and the full scanline un-filter set —
# None/Sub/Up/Average/Paeth). Formats needing native libs (JPEG/MP3/
# H.264) keep the NotImplementedError path.


def synth_wav(media_id: int) -> bytes:
    """Deterministic REAL WAV blob: mono PCM-16 sawtooth whose sample
    values are pure id arithmetic — ``sample[i] = ((i*31 + id) % 65536)
    - 32768`` — so a SQL oracle can recompute every decoded statistic
    without parsing bytes. Built with the stdlib ``wave`` writer (real
    RIFF/fmt/data chunks, not a fake)."""
    import io
    import struct
    import wave

    n = 64 + media_id % 64
    rate = 8000 + (media_id % 4) * 4000
    samples = [((i * 31 + media_id) % 65536) - 32768 for i in range(n)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def synth_bmp(media_id: int) -> bytes:
    """Deterministic REAL 24-bit BMP blob (BITMAPFILEHEADER +
    BITMAPINFOHEADER, bottom-up BGR rows padded to 4 bytes). Pixel
    channels are id arithmetic — at (x, y): R=(x*7+y*13+id)%256,
    G=(x*3+y*5+2*id)%256, B=(x*11+y*17+3*id)%256 — SQL-recomputable
    like ``synth_wav``."""
    import struct

    w = 4 + media_id % 5
    h = 3 + media_id % 4
    row_pad = (-(w * 3)) % 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(w):
            r = (x * 7 + y * 13 + media_id) % 256
            g = (x * 3 + y * 5 + 2 * media_id) % 256
            b = (x * 11 + y * 17 + 3 * media_id) % 256
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    pixel_data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    return file_hdr + info + pixel_data


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): pick the neighbor (left/up/
    up-left) closest to the linear estimate a + b − c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_row(ftype: int, row: bytes, prev: bytes, bpp: int = 3) -> bytes:
    """Apply PNG filter ``ftype`` to a raw scanline (encoder side). The
    synthetic blobs cycle through all five types so the decoder's
    un-filter paths are all genuinely exercised."""
    out = bytearray(len(row))
    for i, x in enumerate(row):
        left = row[i - bpp] if i >= bpp else 0
        up = prev[i]
        upleft = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            pred = _paeth(left, up, upleft)
        out[i] = (x - pred) % 256
    return bytes(out)


def _png_unfilter_row(ftype: int, row: bytes, prev: bytes, bpp: int = 3) -> bytes:
    """Reverse one scanline filter (decoder side) — reconstruction is
    sequential in x for Sub/Average/Paeth by spec (each byte's predictor
    reads the RECONSTRUCTED left neighbor)."""
    if ftype == 0:
        return bytes(row)
    out = bytearray(len(row))
    for i, x in enumerate(row):
        left = out[i - bpp] if i >= bpp else 0
        up = prev[i]
        upleft = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        elif ftype == 4:
            pred = _paeth(left, up, upleft)
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[i] = (x + pred) % 256
    return bytes(out)


def synth_png(media_id: int) -> bytes:
    """Deterministic REAL 8-bit truecolor PNG blob (IHDR + one IDAT +
    IEND, correct CRCs, zlib-compressed scanlines whose filter types
    cycle through None/Sub/Up/Average/Paeth). Pixel channels reuse the
    BMP id arithmetic — at (x, y): R=(x*7+y*13+id)%256,
    G=(x*3+y*5+2*id)%256, B=(x*11+y*17+3*id)%256 — so the SQL oracle
    recomputes decoded statistics without inflating a byte."""
    import struct
    import zlib

    w = 4 + media_id % 6
    h = 3 + media_id % 5
    filtered = bytearray()
    prev = bytes(3 * w)
    for y in range(h):  # PNG stores top-down
        row = bytearray()
        for x in range(w):
            row += bytes(
                (
                    (x * 7 + y * 13 + media_id) % 256,
                    (x * 3 + y * 5 + 2 * media_id) % 256,
                    (x * 11 + y * 17 + 3 * media_id) % 256,
                )
            )
        row = bytes(row)
        ftype = (y + media_id) % 5
        filtered.append(ftype)
        filtered += _png_filter_row(ftype, row, prev)
        prev = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[dict, bytes]:
    """Parse an 8-bit truecolor PNG: chunk walk with CRC verification,
    IDAT concatenation + zlib inflate, then the per-scanline un-filter
    (None/Sub/Up/Average/Paeth). Returns (meta, payload) with payload as
    top-down row-major RGB — PNG's native order, so unlike BMP no flip
    or channel swap is needed; the decoder's real work is the filter
    reconstruction."""
    import struct
    import zlib

    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (missing signature)")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            "only 8-bit truecolor non-interlaced PNG supported "
            f"(depth={depth}, color={color}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = 3 * w
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        off = y * (stride + 1)
        row = _png_unfilter_row(raw[off], raw[off + 1 : off + 1 + stride], prev)
        out += row
        prev = row
    return {"width": w, "height": h, "channels": 3}, bytes(out)


def decode_wav(data: bytes) -> tuple[dict, bytes]:
    """Parse a PCM WAV blob with the stdlib ``wave`` reader. Returns
    (meta, payload) where payload is the raw little-endian PCM sample
    bytes and meta carries channels / sample_rate / n_frames /
    sample_width."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as r:
        meta = {
            "channels": r.getnchannels(),
            "sample_rate": r.getframerate(),
            "n_frames": r.getnframes(),
            "sample_width": r.getsampwidth(),
        }
        payload = r.readframes(meta["n_frames"])
    return meta, payload


def decode_bmp(data: bytes) -> tuple[dict, bytes]:
    """Parse a 24-bit uncompressed (BI_RGB) BMP. Returns (meta, payload)
    with payload NORMALIZED to top-down row-major RGB with padding
    stripped — the decoder owns the bottom-up flip, the BGR→RGB swap and
    the 4-byte row-padding math, which is exactly the work a real binary
    media decoder does."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP (missing BM magic)")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height < 0
    h = abs(height)
    row_stride = (width * 3 + 3) // 4 * 4
    import numpy as np

    # one vectorized pass: view the pixel block as (h, stride) bytes,
    # drop the per-row padding, reshape rows to (w, 3) BGR pixels, then
    # flip bottom-up storage and reverse the channel axis to RGB — no
    # per-pixel Python byte ops (O(w*h) interpreter work at corpus scale)
    px = np.frombuffer(
        data, dtype=np.uint8, count=h * row_stride, offset=pixel_off
    ).reshape(h, row_stride)[:, : width * 3].reshape(h, width, 3)
    if not top_down:
        px = px[::-1]  # stored bottom-up -> emit top-down
    out = px[:, :, ::-1].tobytes()  # BGR -> RGB
    meta = {"width": width, "height": h, "channels": 3}
    return meta, out


_DECODE_COLS = [
    StructField("format", StringType(), True),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("channels", LongType(), True),
    StructField("sample_rate", LongType(), True),
    StructField("payload", BinaryType(), True),
]


def _decode_one(content: bytes) -> tuple:
    """Sniff the container magic and decode. Returns the _DECODE_COLS
    tuple; raises NotImplementedError for formats that need native libs."""
    if len(content) >= 12 and content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        meta, payload = decode_wav(content)
        return ("wav", None, None, meta["channels"], meta["sample_rate"], payload)
    if content[:2] == b"BM":
        meta, payload = decode_bmp(content)
        return ("bmp", meta["width"], meta["height"], meta["channels"], None, payload)
    if content[:8] == _PNG_MAGIC:
        meta, payload = decode_png(content)
        return ("png", meta["width"], meta["height"], meta["channels"], None, payload)
    raise NotImplementedError(
        "unsupported media container (PCM WAV, 24-bit BMP and 8-bit "
        "truecolor PNG decode with the stdlib; JPEG/MP3/video need "
        "pillow/ffmpeg — use fake=True for the pass-through stand-in)"
    )


def decode_media(
    df: DataFrame, fake: bool = False, content_col: str = "content"
) -> DataFrame:
    """Decode blobs to raw payloads via mapInPandas.

    ``fake=False`` runs REAL stdlib decoders for PCM WAV and 24-bit BMP
    blobs (``decode_wav`` / ``decode_bmp``; payload = raw PCM bytes /
    normalized top-down RGB) and raises NotImplementedError inside the
    task for containers that need native libs. ``fake=True`` keeps the
    deterministic pass-through stand-in (format='fake') for synthetic
    non-container blobs.
    """
    out_schema = StructType(df.schema.fields + _DECODE_COLS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            decoded = []
            for c in pdf[content_col]:
                if c is None:
                    decoded.append((None, None, None, None, None, None))
                elif fake:
                    decoded.append(
                        ("fake", None, None, None, None, _fake_decode(bytes(c), ""))
                    )
                else:
                    decoded.append(_decode_one(bytes(c)))
            for i, f in enumerate(_DECODE_COLS):
                pdf[f.name] = [d[i] for d in decoded]
            yield pdf

    return df.mapInPandas(run, out_schema)


def attach_codec_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Media relation with REAL container blobs, derived deterministically
    from an id column: id%3==1 carries a PCM-16 WAV (``synth_wav``),
    id%3==2 an 8-bit truecolor PNG (``synth_png``), id%3==0 a 24-bit BMP
    (``synth_bmp``). Content is genuine RIFF/PNG/BMP bytes —
    ``decode_media(fake=False)`` exercises real parsers on it — while
    every decoded statistic stays closed-form in the id, so a SQL oracle
    can verify the full encode→decode→aggregate path without reading a
    byte. Map-only (blob construction happens inside the Arrow batch)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("media_type", StringType(), False),
            StructField("content", BinaryType(), True),
        ]
    )

    def _blob(i: int) -> bytes:
        if i % 3 == 1:
            return synth_wav(i)
        return synth_png(i) if i % 3 == 2 else synth_bmp(i)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "media_type": [
                        "audio" if i % 3 == 1 else "image" for i in ids
                    ],
                    "content": [_blob(i) for i in ids],
                }
            )

    return df.select(id_col).mapInPandas(run, out_schema)


def media_decode_stats(media: DataFrame) -> DataFrame:
    """Genuinely-decoded per-blob statistics: parse each WAV/PNG/BMP
    container (``decode_wav`` / ``decode_png`` / ``decode_bmp``) and
    aggregate its raw samples / pixels. Output per media_id:

    - format ('wav'|'png'|'bmp'), n_units (samples | pixels),
      rate_or_width (sample_rate | image width) — from the parsed headers
    - mean_val: mean PCM sample / mean RED channel (6 dp)
    - checksum: position-weighted sum — Σ (i+1)·sample for audio,
      Σ (y·w+x+1)·R for images in TOP-DOWN row-major order — order-
      SENSITIVE on purpose: a bottom-up flip, BGR mixup, or row-padding
      slip in the decoder changes it, where a plain mean would not.

    Map-only over the Arrow batches; blobs never shuffle."""
    import numpy as np

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("format", StringType(), False),
            StructField("n_units", LongType(), False),
            StructField("rate_or_width", LongType(), False),
            StructField("mean_val", DoubleType(), False),
            StructField("checksum", LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                data = bytes(content)
                if data[:4] == b"RIFF":
                    meta, payload = decode_wav(data)
                    samples = np.frombuffer(payload, dtype="<i2").astype("int64")
                    n = len(samples)
                    rows.append(
                        (
                            int(mid),
                            "wav",
                            n,
                            meta["sample_rate"],
                            round(float(samples.mean()), 6),
                            int((np.arange(1, n + 1) * samples).sum()),
                        )
                    )
                else:
                    if data[:8] == _PNG_MAGIC:
                        fmt, (meta, payload) = "png", decode_png(data)
                    else:
                        fmt, (meta, payload) = "bmp", decode_bmp(data)
                    px = np.frombuffer(payload, dtype="u1").astype("int64")
                    red = px[0::3]  # payload normalized to top-down RGB
                    n = len(red)
                    rows.append(
                        (
                            int(mid),
                            fmt,
                            n,
                            meta["width"],
                            round(float(red.mean()), 6),
                            int((np.arange(1, n + 1) * red).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "n_units",
                    "rate_or_width", "mean_val", "checksum",
                ],
            )

    return media.select("media_id", "content").mapInPandas(run, out_schema)


def media_byte_stats(df: DataFrame) -> DataFrame:
    """Per-blob byte accounting through the Arrow batch path: length and a
    simple deterministic checksum (sum of bytes mod 2^31). Map-only."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("media_type", StringType(), False),
            StructField("n_bytes", LongType(), True),
            StructField("byte_checksum", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [None if c is None else len(c) for c in pdf["content"]],
                "byte_checksum": [
                    None if c is None else int(sum(bytes(c)) % 2_147_483_647)
                    for c in pdf["content"]
                ],
            }
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, out_schema)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Fixed-dim feature vector per blob via mapInPandas — the plumbing for
    an embedding model. The featurizer here is a deterministic FAKE
    (bucketed byte histogram, L1-normalized); swap ``featurize`` for a real
    model (ONNX/torch) without touching the Spark side."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("features", ArrayType(DoubleType()), True),
        ]
    )

    def featurize(content: bytes) -> list[float]:
        hist = [0] * dim
        for b in content:
            hist[b % dim] += 1
        total = max(sum(hist), 1)
        return [h / total for h in hist]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "features": [
                        None if c is None else featurize(bytes(c))
                        for c in pdf["content"]
                    ],
                }
            )

    return df.mapInPandas(run, out_schema)


def resize_images(df: DataFrame, factor: int = 4) -> DataFrame:
    """Image resize plumbing: per-blob payload transform through the Arrow
    batch path. The resample itself is a deterministic FAKE (keep every
    ``factor``-th byte — a stand-in for pillow's ``Image.resize``);
    non-image rows pass through untouched. Output schema mirrors input
    with ``content`` replaced and ``n_bytes`` updated."""
    out_schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            new_content, new_bytes = [], []
            for mtype, content in zip(pdf["media_type"], pdf["content"]):
                if content is None or mtype != "image":
                    new_content.append(content)
                    new_bytes.append(None if content is None else len(content))
                    continue
                resized = bytes(content)[::factor]
                new_content.append(resized)
                new_bytes.append(len(resized))
            pdf["content"] = new_content
            pdf["n_bytes"] = new_bytes
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video blobs: emit ``n_frames`` evenly-spaced
    byte-slice "frames" per blob (deterministic FAKE for the ffmpeg seek;
    the row-explosion shape — one row in, n rows out — is the real
    contract). Non-video rows pass through with a single full-payload
    frame."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_idx", LongType(), False),
            StructField("frame", BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, mtype, content in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"]
            ):
                if content is None:
                    continue
                data = bytes(content)
                if mtype != "video" or len(data) == 0:
                    ids.append(mid)
                    idxs.append(0)
                    frames.append(data)
                    continue
                step = max(len(data) // n_frames, 1)
                for i in range(min(n_frames, len(data))):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(data[i * step : (i + 1) * step])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(run, out_schema)
