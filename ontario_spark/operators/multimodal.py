"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata, processed via Arrow-batched ``mapInPandas``.

Pixel decoding needs codec libraries that are not installed, so the
decode kernels are deterministic fakes (byte-level stats standing in
for decoded features), while container headers are parsed for real
(dimensions, sample rates, boxes). Everything
Spark-side — schema contracts, Arrow batch shapes, partition behavior —
is real and tested; swapping in a real `PIL`/`libav` kernel changes only
the per-batch pandas function body.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", IntegerType()),
        StructField("byte_sum_mod", LongType()),
    ]
)


def media_from_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media table: utf-8 bytes of a text column as
    the binary payload (stands in for real image/audio bytes)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def decode_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched per-media byte stats via ``mapInPandas`` — the
    deterministic fake standing in for decode/feature-extraction.

    The iterator-of-batches shape is the scale-relevant part: one
    python worker per partition, Arrow transfer, constant memory per
    batch regardless of partition size. NULL payloads (a NULL source
    text) are treated as empty media, not task killers."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"].map(lambda b: b if b is not None else b"")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "byte_sum_mod": payloads.map(
                        lambda b: int(
                            np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64)
                        )
                        % 1_000_003
                    ).astype("int64"),
                }
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, DECODE_STATS_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling shape: each media row fans out to up to
    ``n_frames`` rows. The deterministic fake slices the payload into
    equal byte ranges (standing in for decoded frames at evenly spaced
    timestamps); a real kernel would seek/decode with libav. The fan-out
    inside ``mapInPandas`` is the scale-relevant contract — output
    batches larger than input batches, constant memory."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = payload if payload is not None else b""
                k = min(n_frames, len(payload)) if len(payload) else 0
                for i in range(k):
                    lo = len(payload) * i // k
                    hi = len(payload) * (i + 1) // k
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(bytes(payload[lo:hi]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, FRAME_SCHEMA)


N_FEATURES = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction shape: media → fixed-size float vector
    (deterministic fake: normalized 8-bucket byte histogram; a real
    kernel would be a vision/audio model). Output composes directly
    with ``operators.similarity`` ANN search — the media→embedding→ANN
    path a multimodal dedup pipeline runs."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload or b"", dtype=np.uint8)
                if len(arr) == 0:
                    feats.append([0.0] * N_FEATURES)
                    continue
                hist = np.bincount(arr >> 5, minlength=N_FEATURES).astype("float64")
                feats.append((hist / hist.sum()).astype("float32").tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "features": pd.Series(feats, dtype="object")}
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, FEATURES_SCHEMA)


IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),  # 'png'|'jpeg'|None
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def synth_png(w: int, h: int) -> bytes:
    """Minimal valid-enough PNG: signature + IHDR with the given
    dimensions (no IDAT — header parsing never reads past IHDR)."""
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00"
        + b"\x00" * 4
    )


def synth_jpeg(w: int, h: int) -> bytes:
    """Minimal JPEG stream: SOI + APP0 + SOF0 carrying the dimensions
    + EOI."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x03"
        + b"\x00" * 9
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def synth_gif(w: int, h: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor (little-
    endian dims) + trailer."""
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def synth_tiff(w: int, h: int, big_endian: bool = False) -> bytes:
    """Minimal TIFF (the EXIF container format): byte-order header +
    one IFD holding ImageWidth(256)/ImageLength(257) as SHORTs.
    Values < 4 bytes are left-justified in the value field per the
    TIFF 6.0 spec — identical slicing for both byte orders."""
    import struct

    bo = ">" if big_endian else "<"
    hdr = (
        (b"MM" if big_endian else b"II")
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", 8)
    )
    entries = b""
    for tag, val in ((256, w), (257, h)):
        entries += (
            struct.pack(bo + "HHI", tag, 3, 1)
            + struct.pack(bo + "H", val)
            + b"\x00\x00"
        )
    return hdr + struct.pack(bo + "H", 2) + entries + struct.pack(bo + "I", 0)


def parse_image_header(b: bytes) -> tuple[str | None, int | None, int | None]:
    """REAL (not stubbed) container-header parsing — PNG IHDR and JPEG
    SOF markers carry dimensions in plain bytes, no codec needed. This
    is what a lake-scale ingest actually runs to validate/route media
    before any decode: pure byte peeking, a few hundred bytes per file.
    Returns (format, width, height); (None, None, None) if unknown."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        return "png", w, h
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        # logical screen descriptor: little-endian u16 width, height
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        return "gif", w, h
    if len(b) >= 8 and b[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF/EXIF
        order = "little" if b[:2] == b"II" else "big"
        off = int.from_bytes(b[4:8], order)
        w = h = None
        if off + 2 <= len(b):
            n = int.from_bytes(b[off : off + 2], order)
            for k in range(n):
                e = off + 2 + 12 * k
                if e + 12 > len(b):
                    break
                tag = int.from_bytes(b[e : e + 2], order)
                typ = int.from_bytes(b[e + 2 : e + 4], order)
                if tag in (256, 257) and typ in (3, 4):
                    # SHORT values sit left-justified in the 4-byte
                    # value field — same slice under either byte order
                    raw = b[e + 8 : e + 10] if typ == 3 else b[e + 8 : e + 12]
                    v = int.from_bytes(raw, order)
                    if tag == 256:
                        w = v
                    else:
                        h = v
        if w is not None and h is not None:
            return "tiff", w, h
        return "tiff", None, None
    if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte, not a marker prefix
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            # SOF always precedes SOS in a valid stream; past SOS the
            # bytes are entropy-coded data where 0xFF pairs are NOT
            # segments — scanning on would read garbage dimensions
            # from corrupt/truncated payloads. EOI ends the stream.
            if marker in (0xDA, 0xD9):
                break
            seglen = int.from_bytes(b[i + 2 : i + 4], "big")
            # SOF0..SOF15 except DHT(C4)/DAC(CC)/RST carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(b[i + 5 : i + 7], "big")
                w = int.from_bytes(b[i + 7 : i + 9], "big")
                return "jpeg", w, h
            i += 2 + seglen
    return None, None, None


def image_metadata(media: DataFrame) -> DataFrame:
    """Per-media container metadata via Arrow-batched ``mapInPandas``:
    real header parsing (see ``parse_image_header``) — unknown payloads
    yield NULL dims instead of failing the batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs = [], [], []
            for payload in pdf["payload"]:
                f, w, h = parse_image_header(bytes(payload or b""))
                fmts.append(f)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": pd.Series(fmts, dtype="object"),
                    "width": pd.Series(ws, dtype="object"),
                    "height": pd.Series(hs, dtype="object"),
                }
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, IMAGE_META_SCHEMA)


WAV_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_samples", LongType()),
    ]
)


def synth_wav(
    sample_rate: int, channels: int, bits: int, n_samples: int, junk: bool = False
) -> bytes:
    """Canonical little-endian PCM WAV container (RIFF/WAVE + fmt +
    data chunks; zeroed sample data). ``junk=True`` inserts a LIST
    chunk before fmt so parsers that assume fmt at offset 12 fail —
    the parser below must actually WALK chunks."""
    import struct

    block = channels * bits // 8
    data = b"\x00" * (n_samples * block)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits
    )
    chunks = b""
    if junk:
        chunks += b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav_header(b: bytes):
    """REAL (not stubbed) RIFF/WAVE container parsing — the audio
    counterpart of ``parse_image_header``: pure byte peeking over the
    chunk list, no codec. Walks chunks (word-aligned, per the RIFF
    spec) to the PCM ``fmt `` chunk and the ``data`` chunk; returns
    (format, sample_rate, channels, bits, n_samples), all-None for
    non-WAV / truncated / corrupt payloads."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None, None, None, None, None
    rate = ch = bits = None
    data_len = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        (clen,) = struct.unpack("<I", b[i + 4 : i + 8])
        body = b[i + 8 : i + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            # a truncated file may declare more data than present;
            # report what the header claims (ingest validation compares
            # against actual length separately)
            data_len = clen
        i += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if rate is None or data_len is None or ch in (None, 0) or not bits:
        return None, None, None, None, None
    # hostile/corrupt fmt values must yield NULLs, not a failed Arrow
    # batch: rate is uint32 on disk but the output schema is int32
    # (review fix), and a zero block size would divide by zero
    if not (0 < rate < 2**31) or bits % 8 != 0:
        return None, None, None, None, None
    block = ch * bits // 8
    n_samples = data_len // block if block else None
    return "wav", rate, ch, bits, n_samples


def audio_metadata(media: DataFrame) -> DataFrame:
    """Per-media WAV container metadata via Arrow-batched
    ``mapInPandas`` — same plumbing contract as ``image_metadata``:
    unknown payloads yield NULL fields, never a failed batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("format", "sample_rate", "channels", "bits", "n_samples")}
            for payload in pdf["payload"]:
                f, r, c, w, n = parse_wav_header(bytes(payload or b""))
                out["format"].append(f)
                out["sample_rate"].append(r)
                out["channels"].append(c)
                out["bits"].append(w)
                out["n_samples"].append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    **{k: pd.Series(v, dtype="object") for k, v in out.items()},
                }
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, WAV_META_SCHEMA)


MP4_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("timescale", IntegerType()),
        StructField("duration", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def synth_mp4(
    timescale: int, duration: int, width: int, height: int, junk: bool = False
) -> bytes:
    """Minimal ISO-BMFF (MP4) container: ``ftyp`` + ``moov`` holding a
    version-0 ``mvhd`` (timescale/duration) and one ``trak``/``tkhd``
    (16.16 fixed-point width/height). No media data — the container
    skeleton real ingest metadata scans read. ``junk=True`` inserts a
    ``free`` box before ``moov`` AND an ``udta`` box inside it before
    the real children, so parsers that assume fixed offsets fail — the
    parser below must actually walk nested boxes."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + b"\x00" * 36  # identity matrix slot (zeroed — metadata only)
        + b"\x00" * 24  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"  # version 0 + enabled flags
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer/group/volume/rsvd
        + b"\x00" * 36
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    trak = box(b"trak", tkhd)
    children = (box(b"udta", b"") if junk else b"") + mvhd + trak
    moov = box(b"moov", children)
    return ftyp + (box(b"free", b"\x00" * 8) if junk else b"") + moov


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the ISO-BMFF boxes in
    ``b[start:end]``; stops cleanly on truncation/corruption (size 1
    64-bit boxes and size 0 to-end boxes included, per spec)."""
    import struct

    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", b[i : i + 4])
        btype = b[i + 4 : i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                return
            (size,) = struct.unpack(">Q", b[i + 8 : i + 16])
            body = i + 16
        elif size == 0:  # box extends to the end of the file
            size = end - i
        if size < 8 or i + size > end:
            return  # corrupt/truncated: stop, report what was seen
        yield btype, body, i + size
        i += size


def parse_mp4_header(b: bytes):
    """REAL (not stubbed) ISO-BMFF container parsing — the video
    counterpart of ``parse_wav_header``: pure byte peeking over the
    nested box tree, no codec. Requires an ``ftyp`` box, then walks
    ``moov`` → ``mvhd`` (timescale, duration; versions 0 and 1) and
    ``moov`` → ``trak`` → ``tkhd`` (16.16 fixed-point width/height).
    Returns (format, timescale, duration, width, height); all-None for
    non-MP4 / truncated / corrupt payloads."""
    import struct

    if len(b) < 12 or b[4:8] != b"ftyp":
        return None, None, None, None, None
    timescale = duration = width = height = None
    for btype, s, e in _walk_boxes(b, 0, len(b)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _walk_boxes(b, s, e):
            if ctype == b"mvhd" and ce - cs >= 4:
                ver = b[cs]
                if ver == 0 and ce - cs >= 20:
                    timescale, duration = struct.unpack(
                        ">II", b[cs + 12 : cs + 20]
                    )
                elif ver == 1 and ce - cs >= 28:
                    (timescale,) = struct.unpack(">I", b[cs + 20 : cs + 24])
                    (duration,) = struct.unpack(">Q", b[cs + 24 : cs + 32])
            elif ctype == b"trak":
                for ttype, ts, te in _walk_boxes(b, cs, ce):
                    # width/height CLOSE the box in both tkhd versions
                    # (v1 only widens the leading time fields), so the
                    # end-relative offset needs no version branch
                    if ttype == b"tkhd" and te - ts >= 84:
                        w_fx, h_fx = struct.unpack(">II", b[te - 8 : te])
                        if width is None:
                            width, height = w_fx >> 16, h_fx >> 16
    if timescale in (None, 0) or duration is None:
        return None, None, None, None, None
    if not (0 < timescale < 2**31):
        return None, None, None, None, None
    return "mp4", timescale, duration, width, height


def video_metadata(media: DataFrame) -> DataFrame:
    """Per-media MP4 container metadata via Arrow-batched
    ``mapInPandas`` — same plumbing contract as ``image_metadata`` /
    ``audio_metadata``: unknown payloads yield NULL fields, never a
    failed batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("format", "timescale", "duration", "width", "height")}
            for payload in pdf["payload"]:
                f, t, d, w, h = parse_mp4_header(bytes(payload or b""))
                out["format"].append(f)
                out["timescale"].append(t)
                out["duration"].append(d)
                out["width"].append(w)
                out["height"].append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    **{k: pd.Series(v, dtype="object") for k, v in out.items()},
                }
            )

    from ontario_spark.operators.textops import spread

    return spread(media).mapInPandas(kernel, MP4_META_SCHEMA)
