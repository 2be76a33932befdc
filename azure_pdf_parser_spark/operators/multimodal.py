"""Multimodal columns: opaque binary media + typed metadata.

Interleaved documents carry media spans as references; the media bytes
themselves live in a side table ``media(media_ref, media_type, content
binary)``. This module gives the Spark-side plumbing for media
processing — schema, batch shape, partitioning, UDF signatures — with
the actual codec work stubbed: image/audio libraries are not installed
in this container, so decode raises NotImplementedError unless a
deterministic fake is injected (the documented seam for tests), while
header-level feature extraction (magic sniffing, PNG/JPEG/GIF/WAV
dimensions) is real pure-Python byte parsing.

Everything runs in ``mapInPandas`` over Arrow batches: binary columns
arrive zero-copy as pandas bytes objects, one Python invocation per
batch. At 100 TB the media table is the heavy side — partition by
media_ref hash, never by media_type (three giant skewed groups).
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame

MEDIA_FEATURES_SCHEMA = (
    "media_ref string, media_type string, n_bytes long, "
    "format string, width int, height int, status string, error string"
)

# test seam: full decode (pixels/samples) — not available in this container
FAKE_DECODER: Optional[Callable[[bytes], dict]] = None


def sniff_format(content: bytes) -> str | None:
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if content[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        return "avi"
    if content[:4] == b"%PDF":
        return "pdf"
    return None


def video_header(content: bytes) -> tuple[int, int, int, int] | None:
    """(usec_per_frame, total_frames, width, height) from a RIFF-AVI
    main header (`avih`) — real byte-level chunk walk, no codec libs.
    Returns None when the hdrl LIST / avih chunk is absent or short."""
    if sniff_format(content) != "avi":
        return None
    if content[12:16] != b"LIST" or content[20:24] != b"hdrl":
        return None
    if content[24:28] != b"avih" or len(content) < 32 + 56:
        return None
    avih = content[32 : 32 + 56]
    usec = _struct.unpack("<I", avih[0:4])[0]
    total = _struct.unpack("<I", avih[16:20])[0]
    width = _struct.unpack("<I", avih[32:36])[0]
    height = _struct.unpack("<I", avih[36:40])[0]
    return int(usec), int(total), int(width), int(height)


def header_dimensions(fmt: str, content: bytes) -> tuple[int | None, int | None]:
    """Width/height (or channels/sample-rate for wav) from file headers —
    real byte-level parsing, no codec libraries."""
    try:
        if fmt == "png" and len(content) >= 24:
            w, h = _struct.unpack(">II", content[16:24])
            return int(w), int(h)
        if fmt == "gif" and len(content) >= 10:
            w, h = _struct.unpack("<HH", content[6:10])
            return int(w), int(h)
        if fmt == "jpeg":
            i = 2
            while i + 9 < len(content):
                if content[i] != 0xFF:
                    break
                marker = content[i + 1]
                seg_len = _struct.unpack(">H", content[i + 2 : i + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                    h, w = _struct.unpack(">HH", content[i + 5 : i + 9])
                    return int(w), int(h)
                i += 2 + seg_len
        if fmt == "wav" and len(content) >= 28:
            channels = _struct.unpack("<H", content[22:24])[0]
            rate = _struct.unpack("<I", content[24:28])[0]
            return int(channels), int(rate)
        if fmt == "avi":
            hdr = video_header(content)
            if hdr is not None:
                return hdr[2], hdr[3]
    except Exception:
        return None, None
    return None, None


def extract_media_features(media: DataFrame) -> DataFrame:
    """(media_ref, media_type, content) → header-level features.

    Vectorized mapInPandas; per-item failures quarantine, the task
    survives (same error-channel contract as the document parse stage).
    """
    fake_decoder = FAKE_DECODER  # captured for executor shipping

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, mtype, content in zip(
                b["media_ref"], b["media_type"], b["content"]
            ):
                try:
                    data = bytes(content) if content is not None else b""
                    fmt = sniff_format(data)
                    w, h = header_dimensions(fmt, data) if fmt else (None, None)
                    out.append((ref, mtype, len(data), fmt, w, h, "ok", None))
                except Exception as e:
                    out.append(
                        (ref, mtype, None, None, None, None, "failed",
                         f"{type(e).__name__}: {e}")
                    )
            yield pd.DataFrame(
                out,
                columns=["media_ref", "media_type", "n_bytes", "format",
                         "width", "height", "status", "error"],
            )

    return media.mapInPandas(run, schema=MEDIA_FEATURES_SCHEMA)


def synth_media(spans_df: DataFrame, fmt: str = "png") -> DataFrame:
    """Deterministic media table from the corpus' media spans.

    For each ``figure`` span (media_ref = 'media://' || h), synthesizes
    a REAL header blob in the requested format — PNG/GIF/JPEG image
    headers with ``width = 16·(nib1(h)+1)``, ``height = 16·(nib2(h)+1)``
    from the hash nibbles, or a WAV RIFF header whose channel count /
    sample rate derive from the same nibbles. The blob is built JVM-side
    with unhex/lpad (no Python), and round-trips through the REAL
    byte-level sniffing in :func:`extract_media_features`, so the
    mapInPandas plumbing is exercised end-to-end against a SQL oracle
    that predicts the parsed dimensions from the same nibbles. Each
    format exercises a distinct endianness/segment-walk code path:
    PNG big-endian u32, GIF little-endian u16, JPEG SOF0 marker walk,
    WAV RIFF chunk offsets.
    """
    from pyspark.sql import functions as F

    # explode_outer: a plain explode gets an inferred size(spans)>0
    # filter that re-evaluates the span-derivation tree (measured 9×)
    spans = spans_df.select(F.explode_outer("spans").alias("s")).where(
        F.col("s").isNotNull() & (F.col("s.kind") == "figure")
    )
    h = F.substring(F.col("s.media_ref"), 9, 32)

    def nib(i: int):
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1

    def hex_be16(col):
        return F.lpad(F.hex(col), 4, "0")

    def hex_le16(col):
        be = hex_be16(col)
        return F.concat(F.substring(be, 3, 2), F.substring(be, 1, 2))

    def hex_le32(col):
        be = F.lpad(F.hex(col), 8, "0")
        return F.concat(
            F.substring(be, 7, 2), F.substring(be, 5, 2),
            F.substring(be, 3, 2), F.substring(be, 1, 2),
        )

    width = (16 * (nib(1) + 1)).cast("int")
    height = (16 * (nib(2) + 1)).cast("int")
    if fmt == "png":
        media_type = "image"
        hex_blob = F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),  # PNG magic + IHDR
            F.lpad(F.hex(width), 8, "0"),
            F.lpad(F.hex(height), 8, "0"),
        )
    elif fmt == "gif":
        media_type = "image"
        # GIF89a magic + logical-screen width/height (little-endian u16)
        hex_blob = F.concat(
            F.lit("474946383961"), hex_le16(width), hex_le16(height)
        )
    elif fmt == "jpeg":
        media_type = "image"
        # SOI + SOF0 marker (len 0x11, precision 8) + height + width
        # (big-endian u16, height first — JPEG quirk) + 1 pad byte so the
        # segment walk's i+9 < len guard holds
        hex_blob = F.concat(
            F.lit("FFD8FFC0001108"),
            hex_be16(height), hex_be16(width), F.lit("00"),
        )
    elif fmt == "avi":
        media_type = "video"
        total_frames = (8 * (nib(3) + 1)).cast("int")
        usec_per_frame = (1000 * (nib(4) + 1)).cast("int")
        # RIFF(sz 80) "AVI " LIST(sz 68) "hdrl" avih(cb 56) + the 56-byte
        # main header: usec/frame, ..., total frames @+16, ..., width @+32,
        # height @+36, 16 reserved bytes — the canonical minimal AVI head
        hex_blob = F.concat(
            F.lit("5249464650000000"),              # "RIFF" + size 80 LE
            F.lit("41564920"),                      # "AVI "
            F.lit("4C49535444000000"),              # "LIST" + size 68 LE
            F.lit("6864726C"),                      # "hdrl"
            F.lit("6176696838000000"),              # "avih" + cb 56 LE
            hex_le32(usec_per_frame),
            F.lit("00000000" * 3),                  # maxbytes/padding/flags
            hex_le32(total_frames),
            F.lit("00000000"),                      # initial frames
            F.lit("01000000"),                      # streams = 1
            F.lit("00000000"),                      # suggested buffer
            hex_le32(width), hex_le32(height),
            F.lit("00000000" * 4),                  # reserved
        )
    elif fmt == "wav":
        media_type = "audio"
        channels = (nib(1) % 2 + 1).cast("int")
        rate = (8000 * (nib(2) + 1)).cast("int")
        # RIFF size WAVE "fmt " chunklen=16 audiofmt=1(PCM) + channels
        # (LE u16) + sample rate (LE u32) — the canonical 28-byte prefix
        hex_blob = F.concat(
            F.lit("5249464618000000"),          # "RIFF" + size 24 LE
            F.lit("57415645666D7420"),          # "WAVE" + "fmt "
            F.lit("10000000"), F.lit("0100"),   # chunk len 16 LE, PCM
            hex_le16(channels), hex_le32(rate),
        )
    elif fmt == "wav_full":
        media_type = "audio"
        channels = (nib(1) % 2 + 1).cast("int")
        rate = (8000 * (nib(2) + 1)).cast("int")
        n_samples = (4000 * (nib(3) + 1)).cast("int")
        # complete canonical header: full 16-byte fmt chunk (byte rate,
        # block align, 16 bits/sample) + the data chunk header carrying
        # the payload size — header-only blob (44 bytes), the sample
        # payload itself is not needed for window-plan math
        block_align = (channels * 2).cast("int")
        hex_blob = F.concat(
            F.lit("5249464624000000"),          # "RIFF" + size 36 LE
            F.lit("57415645666D7420"),          # "WAVE" + "fmt "
            F.lit("10000000"), F.lit("0100"),   # chunk len 16 LE, PCM
            hex_le16(channels), hex_le32(rate),
            hex_le32(rate * block_align),       # byte rate
            hex_le16(block_align),
            F.lit("1000"),                      # 16 bits/sample LE
            F.lit("64617461"),                  # "data"
            hex_le32(n_samples * block_align),  # data chunk size
        )
    else:
        raise ValueError(f"unknown synth format: {fmt}")
    return spans.select(
        F.col("s.media_ref").alias("media_ref"),
        F.lit(media_type).alias("media_type"),
        F.unhex(hex_blob).alias("content"),
    )


# Oracle: what extract_media_features(synth_media(...)) must produce,
# predicted straight from the hash nibbles (the h after 'media://').
def media_exact_dedup(media: DataFrame) -> DataFrame:
    """Exact media-blob dedup by content hash — the binary twin of
    operators/dedup.py's exact text dedup, and the store-once/
    reference-many pass a multimodal pipeline runs before any decode
    or embedding work (logos, icons and boilerplate images repeat
    across a crawl constantly; deduping payloads first removes that
    multiple from every downstream GPU stage).

    One row per distinct payload:
    ``(canonical_media_ref = min ref, n_copies, bytes_total)``.
    Rows with NULL ``content`` have no payload to compare, so they are
    dropped before grouping: they are copies of nothing. Grouping key
    is ``md5(content)`` — md5-uniform, so the single shuffle is
    skew-free and the aggregation is map-side partial (plan-pinned).
    The oracle cannot hash blobs (DuckDB md5 is VARCHAR-only), but the
    synth PNG payload is a pure function of two hash nibbles, so it
    predicts the identical clustering by nibble pair and the compared
    rows prove the partition."""
    from pyspark.sql import functions as F

    return (
        media.where(F.col("content").isNotNull())
        .groupBy(F.md5("content").alias("content_md5"))
        .agg(
            F.min("media_ref").alias("canonical_media_ref"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.sum(F.length("content")).cast("bigint").alias("bytes_total"),
        )
        .select("canonical_media_ref", "n_copies", "bytes_total")
    )


# Oracle: the synth PNG blob is a pure function of nibbles 1-2 of the
# hash, so clusters-by-content == clusters-by-nibble-pair, 24 bytes per
# blob (16-byte magic+IHDR prefix + u32 width + u32 height).
MEDIA_EXACT_DEDUP_SQL = """
SELECT min(media_ref) AS canonical_media_ref,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(*) * 24 AS BIGINT) AS bytes_total
FROM spanize WHERE kind = 'figure'
GROUP BY substr(media_ref, 9, 1), substr(media_ref, 10, 1)
"""


MEDIA_FEATURES_SQL = """
SELECT media_ref,
       'image' AS media_type,
       CAST(24 AS BIGINT) AS n_bytes,
       'png' AS format,
       CAST(16 * instr('0123456789abcdef', substr(media_ref, 9, 1)) AS INT) AS width,
       CAST(16 * instr('0123456789abcdef', substr(media_ref, 10, 1)) AS INT) AS height,
       'ok' AS status
FROM spanize
WHERE kind = 'figure'
"""

# Same prediction for the other header formats: GIF/JPEG share the PNG
# dimension formula (different byte encodings, same nibble source); WAV
# maps (channels, sample_rate) into the (width, height) feature slots.
_MEDIA_SQL_TEMPLATE = """
SELECT media_ref,
       '{media_type}' AS media_type,
       CAST({n_bytes} AS BIGINT) AS n_bytes,
       '{fmt}' AS format,
       CAST({width} AS INT) AS width,
       CAST({height} AS INT) AS height,
       'ok' AS status
FROM spanize
WHERE kind = 'figure'
"""
_NIB1 = "(instr('0123456789abcdef', substr(media_ref, 9, 1)) - 1)"
_NIB2 = "(instr('0123456789abcdef', substr(media_ref, 10, 1)) - 1)"
MEDIA_FEATURES_GIF_SQL = _MEDIA_SQL_TEMPLATE.format(
    media_type="image", n_bytes=10, fmt="gif",
    width=f"16 * ({_NIB1} + 1)", height=f"16 * ({_NIB2} + 1)",
)
MEDIA_FEATURES_JPEG_SQL = _MEDIA_SQL_TEMPLATE.format(
    media_type="image", n_bytes=12, fmt="jpeg",
    width=f"16 * ({_NIB1} + 1)", height=f"16 * ({_NIB2} + 1)",
)
MEDIA_FEATURES_WAV_SQL = _MEDIA_SQL_TEMPLATE.format(
    media_type="audio", n_bytes=28, fmt="wav",
    width=f"{_NIB1} % 2 + 1", height=f"8000 * ({_NIB2} + 1)",
)


PDF_MEDIA_SCHEMA = (
    "doc_id string, media_ref string, media_type string, content binary"
)


def extract_pdf_media(raw: DataFrame) -> DataFrame:
    """(doc_id, content binary) → one row per embedded image XObject:
    (doc_id, media_ref, media_type, content).

    Bridges raw PDFs into the media pipeline: the transport filters are
    undone in functions/pdf.py::pdf_media_payloads and the codec payload
    (e.g. the JPEG file inside a /DCTDecode stream) flows straight into
    :func:`extract_media_features`. Vectorized mapInPandas; per-doc
    failures skip-and-continue (reference O17 semantics, run.py:27-39 —
    a malformed PDF must not kill the task)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from azure_pdf_parser_spark.functions.pdf import pdf_media_payloads

        for b in batches:
            out = []
            for doc_id, content in zip(b["doc_id"], b["content"]):
                try:
                    for p in pdf_media_payloads(bytes(content)):
                        out.append(
                            (doc_id, p["media_ref"], p["media_type"],
                             p["content"])
                        )
                except Exception:
                    continue
            yield pd.DataFrame(
                out, columns=["doc_id", "media_ref", "media_type", "content"]
            )

    return raw.mapInPandas(run, schema=PDF_MEDIA_SCHEMA)


DECODED_SCHEMA = (
    "media_ref string, frame_index int, features array<float>, "
    "status string, error string"
)


def decode_media(media: DataFrame, frame_stride: int = 1) -> DataFrame:
    """Full decode / frame-sample / feature-extract.

    STUB: pixel/sample decoding needs codec libraries absent from this
    container. The Spark plumbing (Arrow batch iteration, 1→N frame
    fan-out, error channel, schema) is real and tested via FAKE_DECODER;
    without a decoder every row quarantines with NotImplementedError.
    """
    fake_decoder = FAKE_DECODER

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, content in zip(b["media_ref"], b["content"]):
                try:
                    if fake_decoder is None:
                        raise NotImplementedError(
                            "media decode requires codec libraries not "
                            "installed in this environment"
                        )
                    decoded = fake_decoder(bytes(content))
                    frames = decoded["frames"][::frame_stride]
                    for idx, feats in enumerate(frames):
                        out.append((ref, idx, list(map(float, feats)), "ok", None))
                except Exception as e:
                    out.append(
                        (ref, None, None, "failed", f"{type(e).__name__}: {e}")
                    )
            yield pd.DataFrame(
                out,
                columns=["media_ref", "frame_index", "features", "status", "error"],
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


FRAME_PLAN_SCHEMA = (
    "media_ref string, usec_per_frame int, total_frames int, "
    "width int, height int, status string, error string"
)


def frame_sample(media: DataFrame, stride: int = 10) -> DataFrame:
    """Every ``stride``-th frame of each video: (media_ref, frame_index,
    t_ms, width, height).

    Two stages, the standard shape for frame work at corpus scale:

    1. HEADER PARSE (mapInPandas, real bytes): the RIFF/avih chunk walk
       yields frame count + timing per video — tiny output rows, one
       per video, failures quarantine without killing the task.
    2. FRAME FAN-OUT (JVM-side): ``sequence(0, total-1, stride)``
       exploded into one row per sampled frame with its exact
       timestamp — pure codegen, no Python in the 1→N expansion, so a
       10^9-video corpus fans out to 10^11 frame rows without an
       Arrow round-trip per frame.

    Decoding the sampled frames is the codec seam — route the (media_ref,
    frame_index) plan rows into :func:`decode_media` (stubbed here:
    FAKE_DECODER-tested plumbing, NotImplementedError without codecs).
    """
    from pyspark.sql import functions as F

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, content in zip(b["media_ref"], b["content"]):
                try:
                    hdr = video_header(bytes(content) if content is not None else b"")
                    if hdr is None:
                        out.append((ref, None, None, None, None, "failed",
                                    "not a RIFF-AVI video"))
                        continue
                    usec, total, w, h = hdr
                    out.append((ref, usec, total, w, h, "ok", None))
                except Exception as e:
                    out.append((ref, None, None, None, None, "failed",
                                f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(
                out,
                columns=["media_ref", "usec_per_frame", "total_frames",
                         "width", "height", "status", "error"],
            )

    plan = media.mapInPandas(run, schema=FRAME_PLAN_SCHEMA)
    ok = plan.where(F.col("status") == "ok")
    frames = ok.select(
        "media_ref", "usec_per_frame", "width", "height",
        F.explode(
            F.sequence(
                F.lit(0), F.col("total_frames") - 1, F.lit(int(stride))
            )
        ).alias("frame_index"),
    )
    return frames.select(
        "media_ref",
        F.col("frame_index").cast("int").alias("frame_index"),
        (F.col("frame_index").cast("bigint") * F.col("usec_per_frame") / 1000)
        .cast("bigint")
        .alias("t_ms"),
        "width",
        "height",
    )


_NIB3 = "(instr('0123456789abcdef', substr(media_ref, 11, 1)) - 1)"
_NIB4 = "(instr('0123456789abcdef', substr(media_ref, 12, 1)) - 1)"

# Oracle for frame_sample over synth_media(fmt='avi'): the sampled frame
# grid and exact timestamps predicted straight from the hash nibbles
# (total_frames = 8*(nib3+1), usec/frame = 1000*(nib4+1) → t_ms =
# frame_index * (nib4+1)).
MEDIA_FRAME_SAMPLE_SQL = f"""
SELECT media_ref,
       CAST(t.f AS INT) AS frame_index,
       CAST(t.f * ({_NIB4} + 1) AS BIGINT) AS t_ms,
       CAST(16 * ({_NIB1} + 1) AS INT) AS width,
       CAST(16 * ({_NIB2} + 1) AS INT) AS height
FROM spanize
CROSS JOIN LATERAL (
    SELECT UNNEST(range(0, 8 * ({_NIB3} + 1), {{stride}})) AS f
) t
WHERE kind = 'figure'
"""

MEDIA_FEATURES_AVI_SQL = _MEDIA_SQL_TEMPLATE.format(
    media_type="video", n_bytes=88, fmt="avi",
    width=f"16 * ({_NIB1} + 1)", height=f"16 * ({_NIB2} + 1)",
)


def audio_header(content: bytes) -> tuple[int, int, int, int] | None:
    """(channels, sample_rate, bits_per_sample, n_samples) from a
    canonical 44-byte WAV header with a data chunk — real byte parse,
    no audio libraries. None when fmt/data chunks are absent/short."""
    if sniff_format(content) != "wav":
        return None
    if len(content) < 44 or content[12:16] != b"fmt " or content[36:40] != b"data":
        return None
    channels = _struct.unpack("<H", content[22:24])[0]
    rate = _struct.unpack("<I", content[24:28])[0]
    bits = _struct.unpack("<H", content[34:36])[0]
    data_size = _struct.unpack("<I", content[40:44])[0]
    block = channels * (bits // 8)
    if block == 0:
        return None
    return int(channels), int(rate), int(bits), int(data_size // block)


WINDOW_PLAN_SCHEMA = (
    "media_ref string, channels int, sample_rate int, n_samples int, "
    "status string, error string"
)


def window_sample(media: DataFrame, stride_samples: int = 2048) -> DataFrame:
    """Every ``stride_samples``-th analysis window of each audio clip:
    (media_ref, window_index, start_sample, channels, sample_rate) —
    the audio twin of :func:`frame_sample`, same two-stage shape:
    real header parse in mapInPandas (one tiny row per clip, failures
    quarantine), then a pure-codegen 1→N window fan-out. Decoding the
    window payloads is the :func:`decode_media` codec seam."""
    from pyspark.sql import functions as F

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, content in zip(b["media_ref"], b["content"]):
                try:
                    hdr = audio_header(bytes(content) if content is not None else b"")
                    if hdr is None:
                        out.append((ref, None, None, None, "failed",
                                    "not a WAV clip with a data chunk"))
                        continue
                    ch, rate, _bits, n = hdr
                    out.append((ref, ch, rate, n, "ok", None))
                except Exception as e:
                    out.append((ref, None, None, None, "failed",
                                f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(
                out,
                columns=["media_ref", "channels", "sample_rate", "n_samples",
                         "status", "error"],
            )

    plan = media.mapInPandas(run, schema=WINDOW_PLAN_SCHEMA)
    ok = plan.where(F.col("status") == "ok")
    return ok.select(
        "media_ref", "channels", "sample_rate",
        F.explode(
            F.sequence(F.lit(0), F.col("n_samples") - 1, F.lit(int(stride_samples)))
        ).alias("start_sample"),
    ).select(
        "media_ref",
        (F.col("start_sample") / F.lit(int(stride_samples)))
        .cast("int")
        .alias("window_index"),
        F.col("start_sample").cast("int").alias("start_sample"),
        "channels",
        "sample_rate",
    )


# Oracle for window_sample over synth_media(fmt='wav_full'): window grid
# predicted from the nibbles (n_samples = 4000*(nib3+1)).
MEDIA_WINDOW_SAMPLE_SQL = f"""
SELECT media_ref,
       CAST(t.s // {{stride}} AS INT) AS window_index,
       CAST(t.s AS INT) AS start_sample,
       CAST({_NIB1} % 2 + 1 AS INT) AS channels,
       CAST(8000 * ({_NIB2} + 1) AS INT) AS sample_rate
FROM spanize
CROSS JOIN LATERAL (
    SELECT UNNEST(range(0, 4000 * ({_NIB3} + 1), {{stride}})) AS s
) t
WHERE kind = 'figure'
"""
