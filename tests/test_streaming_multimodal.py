"""Structured Streaming extraction + multimodal media plumbing."""

from __future__ import annotations

import os
import shutil
import struct
import tempfile

import pytest

from tests.conftest import SF_DIR


def test_stream_matches_batch(spark):
    """availableNow stream over the documents parquet must produce the
    exact rows the batch path produces (same operators, same results)."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.operators.extract_spans import extract
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.streaming.stream_extract import start_stream

    with tempfile.TemporaryDirectory() as tmp:
        in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(in_dir)
        shutil.copy(f"{SF_DIR}/documents.parquet", f"{in_dir}/part-000.parquet")

        q = start_stream(spark, in_dir, out_dir, ckpt, available_now=True)
        q.awaitTermination(120)

        got = spark.read.parquet(out_dir)
        want = extract(
            derive_spans(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
        )
        assert got.count() == want.count()
        g = got.select("doc_id", "document_md5_sum", "span_count")
        w = want.select("doc_id", "document_md5_sum", "span_count")
        assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0

        # restart with no new files: checkpoint makes it a no-op (no dupes)
        q2 = start_stream(spark, in_dir, out_dir, ckpt, available_now=True)
        q2.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == want.count()


def _png(w: int, h: int) -> bytes:
    return b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + struct.pack(">II", w, h)


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h)


def _wav(channels: int, rate: int) -> bytes:
    return (
        b"RIFF" + b"\x00" * 4 + b"WAVE" + b"fmt " + b"\x00" * 6
        + struct.pack("<H", channels) + struct.pack("<I", rate)
    )


def test_media_feature_extraction(spark):
    from azure_pdf_parser_spark.operators.multimodal import extract_media_features

    rows = [
        ("m1", "image", _png(640, 480)),
        ("m2", "image", _gif(32, 16)),
        ("m3", "audio", _wav(2, 44100)),
        ("m4", "image", b"\xff\xd8\xff\xe0" + b"\x00" * 4),  # jpeg, no SOF
        ("m5", "image", b"not media at all"),
    ]
    df = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary"
    )
    got = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert (got["m1"]["format"], got["m1"]["width"], got["m1"]["height"]) == ("png", 640, 480)
    assert (got["m2"]["format"], got["m2"]["width"], got["m2"]["height"]) == ("gif", 32, 16)
    assert (got["m3"]["format"], got["m3"]["width"], got["m3"]["height"]) == ("wav", 2, 44100)
    assert got["m4"]["format"] == "jpeg" and got["m4"]["width"] is None
    assert got["m5"]["format"] is None and got["m5"]["status"] == "ok"


def test_media_decode_stub_and_fake(spark):
    from azure_pdf_parser_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [("m1", "image", _png(8, 8))],
        "media_ref string, media_type string, content binary",
    )
    # without a decoder: quarantined NotImplementedError, task survives
    got = mm.decode_media(df).collect()[0]
    assert got["status"] == "failed" and "NotImplementedError" in got["error"]

    # with the deterministic fake: frame fan-out works end to end
    mm.FAKE_DECODER = lambda content: {
        "frames": [[float(len(content)), 1.0], [2.0, 3.0], [4.0, 5.0]]
    }
    try:
        rows = mm.decode_media(df, frame_stride=2).collect()
        assert [(r["frame_index"], r["features"]) for r in rows] == [
            (0, [float(len(_png(8, 8))), 1.0]),
            (1, [4.0, 5.0]),
        ]
    finally:
        mm.FAKE_DECODER = None


def test_video_header_parse_and_quarantine(spark):
    """The RIFF-AVI chunk walk parses the synthesized header exactly;
    truncated / non-AVI bytes quarantine in frame_sample (no rows for
    that video, task survives)."""
    import struct

    from azure_pdf_parser_spark.operators import multimodal as mm

    avih = struct.pack(
        "<IIIIIIII", 2000, 0, 0, 0, 24, 0, 1, 0
    ) + struct.pack("<II", 320, 240) + b"\x00" * 16
    blob = (
        b"RIFF" + struct.pack("<I", 80) + b"AVI "
        + b"LIST" + struct.pack("<I", 68) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih
    )
    assert mm.sniff_format(blob) == "avi"
    assert mm.video_header(blob) == (2000, 24, 320, 240)
    assert mm.video_header(blob[:40]) is None
    assert mm.video_header(b"RIFF\x00\x00\x00\x00WAVE") is None

    media = spark.createDataFrame(
        [("v1", bytearray(blob)), ("bad", bytearray(b"not a video"))],
        "media_ref string, content binary",
    )
    rows = mm.frame_sample(media, stride=10).collect()
    assert {r["media_ref"] for r in rows} == {"v1"}
    got = {(r["frame_index"], r["t_ms"]) for r in rows}
    # 24 frames @ 2000 usec: sampled 0, 10, 20 → 0 ms, 20 ms, 40 ms
    assert got == {(0, 0), (10, 20), (20, 40)}
    assert all((r["width"], r["height"]) == (320, 240) for r in rows)


def test_audio_header_parse_and_quarantine(spark):
    """The 44-byte WAV header parse yields (channels, rate, bits,
    n_samples); truncated clips and headerless bytes quarantine in
    window_sample."""
    import struct

    from azure_pdf_parser_spark.operators import multimodal as mm

    blob = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 2, 16000, 16000 * 4, 4, 16)
        + b"data" + struct.pack("<I", 5000 * 4)
    )
    assert mm.sniff_format(blob) == "wav"
    assert mm.audio_header(blob) == (2, 16000, 16, 5000)
    assert mm.audio_header(blob[:30]) is None

    media = spark.createDataFrame(
        [("a1", bytearray(blob)), ("bad", bytearray(b"noise"))],
        "media_ref string, content binary",
    )
    rows = mm.window_sample(media, stride_samples=2048).collect()
    assert {r["media_ref"] for r in rows} == {"a1"}
    got = {(r["window_index"], r["start_sample"]) for r in rows}
    assert got == {(0, 0), (1, 2048), (2, 4096)}
    assert all((r["channels"], r["sample_rate"]) == (2, 16000) for r in rows)


def test_media_exact_dedup_clusters_identical_payloads(spark):
    from azure_pdf_parser_spark.operators.multimodal import media_exact_dedup

    media = spark.createDataFrame(
        [("media://b", "image", bytes([1, 2, 3])),
         ("media://a", "image", bytes([1, 2, 3])),   # same payload
         ("media://c", "image", bytes([9])),
         ("media://0", "image", None),               # no payload
         ("media://1", "image", None)],
        "media_ref string, media_type string, content binary",
    )
    got = {
        r["canonical_media_ref"]: (r["n_copies"], r["bytes_total"])
        for r in media_exact_dedup(media).collect()
    }
    # canonical = min ref; bytes_total sums every copy; NULL-content
    # rows are dropped, never clustered as copies of each other
    assert got == {"media://a": (2, 6), "media://c": (1, 1)}


def test_media_exact_dedup_matches_python_reference(spark):
    """Randomized model test: seeded random payload table with
    deliberate collisions, clusters checked against a pure-Python
    hash-group reference."""
    import hashlib
    import random

    from azure_pdf_parser_spark.operators.multimodal import media_exact_dedup

    rng = random.Random(41)
    payloads = [bytes(rng.randbytes(rng.randint(0, 16))) for _ in range(12)]
    rows = [
        (f"media://{i:04d}", "image", rng.choice(payloads))
        for i in range(300)
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary"
    )

    ref: dict = {}
    for ref_id, _, content in rows:
        key = hashlib.md5(content).hexdigest()
        cur = ref.setdefault(key, [None, 0, 0])
        cur[0] = ref_id if cur[0] is None else min(cur[0], ref_id)
        cur[1] += 1
        cur[2] += len(content)
    expected = {tuple(v) for v in ref.values()}

    got = {
        (r["canonical_media_ref"], r["n_copies"], r["bytes_total"])
        for r in media_exact_dedup(media).collect()
    }
    assert got == expected
    # copy counts conserve the table; distinct payloads bound clusters
    assert sum(c for _, c, _ in got) == len(rows)
    assert len(got) <= len(payloads)
