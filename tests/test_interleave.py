"""Behavior tests for the interleaved text+media structure operators.

Hand-built span arrays (not the spanize derivation) so every expected
caption/count is visible in the fixture itself."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_pdf_parser_spark.operators.interleave import (
    interleave_stats,
    media_caption_pairs,
)
from azure_pdf_parser_spark.sources.spanize import SPAN_ARRAY_TYPE


def _spans_df(spark, docs):
    """docs: {doc_id: [(kind, text, media_ref, offset), ...]}"""
    rows = [
        (doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o}
                  for (k, t, m, o) in spans])
        for doc_id, spans in docs.items()
    ]
    return spark.createDataFrame(
        rows, f"doc_id string, spans {SPAN_ARRAY_TYPE}"
    )


def test_caption_pairs_skip_boilerplate_and_handle_edges(spark):
    df = _spans_df(spark, {
        "d1": [
            ("Text", "alpha", None, 0),
            ("figure", None, "media://m1", 6),
            ("pageHeader", "HEADER", None, 12),   # never a caption
            ("Text", "beta", None, 19),
            ("figure", None, "media://m2", 24),
        ],
        # media-first and media-last: NULL on the open side
        "d2": [
            ("figure", None, "media://m3", 0),
            ("footnote", "gamma", None, 1),
        ],
        # no media at all -> no rows
        "d3": [("Text", "delta", None, 0)],
    })
    got = {
        r["media_ref"]: (r["ord"], r["caption_before"], r["caption_after"])
        for r in media_caption_pairs(df).collect()
    }
    assert got == {
        "media://m1": (1, "alpha", "beta"),   # pageHeader skipped
        "media://m2": (4, "beta", None),
        "media://m3": (0, None, "gamma"),     # footnote IS a candidate
    }


def test_caption_pairs_adjacent_media_share_captions(spark):
    df = _spans_df(spark, {
        "d": [
            ("Text", "a", None, 0),
            ("figure", None, "media://x", 2),
            ("figure", None, "media://y", 3),
            ("Text", "b", None, 4),
        ],
    })
    got = {
        r["media_ref"]: (r["caption_before"], r["caption_after"])
        for r in media_caption_pairs(df).collect()
    }
    # a media span is never its own (or its neighbor's) caption
    assert got == {"media://x": ("a", "b"), "media://y": ("a", "b")}


def test_interleave_stats_counts_transitions_and_runs(spark):
    df = _spans_df(spark, {
        # T T M T T T M -> transitions T->M, M->T, T->M = 3; max run 3
        "d1": [
            ("Text", "a", None, 0), ("Text", "b", None, 1),
            ("figure", None, "media://1", 2),
            ("Text", "c", None, 3), ("TableCell", "d", None, 4),
            ("pageFooter", "e", None, 5),
            ("figure", None, "media://2", 6),
        ],
        # all text: 0 transitions, run = n_spans
        "d2": [("Text", "x", None, 0), ("Text", "y", None, 1)],
        # all media: run 0, 0 transitions
        "d3": [("figure", None, "media://3", 0)],
    })
    got = {r["doc_id"]: r.asDict() for r in interleave_stats(df).collect()}
    assert got["d1"] == {
        "doc_id": "d1", "n_spans": 7, "n_media": 2, "n_text": 5,
        "n_transitions": 3, "max_text_run": 3,
        "media_permille": 285,  # floor(2000/7)
    }
    assert got["d2"] == {
        "doc_id": "d2", "n_spans": 2, "n_media": 0, "n_text": 2,
        "n_transitions": 0, "max_text_run": 2, "media_permille": 0,
    }
    assert got["d3"] == {
        "doc_id": "d3", "n_spans": 1, "n_media": 1, "n_text": 0,
        "n_transitions": 0, "max_text_run": 0, "media_permille": 1000,
    }


def test_empty_span_docs_are_excluded(spark):
    df = _spans_df(spark, {"empty": []})
    assert media_caption_pairs(df).count() == 0
    assert interleave_stats(df).count() == 0


def test_interleave_segments_alternating_sequence(spark):
    from azure_pdf_parser_spark.operators.interleave import interleave_segments

    df = _spans_df(spark, {
        # text text | M1 | text | M2 | (trailing text)
        "d1": [
            ("Text", "a", None, 0), ("Text", "b", None, 1),
            ("figure", None, "media://1", 2),
            ("pageHeader", "skip", None, 3),   # boilerplate: no segment text
            ("Text", "c", None, 4),
            ("figure", None, "media://2", 5),
            ("Text", "d", None, 6),
        ],
        # media-first doc, no trailing text: k=1 row dropped
        "d2": [("figure", None, "media://3", 0)],
        # empty middle segment between adjacent media is kept (carries M)
        "d3": [
            ("figure", None, "media://4", 0),
            ("figure", None, "media://5", 1),
            ("Text", "z", None, 2),
        ],
        # no media, no eligible text -> nothing
        "d4": [("pageFooter", "f", None, 0)],
    })
    got = {
        (r["doc_id"], r["segment_id"]): (r["segment_text"], r["next_media_ref"])
        for r in interleave_segments(df).collect()
    }
    assert got == {
        ("d1", 0): ("a b", "media://1"),
        ("d1", 1): ("c", "media://2"),
        ("d1", 2): ("d", None),
        ("d2", 0): (None, "media://3"),
        ("d3", 0): (None, "media://4"),
        ("d3", 1): (None, "media://5"),
        ("d3", 2): ("z", None),
    }


def test_multimodal_pack_greedy_budget(spark):
    from azure_pdf_parser_spark.operators.interleave import multimodal_pack

    df = _spans_df(spark, {
        # costs: 3-word text=3, media=10 with budget 12:
        # [3] acc=3, [10] 3+10>12 -> seq1 acc=10, [3] 10+3>12 -> seq2,
        # [3] acc=6, boilerplate dropped, [10] 6+10>12 -> seq3
        "d": [
            ("Text", "w w w", None, 0),
            ("figure", None, "media://1", 1),
            ("Text", "w w w", None, 2),
            ("Text", "w w w", None, 3),
            ("pageNumber", "9", None, 4),
            ("figure", None, "media://2", 5),
        ],
    })
    rows = sorted(
        (r["ord"], r["kind"], r["cost"], r["seq_id"])
        for r in multimodal_pack(df, budget=12, media_cost=10).collect()
    )
    assert rows == [
        (0, "Text", 3, 0),
        (1, "figure", 10, 1),
        (2, "Text", 3, 2),
        (3, "Text", 3, 2),
        (5, "figure", 10, 3),
    ]


def test_multimodal_pack_oversized_span_own_sequence(spark):
    from azure_pdf_parser_spark.operators.interleave import multimodal_pack

    df = _spans_df(spark, {
        "d": [
            ("Text", "a b c d e", None, 0),   # cost 5 > budget 4
            ("Text", "x", None, 1),
        ],
    })
    rows = sorted(
        (r["ord"], r["cost"], r["seq_id"])
        for r in multimodal_pack(df, budget=4, media_cost=4).collect()
    )
    # oversized first span occupies seq 0 alone; next span opens seq 1
    assert rows == [(0, 5, 0), (1, 1, 1)]


def test_vlm_manifest_joins_captions_to_features(spark):
    from azure_pdf_parser_spark.operators.interleave import vlm_training_manifest

    spans = _spans_df(spark, {
        "d": [
            ("Text", "cap", None, 0),
            ("figure", None, "media://aa", 1),
        ],
        "e": [
            ("Text", "orphan cap", None, 0),
            ("figure", None, "media://nofeat", 1),  # no feature row
        ],
    })
    feats = spark.createDataFrame(
        [("media://aa", "image", "png", 160, 16),
         ("media://zz", "image", "png", 32, 32)],   # unreferenced: dropped
        "media_ref string, media_type string, format string, width int, height int",
    )
    rows = vlm_training_manifest(spans, feats).collect()
    assert len(rows) == 1
    # the documented drop rule: captions without a feature row are absent,
    # and exactly the left_anti rows of the join are dropped
    captions = media_caption_pairs(spans)
    dropped = captions.join(feats, "media_ref", "left_anti")
    assert [r.media_ref for r in dropped.collect()] == ["media://nofeat"]
    assert captions.count() - len(rows) == dropped.count() == 1
    r = rows[0].asDict()
    assert r == {
        "media_ref": "media://aa", "doc_id": "d", "ord": 1,
        "caption_before": "cap", "caption_after": None,
        "media_type": "image", "format": "png", "width": 160, "height": 16,
    }
