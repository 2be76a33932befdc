"""Pure-Python oracle of the reference semantics (the spec-in-code).

Re-implements the reference's dataflow operators O1, O3–O15, O19
(SURVEY.md §2) over plain dicts, with the latent quirks preserved:

* O3 offsets only ``bounding_regions[0]`` for paragraphs but *all*
  regions for table cells and tables (reference:
  src/azure_pdf_parser/utils.py:53-77); pages with *falsy* page_number
  (0 or None) are left untouched (utils.py:74-77 ``if page.page_number``).
* O4 takes api_version/model_id from the first batch in the given
  sequence and concatenates in sequence order (utils.py:81-114).
* span keys are ``(length, offset)`` — not (offset, length)
  (convert.py:215, :232).
* O9's ``table_blocks if table_blocks is not [] else None`` is always
  the list (convert.py:156), and O12's ``text_blocks if not None else []``
  is always text_blocks (convert.py:294, :319).
* O14's proportion denominator is len(ALL text blocks) including blocks
  with language None (experimental_base.py:183-191); all-None → None.

The pytest suite runs the Spark operators and asserts equality against
this module — the engine analog of the reference comparing against its
golden JSON fixtures.

Language detection: the reference uses langdetect with a pinned seed
(experimental_base.py:151-152); the engine substitutes the deterministic
stopword heuristic from functions/text.py. This module mirrors that
heuristic in pure Python so both sides agree bit-for-bit.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from typing import Any, Optional, Sequence

DIMENSION_CONVERSION_FACTOR = 72  # inches -> 72-ppi px (reference base.py:4)
DEFAULT_BATCH_SIZE = 50  # reference utils.py:15

BOILERPLATE_KINDS = ("pageHeader", "pageFooter", "pageNumber")


# ---------------------------------------------------------------------------
# Language heuristic (must match functions/text.py::language_expr and
# its language_sql DuckDB mirror — 59 languages, stopword-token counts
# for Latin/Cyrillic profiles, script-block char counts otherwise;
# argmax, ties to the lexicographically smallest code, no signal → None)
# ---------------------------------------------------------------------------


def detect_language(text: Optional[str]) -> Optional[str]:
    from azure_pdf_parser_spark.functions.text import (
        LANG_PROFILES,
        LANGID_SAMPLE_CHARS,
    )

    if text is None:
        return None
    # str.isalpha() is the same Unicode letter category as the \p{L}
    # strip in the Spark/DuckDB mirrors; the sample cap, token-set
    # intersection, and script char counts mirror them too — script
    # chars are counted in the RAW sample, as they are there, so a
    # combining mark or digit inside a script block counts for it
    sample = text[:LANGID_SAMPLE_CHARS]
    cleaned = "".join(ch if ch.isalpha() or ch == " " else " " for ch in sample)
    tokens = set(cleaned.split(" "))
    best_lang, best_score = None, 0
    from azure_pdf_parser_spark.functions.text import MARKER_WEIGHT

    for lang, (kind, payload) in LANG_PROFILES.items():
        if kind == "script":
            lo, hi = payload
            score = sum(1 for ch in sample if lo <= ch <= hi)
        elif kind == "marker_script":
            score = sum(1 for ch in sample if ch in payload) * MARKER_WEIGHT
        else:
            score = len(tokens & set(payload))
        if score > best_score:  # ties keep the earlier (smaller) code
            best_lang, best_score = lang, score
    return best_lang


# ---------------------------------------------------------------------------
# O1: page-batch planning (reference utils.py:117-163 minus the pypdf I/O)
# ---------------------------------------------------------------------------


def plan_batches(n_pages: int, batch_size: Optional[int] = None) -> list[dict]:
    """1-based inclusive page ranges, 0-based batch numbers.

    68 pages @ 12 → 6 batches (1,12)..(61,68) (tests/test_utils.py:221-230);
    batch_size < 1 → ValueError (utils.py:123-124).
    """
    if batch_size is None:
        batch_size = DEFAULT_BATCH_SIZE
    if batch_size < 1:
        raise ValueError("Batch size must be greater than 0.")
    batches = []
    for batch_number, start in enumerate(range(0, n_pages, batch_size)):
        last = min(start + batch_size, n_pages)
        batches.append(
            {
                "batch_number": batch_number,
                "page_range": (start + 1, last),
                "batch_size_max": batch_size,
            }
        )
    return batches


# ---------------------------------------------------------------------------
# O3: page-number propagation (utils.py:35-78)
# ---------------------------------------------------------------------------


def propagate_page_number(batch: dict) -> dict:
    """Mutates and returns batch = {page_range, paragraphs, tables, pages, ...}."""
    page_offset = batch["page_range"][0] - 1
    for paragraph in batch.get("paragraphs") or []:
        if paragraph and paragraph.get("bounding_regions"):
            paragraph["bounding_regions"][0]["page_number"] += page_offset
    for table in batch.get("tables") or []:
        for cell in table["cells"]:
            if cell and cell.get("bounding_regions"):
                for region in cell["bounding_regions"]:
                    region["page_number"] += page_offset
        if table.get("bounding_regions"):
            for region in table["bounding_regions"]:
                region["page_number"] += page_offset
    for page in batch.get("pages") or []:
        if page and page.get("page_number"):  # falsy 0 untouched — quirk kept
            page["page_number"] += page_offset
    return batch


# ---------------------------------------------------------------------------
# O4: ordered batch merge (utils.py:81-114)
# ---------------------------------------------------------------------------


def merge_responses(batches: Sequence[dict]) -> dict:
    batches = [propagate_page_number(b) for b in batches]
    merged: dict[str, Any] = {
        "api_version": batches[0].get("api_version"),
        "model_id": batches[0].get("model_id"),
        "paragraphs": [],
        "tables": [],
        "pages": [],
    }
    for b in batches:
        if b.get("paragraphs"):
            merged["paragraphs"].extend(b["paragraphs"])
        if b.get("tables"):
            merged["tables"].extend(b["tables"])
        merged["pages"].extend(b.get("pages") or [])
    return merged


# ---------------------------------------------------------------------------
# O5/O6: table-cell span harvest + paragraph tagging (convert.py:203-236)
# ---------------------------------------------------------------------------


def get_all_table_cell_spans(result: dict) -> set[tuple[int, int]]:
    spans = set()
    for table in result.get("tables") or []:
        for cell in table["cells"]:
            cs = cell.get("spans")
            if isinstance(cs, list) and len(cs) > 0:
                spans.add((cs[0]["length"], cs[0]["offset"]))
    return spans


def tag_table_paragraphs(result: dict) -> dict:
    if result.get("paragraphs") is None:
        return result
    cell_spans = get_all_table_cell_spans(result)
    for paragraph in result["paragraphs"]:
        # the reference indexes spans[0] unguarded (convert.py:232) — it can
        # never see a None paragraph / empty spans; the engine quarantines
        # nothing here and simply skips them, so the oracle does too
        if not paragraph or not paragraph.get("spans"):
            continue
        key = (paragraph["spans"][0]["length"], paragraph["spans"][0]["offset"])
        if key in cell_spans:
            paragraph["role"] = "TableCell"
    return result


# ---------------------------------------------------------------------------
# O7/O8: paragraph filter + text-block projection (convert.py:31-97)
# ---------------------------------------------------------------------------


def polygon_to_co_ordinates(polygon: Sequence[dict]) -> list[tuple[float, float]]:
    if len(polygon) != 4:
        raise ValueError("Polygon must have exactly four points.")
    return [(p["x"], p["y"]) for p in polygon]


def azure_paragraph_to_text_block(paragraph_id: int, paragraph: dict) -> dict:
    if paragraph.get("bounding_regions") is None:
        raise ValueError("Paragraph must have bounding regions to create text block.")
    region = paragraph["bounding_regions"][0]
    return {
        "coords": [
            (DIMENSION_CONVERSION_FACTOR * x, DIMENSION_CONVERSION_FACTOR * y)
            for x, y in polygon_to_co_ordinates(region["polygon"])
        ],
        "page_number": region["page_number"] - 1,
        "text": [paragraph["content"]],
        "text_block_id": str(paragraph_id),
        "language": None,
        "type": paragraph.get("role") or "Text",
        "type_confidence": 1.0,
    }


def extract_paragraphs(result: dict) -> list[dict]:
    text_blocks = []
    if result.get("paragraphs") is not None:
        for index, paragraph in enumerate(result["paragraphs"]):
            if paragraph is not None and paragraph.get("bounding_regions") is not None:
                text_blocks.append(azure_paragraph_to_text_block(index, paragraph))
    return text_blocks


# ---------------------------------------------------------------------------
# O9: table → table block (convert.py:100-156)
# ---------------------------------------------------------------------------


def azure_table_to_table_block(table: dict, index: int) -> dict:
    return {
        "table_id": str(index),
        "row_count": table["row_count"],
        "column_count": table["column_count"],
        "cells": [
            {
                "cell_type": cell["kind"],
                "row_index": cell["row_index"],
                "column_index": cell["column_index"],
                "row_span": cell["row_span"],
                "column_span": cell["column_span"],
                "content": cell["content"],
                "bounding_regions": [
                    {
                        "page_number": cell["bounding_regions"][0]["page_number"] - 1,
                        "polygon": [
                            {
                                "x": DIMENSION_CONVERSION_FACTOR * p["x"],
                                "y": DIMENSION_CONVERSION_FACTOR * p["y"],
                            }
                            for p in cell["bounding_regions"][0]["polygon"]
                        ],
                    }
                ],
            }
            for cell in table["cells"]
            if (
                cell.get("bounding_regions") is not None
                and cell.get("kind") is not None
                and cell.get("row_span") is not None
                and cell.get("column_span") is not None
            )
        ],
    }


def extract_tables(result: dict) -> list[dict]:
    """Always a list — the reference's `is not []` is always True (convert.py:156)."""
    table_blocks = []
    if result.get("tables") is not None:
        for index, table in enumerate(result["tables"]):
            if table is not None and all(c is not None for c in table["cells"]):
                table_blocks.append(azure_table_to_table_block(table, index))
    return table_blocks


# ---------------------------------------------------------------------------
# O10: page metadata (convert.py:159-200)
# ---------------------------------------------------------------------------


def extract_page_metadata(result: dict) -> list[dict]:
    out = []
    for page in result.get("pages") or []:
        if (
            page.get("width") is not None
            and page.get("height") is not None
            and page.get("page_number") is not None
        ):
            out.append(
                {
                    "page_number": page["page_number"] - 1,
                    "width": page["width"] * DIMENSION_CONVERSION_FACTOR,
                    "height": page["height"] * DIMENSION_CONVERSION_FACTOR,
                }
            )
    return out


# ---------------------------------------------------------------------------
# O13/O14: language detection + doc-language aggregation
# (experimental_base.py:135-192, langdetect replaced by the heuristic)
# ---------------------------------------------------------------------------


def detect_and_set_languages(doc: dict) -> dict:
    blocks = doc["text_blocks"]
    if len(blocks) > 0:
        joined = " ".join(" ".join(b["text"]).strip() for b in blocks)
        detected = detect_language(joined)
        if detected is not None:
            doc["languages"] = [detected]
            for b in blocks:
                b["language"] = detected
    return doc


def set_document_languages_from_text_blocks(
    doc: dict, min_language_proportion: float = 0.4
) -> dict:
    all_langs = [b["language"] for b in doc["text_blocks"]]
    if all(lang is None for lang in all_langs):
        doc["languages"] = None
    else:
        counter = Counter(lang for lang in all_langs if lang is not None)
        doc["languages"] = [
            lang
            for lang, count in counter.items()
            if count / len(all_langs) > min_language_proportion
        ]
    return doc


# ---------------------------------------------------------------------------
# O15: md5 (utils.py:166-168) / O19: coordinate flip (cpr-sdk semantics)
# ---------------------------------------------------------------------------


def calculate_md5_sum(doc_bytes: bytes) -> str:
    return hashlib.md5(doc_bytes).hexdigest()


def vertically_flip_coords(doc: dict) -> dict:
    """y → page_height − y using the (×72) page dims (O19)."""
    dims = {p["page_number"]: (p["width"], p["height"]) for p in doc["page_metadata"]}
    for b in doc["text_blocks"]:
        _, h = dims[b["page_number"]]
        b["coords"] = [(x, h - y) for x, y in b["coords"]]
    return doc


# ---------------------------------------------------------------------------
# O11/O12: validation gate + document assembly (convert.py:239-324)
# ---------------------------------------------------------------------------


def azure_api_response_to_parser_output(
    doc_id: str,
    cdn_object: Optional[str],
    md5_sum: str,
    result: dict,
    experimental_extract_tables: bool = False,
) -> dict:
    if cdn_object is None:
        raise ValueError("Document must have a CDN object. None provided.")
    if not cdn_object.lower().endswith(".pdf"):
        raise ValueError("CDN object must be a PDF.")

    result = tag_table_paragraphs(result)
    text_blocks = extract_paragraphs(result)
    page_metadata = extract_page_metadata(result)

    doc = {
        "doc_id": doc_id,
        "document_md5_sum": md5_sum,
        "languages": None,
        "translated": False,
        "text_blocks": text_blocks,
        "page_metadata": page_metadata,
        "table_blocks": extract_tables(result) if experimental_extract_tables else None,
    }
    doc = detect_and_set_languages(doc)
    doc = set_document_languages_from_text_blocks(doc)
    return doc


# ---------------------------------------------------------------------------
# Spans-table pipeline oracle (the flagship over the input_hint shape)
# ---------------------------------------------------------------------------


def extract_spans_doc(spans: list[dict]) -> dict:
    """Oracle of operators/extract_spans.extract for one document."""
    kept = []
    for s in spans:
        kind = s.get("kind") or "Text"
        if kind in BOILERPLATE_KINDS:
            continue
        kept.append(
            {
                "kind": kind,
                "text": s.get("text"),
                "media_ref": s.get("media_ref"),
                "offset": len(kept),
            }
        )
    doc_text = " ".join(s["text"] for s in kept if s["text"] is not None)
    return {
        "spans": kept,
        "document_md5_sum": hashlib.md5(doc_text.encode()).hexdigest(),
        "language": detect_language(doc_text),
        "span_count": len(kept),
        "translated": False,
        "status": "ok",
    }
