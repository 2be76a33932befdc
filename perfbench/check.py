"""Correctness of one committed run, against the Python reference model.

Every committed document must equal ``model.extract_spans_doc`` of its
expected input spans on (kind, text, media_ref, order), md5 and
language; every expected document must appear exactly once through
``plans.manifest.read_parser_output``; and the manifest's ``done`` count
over committed runs must equal the committed output's row count.
"""

from __future__ import annotations

from collections import Counter


class Reference:
    """Expected extract output per doc_id, computed once per input."""

    def __init__(self, expected_spans: dict):
        from azure_pdf_parser_spark.model import extract_spans_doc

        self.docs = {}
        for doc_id, spans in expected_spans.items():
            out = extract_spans_doc(spans)
            self.docs[doc_id] = (
                [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in out["spans"]],
                out["document_md5_sum"],
                out["language"],
            )


def committed_view(spark, output_path: str, manifest_path: str) -> dict:
    """doc_id → list of (spans, md5, language, span_count) rows seen."""
    from azure_pdf_parser_spark.plans.manifest import read_parser_output

    table = (
        read_parser_output(spark, output_path, manifest_path)
        .select("doc_id", "spans", "document_md5_sum", "language", "span_count")
        .toArrow()
    )
    seen: dict = {}
    for row in table.to_pylist():
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        seen.setdefault(row["doc_id"], []).append(
            (spans, row["document_md5_sum"], row["language"], row["span_count"])
        )
    return seen


def manifest_done(spark, manifest_path: str) -> int:
    """Manifest rows with status 'done' over committed runs."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.plans.manifest import committed_run_ids
    from azure_pdf_parser_spark.schemas import MANIFEST

    if not committed_run_ids(manifest_path):
        return 0
    return (
        spark.read.schema(MANIFEST).parquet(manifest_path)
        .where(F.col("run_id").isin(committed_run_ids(manifest_path))
               & (F.col("status") == "done"))
        .count()
    )


def bad_docs(ref: Reference, seen: dict, done_rows: int) -> tuple[int, list[str]]:
    """(docs missing, duplicated or mismatching, first few messages)."""
    bad, notes = 0, []
    for doc_id, (spans, md5, lang) in ref.docs.items():
        rows = seen.get(doc_id, [])
        if len(rows) != 1:
            bad += 1
            notes.append(f"{doc_id}: seen {len(rows)} times")
            continue
        got_spans, got_md5, got_lang, got_count = rows[0]
        if (got_spans, got_md5, got_lang, got_count) != (spans, md5, lang, len(spans)):
            bad += 1
            notes.append(f"{doc_id}: output differs from model.extract_spans_doc")
    extra = set(seen) - set(ref.docs)
    bad += len(extra)
    notes += [f"{d}: not in the input" for d in sorted(extra)[:3]]
    rows_out = sum(len(r) for r in seen.values())
    if done_rows != rows_out:
        bad += abs(done_rows - rows_out)
        notes.append(f"manifest done rows {done_rows} != committed rows {rows_out}")
    return bad, notes[:5]


def parse_outcome(staged_rows: list[dict], must_quarantine: set) -> tuple[int, list[str], dict]:
    """Check the parse stage's statuses: exactly the designed docs
    quarantine, each after 3 attempts; every other doc parses first try."""
    bad, notes = 0, []
    status = {r["doc_id"]: (r["status"], r["attempts"]) for r in staged_rows}
    for doc_id, (st, attempts) in status.items():
        want = ("failed", 3) if doc_id in must_quarantine else ("ok", 1)
        if (st, attempts) != want:
            bad += 1
            notes.append(f"{doc_id}: parse status {st}/{attempts}, expected {want}")
    counts = Counter(st for st, _ in status.values())
    retries = sum(a - 1 for _, a in status.values())
    return bad, notes[:5], {"quarantined": counts.get("failed", 0), "retries": retries}
