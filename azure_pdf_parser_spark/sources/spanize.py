"""Deterministic text → interleaved-span derivation ("spanize").

The driver's flat ``documents(doc_id, text, ...)`` table carries plain
text; the engine's authoritative input shape is
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``
(BASELINE.json input_hint). This module derives that shape
deterministically from the text so the same corpus exercises the whole
span pipeline (FIXTURES.md §5: "the generator derives spans
deterministically from documents.text").

Spec (identical in the Spark and DuckDB implementations — this file
defines BOTH so the driver's oracle comparison is bit-exact):

* ``words = split(text, ' ')`` — corpus text is single-space joined.
* spans are consecutive runs of ``K = 8`` words; span ``i`` covers words
  ``[i*8, i*8+8)``.
* ``offset`` = character offset of the span's first word in ``text``
  (= length of the ' '-join of all prior words, +1 for the separator).
* ``h = md5(doc_id || ':' || i)``; the first hex char picks the kind
  (second char refines two buckets), mirroring the reference's paragraph
  role vocabulary and its histogram skew toward body text
  (reference: tests/data/sample-sixteen-page.json role histogram —
  212 null/Text vs a handful of header/footer/title roles;
  default-"Text" rule: src/azure_pdf_parser/convert.py:75):

    '0'..'9'  -> 'Text'            (62.5% — body text dominates)
    'a'       -> 'title'
    'b'       -> 'sectionHeading'
    'c'       -> 'pageHeader'  (h[1] < '8') else 'pageNumber'
    'd'       -> 'pageFooter'  (h[1] < '8') else 'footnote'
    'e'       -> 'TableCell'       (convert.py:220-236 tagging analog)
    'f'       -> 'figure' — a media span: text NULL,
                 media_ref = 'media://' || h   (interleaved media)

All of this is narrow, per-row column work: no shuffle, fully
whole-stage-codegen'd, so at 100 TB it scales with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORDS_PER_SPAN = 8

BOILERPLATE_KINDS = ("pageHeader", "pageFooter", "pageNumber")


def is_kept_span(s: Column) -> Column:
    """Main-content keep predicate over one span struct: NULL kind
    defaults to 'Text' (reference convert.py:75), boilerplate kinds are
    stripped. THE single definition — the flagship filter
    (operators/extract_spans.py) and the interleave family
    (operators/interleave.py) must all apply the same rule, or caption
    mining/packing silently skews relative to the extraction."""
    return ~F.coalesce(s.kind, F.lit("Text")).isin(*BOILERPLATE_KINDS)


def _kind_sql(h: str) -> str:
    c1, c2 = f"substring({h}, 1, 1)", f"substring({h}, 2, 1)"
    return (
        f"CASE WHEN {c1} = 'a' THEN 'title'"
        f" WHEN {c1} = 'b' THEN 'sectionHeading'"
        f" WHEN {c1} = 'c' AND {c2} < '8' THEN 'pageHeader'"
        f" WHEN {c1} = 'c' THEN 'pageNumber'"
        f" WHEN {c1} = 'd' AND {c2} < '8' THEN 'pageFooter'"
        f" WHEN {c1} = 'd' THEN 'footnote'"
        f" WHEN {c1} = 'e' THEN 'TableCell'"
        f" WHEN {c1} = 'f' THEN 'figure'"
        " ELSE 'Text' END"
    )


def _chunk_texts_sql(text: str) -> str:
    """' '-joined 8-word chunks of the text — O(words): each slice copies
    only its own 8-element window."""
    words = f"split({text}, ' ')"
    n_chunks = f"CAST(ceil(size({words}) / {float(WORDS_PER_SPAN)}D) AS INT)"
    return (
        f"transform(sequence(0, {n_chunks} - 1), i -> array_join("
        f"slice({words}, i * {WORDS_PER_SPAN} + 1, {WORDS_PER_SPAN}), ' '))"
    )


def chunks_with_offsets_col(text: str) -> Column:
    """array<struct<text, offset>> over column ``text``: each 8-word
    chunk paired with the char offset of its first word — running sum of
    (len(chunk) + 1 separator) via the aggregate accumulator, O(chunks²)
    int-struct copies. (Two earlier formulations were pathological:
    re-joining the whole word prefix per chunk is O(words²) STRING churn
    — ~60 GB of intermediate strings on 240 KB docs — and staging the
    offsets as their own single-use column gets re-inlined by
    CollapseProject into the per-span lambda, going O(chunks³).)"""
    elem = "struct<text:string,offset:int>"
    return F.expr(
        f"aggregate({_chunk_texts_sql(text)},"
        f" named_struct('arr', CAST(array() AS array<{elem}>), 'acc', CAST(0 AS INT)),"
        " (st, c) -> named_struct("
        "'arr', concat(st.arr, array(named_struct('text', c, 'offset', st.acc))),"
        " 'acc', CAST(st.acc + length(c) + 1 AS INT)),"
        " st -> st.arr)"
    )


def _span_structs_sql(doc_id: str, chunks_off: str) -> str:
    h = f"md5(concat(CAST({doc_id} AS STRING), ':', CAST(i AS STRING)))"
    kind = _kind_sql(h)
    chunk = f"element_at({chunks_off}, i + 1)"
    return (
        f"transform(sequence(0, size({chunks_off}) - 1), i -> named_struct("
        f"'kind', {kind},"
        f" 'text', CASE WHEN {kind} = 'figure' THEN CAST(NULL AS STRING) ELSE {chunk}.text END,"
        f" 'media_ref', CASE WHEN {kind} = 'figure' THEN concat('media://', {h}) END,"
        f" 'offset', {chunk}.`offset`))"
    )


def span_structs_col(doc_id: str, chunks_off: str) -> Column:
    """Assemble span structs from the pre-staged (text, offset) array
    column ``chunks_off``. It must be a materialized column referenced
    ≥2 times (element_at + the size bound keep it so) — an expression
    inlined here would re-evaluate per element."""
    return F.expr(_span_structs_sql(doc_id, chunks_off))


SPAN_ARRAY_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def derive_spans(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id string, spans array<SPAN>) in the input_hint shape.

    NULL text (a failed upstream parse) derives an EMPTY span array —
    the doc flows through as an empty document (0 spans, md5(''),
    language NULL), matching the oracle SQL where a NULL text produces
    zero spanize rows. Without the guard the spans column is NULL and
    every downstream aggregate silently nulls out.

    Staged projection: the (chunk text, offset) array is materialized
    once, so the per-span assembly lambda does only attribute lookups
    (element_at) — embedding the chunk tree in the lambda would rebuild
    the whole array per span (O(n²)). The expressions are rendered as
    Spark SQL and parsed JVM-side: a few py4j calls, where the Column
    API makes one per node (~1,100)."""
    staged = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).isNull().alias("_null_text"),
        chunks_with_offsets_col(text_col).alias("_chunks"),
    )
    return staged.select(
        "doc_id",
        F.expr(
            f"CASE WHEN _null_text THEN CAST(array() AS {SPAN_ARRAY_TYPE})"
            f" ELSE {_span_structs_sql('doc_id', '_chunks')} END"
        ).alias("spans"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the SAME derivation as ANSI-ish SQL. Produces the exploded
# form (doc_id, ord, kind, text, media_ref, offset). Used as a CTE prefix by
# __spark_entry__.oracle_sql entries.
# ---------------------------------------------------------------------------

SPANIZE_SQL_CTE = """
spanize AS (
    SELECT
        CAST(d.doc_id AS VARCHAR)                           AS doc_id,
        CAST(t.i AS INT)                                    AS ord,
        CASE
            WHEN substr(h.h, 1, 1) = 'a' THEN 'title'
            WHEN substr(h.h, 1, 1) = 'b' THEN 'sectionHeading'
            WHEN substr(h.h, 1, 1) = 'c' AND substr(h.h, 2, 1) < '8' THEN 'pageHeader'
            WHEN substr(h.h, 1, 1) = 'c' THEN 'pageNumber'
            WHEN substr(h.h, 1, 1) = 'd' AND substr(h.h, 2, 1) < '8' THEN 'pageFooter'
            WHEN substr(h.h, 1, 1) = 'd' THEN 'footnote'
            WHEN substr(h.h, 1, 1) = 'e' THEN 'TableCell'
            WHEN substr(h.h, 1, 1) = 'f' THEN 'figure'
            ELSE 'Text'
        END                                                 AS kind,
        CASE WHEN substr(h.h, 1, 1) = 'f' THEN NULL
             ELSE array_to_string(list_slice(w.words, t.i * 8 + 1, t.i * 8 + 8), ' ')
        END                                                 AS text,
        CASE WHEN substr(h.h, 1, 1) = 'f' THEN 'media://' || h.h END AS media_ref,
        h.h                                                 AS h,
        CAST(CASE WHEN t.i = 0 THEN 0
                  ELSE length(array_to_string(list_slice(w.words, 1, t.i * 8), ' ')) + 1
             END AS INT)                                    AS offset
    FROM documents d
    CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
    CROSS JOIN LATERAL (
        SELECT UNNEST(range(CAST(ceil(len(w.words) / 8.0) AS BIGINT))) AS i
    ) t
    CROSS JOIN LATERAL (
        SELECT md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)) AS h
    ) h
)
"""

# Main-content filter: same predicate both sides.
BOILERPLATE_SQL_PREDICATE = "kind NOT IN ('pageHeader', 'pageFooter', 'pageNumber')"
