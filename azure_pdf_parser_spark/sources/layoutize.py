"""Deterministic text → layout-IR derivation ("layoutize").

The layout operators (O1 batch plan, O3 page propagation, O4 ordered
merge, O5/O6 table-cell tagging, O7/O8 text blocks, O9 table blocks,
O10 page metadata, O12 assembly, O19 coordinate flip — reference:
src/azure_pdf_parser/utils.py:35-163, convert.py:31-324) are pinned by
pytest against the pure-Python oracle in ``model.py``. This module
additionally makes the SAME chain checkable by the driver's DuckDB
gate: it derives a deterministic layout IR (paragraphs with roles,
polygons and spans; one table of TableCell paragraphs; pages with
dimensions; page-batch rows with LOCAL page numbers) from the flat
``documents`` table, entirely from md5 hashes, and defines the
identical derivation as DuckDB SQL CTEs.

The Spark side then runs the REAL operator chain — explode batches →
``propagate_page_numbers`` → ``merge_batches`` → ``assemble`` — while
the oracle computes the expected end state directly in flat SQL, so a
bug anywhere in O1–O19 shows up as a value-hash mismatch.

Derivation spec (identical in both implementations):

* spans: from :mod:`azure_pdf_parser_spark.sources.spanize` (same
  ``h = md5(doc_id || ':' || ord)`` hash).
* paragraphs: the non-``figure`` spans in ord order; ``para_seq`` is the
  0-based rank. Role = NULL for kinds ``Text``/``TableCell`` (TableCell
  identity must be recovered by the O5/O6 span semi-join, not carried),
  else the kind itself.
* page: ``floor(para_seq / 5) + 1`` (5 paragraphs per page);
  ``n_pages = max(1, ceil(n_paras / 5))``.
* polygon (inches, TL TR BR BL) from hex nibbles of ``h``
  (``nib(i)`` = value of the i-th hex char):
  ``x0 = nib(3)/2``, ``y0 = nib(4)*0.65``, ``w = 1 + nib(5)/16``,
  ``hh = 0.2 + nib(6)/32``.
* paragraph spans: ``[(offset, length(text))]`` — the (length, offset)
  key order quirk downstream is the operator's concern
  (reference convert.py:215).
* table: the doc's TableCell paragraphs, 2 columns —
  ``row = cell_seq // 2``, ``col = cell_seq % 2``; first two cells are
  ``columnHeader``; cell region = the paragraph's region; one table per
  doc (absent when no TableCell spans).
* pages: ``width = 8 + nib1(hp)/16``, ``height = 10 + nib2(hp)/8`` with
  ``hp = md5(doc_id || ':pg:' || page)``.
* batches: 3 pages per batch — ``page_range = (3b+1, min(3b+3,
  n_pages))``; every page number stored LOCAL to the batch
  (``global − 3b``); the table rides in the batch of its first cell.
  O3's ``+ (first − 1)`` shift must restore the global numbers.
* cdn_object (O11 gate): ``hc = md5(doc_id || ':cdn')`` — first char
  ``'f'`` → NULL (missing), ``'e'`` → ``{doc_id}.docx`` (non-PDF),
  else ``{doc_id}.Pdf`` (mixed case exercises the case-insensitive
  suffix check, reference convert.py:264-268).

Everything is narrow per-row column work (the one shuffle in the chain
is O4's groupBy(doc_id), exactly as in production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# spanize staging helpers imported inside derive_layout_batches

PARAS_PER_PAGE = 5
PAGES_PER_BATCH = 3
API_VERSION = "2023-07-31"
MODEL_ID = "prebuilt-document"

_HEX = "0123456789abcdef"


def _nib(h: Column, i: int) -> Column:
    """Value (0-15) of the i-th (1-based) hex char of h."""
    return F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1


def _para_hash(doc_id: Column, ord_: Column) -> Column:
    return F.md5(F.concat(doc_id, F.lit(":"), ord_.cast("string")))


def _page_hash(doc_id: Column, page: Column) -> Column:
    return F.md5(F.concat(doc_id, F.lit(":pg:"), page.cast("string")))


def _polygon(h: Column) -> Column:
    x0 = _nib(h, 3) / 2.0
    y0 = _nib(h, 4) * 0.65
    w = 1.0 + _nib(h, 5) / 16.0
    hh = 0.2 + _nib(h, 6) / 32.0

    def pt(x: Column, y: Column) -> Column:
        return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))

    return F.array(pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + hh), pt(x0, y0 + hh))


def _region(doc_id: Column, p: Column, page: Column) -> Column:
    return F.struct(
        page.cast("int").alias("page_number"),
        _polygon(_para_hash(doc_id, p.ord)).alias("polygon"),
    )


def _doc_span(p: Column) -> Column:
    return F.struct(
        p.offset.cast("int").alias("offset"),
        F.length(p.text).cast("int").alias("length"),
    )


def cdn_object_col(doc_id: Column) -> Column:
    """Deterministic cdn_object with missing/non-pdf cases (O11 gate)."""
    hc = F.md5(F.concat(doc_id, F.lit(":cdn")))
    c1 = F.substring(hc, 1, 1)
    return (
        F.when(c1 == "f", F.lit(None).cast("string"))
        .when(c1 == "e", F.concat(doc_id, F.lit(".docx")))
        .otherwise(F.concat(doc_id, F.lit(".Pdf")))
    )


def derive_layout_batches(docs: DataFrame) -> DataFrame:
    """Flat documents(doc_id, text) → LAYOUT_BATCH rows (one per doc,
    batch), page numbers local to the batch. Narrow: no shuffle."""
    doc_id = F.col("doc_id")

    # staged exactly like spanize.derive_spans: the (chunk, offset)
    # array materializes once, so the per-span lambda never re-evaluates
    # the chunk aggregate per element
    from azure_pdf_parser_spark.sources.spanize import (
        chunks_with_offsets_col,
        span_structs_col,
    )

    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        chunks_with_offsets_col("text").alias("_chunks"),
    ).select(
        "doc_id",
        span_structs_col("doc_id", "_chunks").alias("spans"),
    )

    # (ord, kind, text, offset) for non-figure spans, with para_seq rank
    indexed = F.transform(
        F.col("spans"), lambda s, i: F.struct(i.cast("int").alias("ord"), s.alias("s"))
    )
    paras = F.transform(
        F.filter(indexed, lambda x: x.s.kind != "figure"),
        lambda x, i: F.struct(
            x.ord.alias("ord"),
            i.cast("int").alias("para_seq"),
            x.s.kind.alias("kind"),
            x.s.text.alias("text"),
            x.s.offset.alias("offset"),
        ),
    )
    staged = base.select("doc_id", paras.alias("paras"))

    paras_c = F.col("paras")
    n_paras = F.size(paras_c)
    n_pages = F.greatest(
        F.ceil(n_paras / F.lit(float(PARAS_PER_PAGE))).cast("int"), F.lit(1)
    )

    def global_page(p: Column) -> Column:
        return (F.floor(p.para_seq / F.lit(float(PARAS_PER_PAGE))) + 1).cast("int")

    def paragraph_struct(p: Column, page: Column) -> Column:
        role = F.when(
            p.kind.isin("Text", "TableCell"), F.lit(None).cast("string")
        ).otherwise(p.kind)
        return F.struct(
            role.alias("role"),
            p.text.alias("content"),
            F.array(_region(doc_id, p, page)).alias("bounding_regions"),
            F.array(_doc_span(p)).alias("spans"),
        )

    cells_src = F.filter(paras_c, lambda p: p.kind == "TableCell")
    n_cells = F.size(cells_src)

    def cell_struct(p: Column, i: Column, page: Column) -> Column:
        return F.struct(
            F.when(i < 2, F.lit("columnHeader")).otherwise(F.lit("content")).alias("kind"),
            F.floor(i / 2).cast("int").alias("row_index"),
            (i % 2).cast("int").alias("column_index"),
            F.lit(1).alias("row_span"),
            F.lit(1).alias("column_span"),
            p.text.alias("content"),
            F.array(_region(doc_id, p, page)).alias("bounding_regions"),
            F.array(_doc_span(p)).alias("spans"),
        )

    # try_: docs with no TableCell spans have an empty cell list (ANSI mode)
    first_cell = F.try_element_at(cells_src, F.lit(1))
    # batch that owns the table = batch of its first cell's global page
    table_batch = F.floor(
        (global_page(first_cell) - 1) / F.lit(float(PAGES_PER_BATCH))
    ).cast("int")

    n_batches = F.ceil(n_pages / F.lit(float(PAGES_PER_BATCH))).cast("int")

    def batch_struct(b: Column) -> Column:
        first = (b * PAGES_PER_BATCH + 1).cast("int")
        last = F.least((b + 1) * PAGES_PER_BATCH, n_pages).cast("int")
        shift = b * PAGES_PER_BATCH

        batch_paras = F.transform(
            F.filter(
                paras_c,
                lambda p: (global_page(p) >= first) & (global_page(p) <= last),
            ),
            lambda p: paragraph_struct(p, global_page(p) - shift),
        )
        batch_pages = F.transform(
            F.sequence(first, last),
            lambda gp: F.struct(
                (gp - shift).cast("int").alias("page_number"),
                (8.0 + _nib(_page_hash(doc_id, gp), 1) / 16.0).alias("width"),
                (10.0 + _nib(_page_hash(doc_id, gp), 2) / 8.0).alias("height"),
            ),
        )
        table = F.struct(
            F.ceil(n_cells / F.lit(2.0)).cast("int").alias("row_count"),
            F.least(n_cells, F.lit(2)).cast("int").alias("column_count"),
            F.transform(
                cells_src,
                lambda p, i: cell_struct(p, i, global_page(p) - shift),
            ).alias("cells"),
            F.array(_region(doc_id, first_cell, global_page(first_cell) - shift)).alias(
                "bounding_regions"
            ),
            F.array().cast("array<struct<offset:int,length:int>>").alias("spans"),
        )
        has_table = (n_cells > 0) & (table_batch == b)
        batch_tables = F.when(has_table, F.array(table)).otherwise(
            F.slice(F.array(table), 1, 0)
        )
        return F.struct(
            b.cast("int").alias("batch_number"),
            F.struct(first.alias("first"), last.alias("last")).alias("page_range"),
            batch_paras.alias("paragraphs"),
            batch_tables.alias("tables"),
            batch_pages.alias("pages"),
        )

    batches = F.transform(F.sequence(F.lit(0), n_batches - 1), batch_struct)

    # explode_outer: a plain explode gets an inferred size()>0 filter
    # that re-evaluates the whole batches tree (see spanize/extract)
    exploded = staged.select(
        "doc_id", F.explode_outer(batches).alias("b")
    ).where(F.col("b").isNotNull())
    return exploded.select(
        "doc_id",
        F.col("b.batch_number").alias("batch_number"),
        F.col("b.page_range").alias("page_range"),
        F.lit(API_VERSION).alias("api_version"),
        F.lit(MODEL_ID).alias("model_id"),
        F.col("b.paragraphs").alias("paragraphs"),
        F.col("b.tables").alias("tables"),
        F.col("b.pages").alias("pages"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same derivation, directly at its merged-global end
# state, as flat CTEs over the spanize CTE. (The oracle does not reproduce
# the batching round-trip — it computes what O1→O4 must restore, which is
# exactly what makes the gate meaningful.)
# ---------------------------------------------------------------------------

def _nib_sql(h: str, i: int) -> str:
    return f"(instr('{_HEX}', substr({h}, {i}, 1)) - 1)"


# paragraphs with geometry, in merged (global) page space
LAYOUT_SQL_CTES = f"""
paras AS (
    SELECT doc_id, ord, kind, text, "offset",
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS para_seq,
           md5(doc_id || ':' || CAST(ord AS VARCHAR)) AS h
    FROM spanize
    WHERE kind <> 'figure'
),
para_geo AS (
    SELECT doc_id, ord, kind, text, "offset", para_seq,
           CAST(floor(para_seq / 5.0) AS INT) + 1 AS page,
           {_nib_sql('h', 3)} / 2.0 AS x0,
           {_nib_sql('h', 4)} * CAST(0.65 AS DOUBLE) AS y0,
           1.0 + {_nib_sql('h', 5)} / 16.0 AS w,
           0.2 + {_nib_sql('h', 6)} / 32.0 AS hh
    FROM paras
),
doc_npages AS (
    SELECT d.doc_id,
           greatest(CAST(ceil(coalesce(p.n_paras, 0) / 5.0) AS INT), 1) AS n_pages
    FROM (SELECT DISTINCT doc_id FROM spanize) d
    LEFT JOIN (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id) p
      ON d.doc_id = p.doc_id
),
doc_pages AS (
    SELECT n.doc_id, CAST(t.p AS INT) AS page,
           8.0 + {_nib_sql("md5(n.doc_id || ':pg:' || CAST(t.p AS VARCHAR))", 1)} / 16.0 AS width,
           10.0 + {_nib_sql("md5(n.doc_id || ':pg:' || CAST(t.p AS VARCHAR))", 2)} / 8.0 AS height
    FROM doc_npages n
    CROSS JOIN LATERAL (SELECT UNNEST(range(1, n.n_pages + 1)) AS p) t
),
doc_lang AS (
    SELECT doc_id, string_agg(trim(text), ' ' ORDER BY para_seq) AS doc_text
    FROM paras GROUP BY doc_id
)
"""

CDN_SQL = (
    "(CASE WHEN substr(md5(doc_id || ':cdn'), 1, 1) = 'f' THEN NULL "
    "WHEN substr(md5(doc_id || ':cdn'), 1, 1) = 'e' THEN doc_id || '.docx' "
    "ELSE doc_id || '.Pdf' END)"
)
