"""O5–O12, O19: the convert stage over merged layout documents.

Everything here is array-local (higher-order functions over the
paragraphs/tables/pages array columns of one document row): zero
shuffle, whole-stage codegen, scales linearly with input splits.

Reference parity (file:line cites are /root/reference/src/azure_pdf_parser):
  O5  harvest cell spans as (length, offset)        convert.py:203-217
  O6  tag matching paragraphs role='TableCell'      convert.py:220-236
  O7  keep paragraphs with bounding_regions         convert.py:80-97
  O8  paragraph → text block (×72, page−1, 'Text')  convert.py:31-77
  O9  table → table block (experimental)            convert.py:100-156
  O10 page metadata (×72, page−1, drop null dims)   convert.py:159-200
  O12 assembly + language chain                     convert.py:239-324
  O19 vertical coordinate flip                      cpr-sdk, exercised by
                                                    tests/test_convert.py:164-170
Validation (O11, convert.py:261-268) is a filter + quarantine: the
engine must not throw per-row, so invalid docs land with
status='failed' and the reference's exact error message.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_pdf_parser_spark.functions.text import with_language

DIMENSION_CONVERSION_FACTOR = 72  # reference base.py:4


# --- O5: table-cell span harvest -------------------------------------------


def cell_span_keys_col(tables: Column) -> Column:
    """Distinct (length, offset) keys of cell.spans[0] — the reference's
    set() dedup (convert.py:209-217). Key order is (length, offset), not
    (offset, length) — quirk kept."""
    cells = F.flatten(
        F.transform(F.coalesce(tables, F.array()), lambda t: t.cells)
    )
    with_spans = F.filter(
        cells, lambda c: c.isNotNull() & c.spans.isNotNull() & (F.size(c.spans) > 0)
    )
    return F.array_distinct(
        F.transform(
            with_spans,
            lambda c: F.struct(
                F.element_at(c.spans, 1).length.alias("length"),
                F.element_at(c.spans, 1).offset.alias("offset"),
            ),
        )
    )


# --- O6: tag table paragraphs ----------------------------------------------


def tag_table_paragraphs(merged: DataFrame) -> DataFrame:
    """role := 'TableCell' where paragraph.spans[0] key ∈ harvest set.

    Array-local: the per-document key set is tiny, so this is an
    array_contains against a deduped key array rather than a cross-doc
    join — the broadcast-semi-join degenerates to per-row work because
    span keys never cross documents.
    """
    keys = cell_span_keys_col(F.col("tables"))

    def tag(p: Column) -> Column:
        pkey = F.struct(
            F.element_at(p.spans, 1).length.alias("length"),
            F.element_at(p.spans, 1).offset.alias("offset"),
        )
        role = F.when(
            F.array_contains(keys, pkey), F.lit("TableCell")
        ).otherwise(p.role)
        return F.when(p.isNull(), p).otherwise(
            F.struct(
                role.alias("role"),
                p.content.alias("content"),
                p.bounding_regions.alias("bounding_regions"),
                p.spans.alias("spans"),
            )
        )

    return merged.withColumn("paragraphs", F.transform("paragraphs", tag))


# --- O7/O8: paragraph filter + text-block projection ------------------------


def text_blocks_col(paragraphs: Column) -> Column:
    """Keep (index, paragraph) where paragraph and regions non-null; the
    pre-filter enumeration index is the text_block_id (gaps preserved —
    convert.py:90-96)."""
    indexed = F.transform(
        paragraphs, lambda p, i: F.struct(i.alias("i"), p.alias("p"))
    )
    kept = F.filter(
        indexed,
        lambda x: x.p.isNotNull() & x.p.bounding_regions.isNotNull(),
    )

    def project(x: Column) -> Column:
        region = F.element_at(x.p.bounding_regions, 1)
        return F.struct(
            x.i.cast("string").alias("text_block_id"),
            F.coalesce(x.p.role, F.lit("Text")).alias("type"),
            F.lit(1.0).alias("type_confidence"),
            x.p.content.alias("text"),
            F.lit(None).cast("string").alias("language"),
            (region.page_number - 1).cast("int").alias("page_number"),
            F.transform(
                region.polygon,
                lambda pt: F.struct(
                    (pt.x * DIMENSION_CONVERSION_FACTOR).alias("x"),
                    (pt.y * DIMENSION_CONVERSION_FACTOR).alias("y"),
                ),
            ).alias("coords"),
        )

    return F.transform(kept, project)


def bad_polygon_col(paragraphs: Column) -> Column:
    """True when any kept paragraph's first region polygon has ≠4 points —
    the reference raises ValueError (convert.py:40-41); the engine
    quarantines instead."""
    indexed = F.filter(
        paragraphs, lambda p: p.isNotNull() & p.bounding_regions.isNotNull()
    )
    return F.exists(
        indexed,
        lambda p: F.size(F.element_at(p.bounding_regions, 1).polygon) != 4,
    )


# --- O9: table → table block (experimental) ---------------------------------


def table_blocks_col(tables: Column) -> Column:
    indexed = F.transform(
        F.coalesce(tables, F.array()),
        lambda t, i: F.struct(i.alias("i"), t.alias("t")),
    )
    kept = F.filter(
        indexed,
        lambda x: x.t.isNotNull() & F.forall(x.t.cells, lambda c: c.isNotNull()),
    )

    def cell_block(c: Column) -> Column:
        region = F.element_at(c.bounding_regions, 1)
        return F.struct(
            c.kind.alias("cell_type"),
            c.row_index.alias("row_index"),
            c.column_index.alias("column_index"),
            c.row_span.alias("row_span"),
            c.column_span.alias("column_span"),
            c.content.alias("content"),
            F.array(
                F.struct(
                    (region.page_number - 1).cast("int").alias("page_number"),
                    F.transform(
                        region.polygon,
                        lambda pt: F.struct(
                            (pt.x * DIMENSION_CONVERSION_FACTOR).alias("x"),
                            (pt.y * DIMENSION_CONVERSION_FACTOR).alias("y"),
                        ),
                    ).alias("polygon"),
                )
            ).alias("bounding_regions"),
        )

    def project(x: Column) -> Column:
        cells = F.filter(
            x.t.cells,
            lambda c: c.bounding_regions.isNotNull()
            & c.kind.isNotNull()
            & c.row_span.isNotNull()
            & c.column_span.isNotNull(),
        )
        return F.struct(
            x.i.cast("string").alias("table_id"),
            x.t.row_count.alias("row_count"),
            x.t.column_count.alias("column_count"),
            F.transform(cells, cell_block).alias("cells"),
        )

    return F.transform(kept, project)


# --- O10: page metadata ------------------------------------------------------


def page_metadata_col(pages: Column) -> Column:
    kept = F.filter(
        F.coalesce(pages, F.array()),
        lambda pg: pg.isNotNull()
        & pg.width.isNotNull()
        & pg.height.isNotNull()
        & pg.page_number.isNotNull(),
    )
    return F.transform(
        kept,
        lambda pg: F.struct(
            (pg.page_number - 1).cast("int").alias("page_number"),
            (pg.width * DIMENSION_CONVERSION_FACTOR).alias("width"),
            (pg.height * DIMENSION_CONVERSION_FACTOR).alias("height"),
        ),
    )


# --- O12 (+O11/O13/O14): assembly --------------------------------------------

ERR_NO_CDN = "Document must have a CDN object. None provided."
ERR_NOT_PDF = "CDN object must be a PDF."
ERR_BAD_POLYGON = "Polygon must have exactly four points."


def assemble(
    merged: DataFrame,
    experimental_extract_tables: bool = False,
    cdn_object_col: str | None = None,
    md5_sum_col: str | None = None,
) -> DataFrame:
    """Merged layout doc → one parser_output row (convert.py:239-324).

    Chain order matches the reference (convert.py:270-272, :298-299):
    tag table paragraphs → extract text blocks → page metadata →
    [tables] → detect language → doc-language aggregation. Validation
    failures become status='failed' + the reference's error message
    (quarantine, not raise).
    """
    # staged projections (same reasoning as extract_spans.extract): the
    # blocks / doc-text trees are materialized once each. The language
    # detector goes through with_language, NOT a bare language_expr
    # column: this projection chain carries lambdas (stamping below), so
    # it is CodegenFallback — interpreted, no CSE — and CollapseProject
    # can inline a single-column language tree into the stamping lambda
    # where it re-evaluates per block (29 regex scans × every block:
    # measured 38 s vs 2 s for the layout gate at sf0.1). with_language
    # stages the regex scans as multi-referenced attribute columns that
    # survive collapse, pinning them to once per row.
    tagged = with_language(
        tag_table_paragraphs(merged)
        .withColumn("_blocks", text_blocks_col(F.col("paragraphs")))
        .withColumn(
            "_doc_text",
            F.array_join(
                F.transform(F.col("_blocks"), lambda b: F.trim(b.text)), " "
            ),
        ),
        "_doc_text",
        "_lang_raw",
    ).withColumn(
        "_detected", F.when(F.size("_blocks") > 0, F.col("_lang_raw"))
    )
    blocks = F.col("_blocks")
    detected = F.col("_detected")

    stamped = F.transform(
        blocks,
        lambda b: F.struct(
            b.text_block_id.alias("text_block_id"),
            b.type.alias("type"),
            b.type_confidence.alias("type_confidence"),
            b.text.alias("text"),
            detected.alias("language"),
            b.page_number.alias("page_number"),
            b.coords.alias("coords"),
        ),
    )
    # O13 stamps every block with the one detected language, so the O14
    # proportion pass over these blocks yields [detected] (share = 1 > 0.4)
    # or NULL when nothing was detected — same net result as the
    # reference's .detect_and_set_languages().set_document_languages_...
    languages = F.when(detected.isNotNull(), F.array(detected))

    error = F.lit(None).cast("string")
    if cdn_object_col is not None:
        cdn = F.col(cdn_object_col)
        error = (
            F.when(cdn.isNull(), F.lit(ERR_NO_CDN))
            .when(~F.lower(cdn).endswith(".pdf"), F.lit(ERR_NOT_PDF))
            .otherwise(error)
        )
    error = F.when(
        error.isNull() & bad_polygon_col(F.col("paragraphs")), F.lit(ERR_BAD_POLYGON)
    ).otherwise(error)

    out = tagged.select(
        "doc_id",
        (F.col(md5_sum_col) if md5_sum_col else F.lit(None).cast("string")).alias(
            "document_md5_sum"
        ),
        languages.alias("languages"),
        F.lit(False).alias("translated"),
        stamped.alias("text_blocks"),
        page_metadata_col(F.col("pages")).alias("page_metadata"),
        (
            table_blocks_col(F.col("tables"))
            if experimental_extract_tables
            else F.lit(None)
            .cast(
                "array<struct<table_id:string,row_count:int,column_count:int,"
                "cells:array<struct<cell_type:string,row_index:int,column_index:int,"
                "row_span:int,column_span:int,content:string,"
                "bounding_regions:array<struct<page_number:int,"
                "polygon:array<struct<x:double,y:double>>>>>>>>"
            )
        ).alias("table_blocks"),
        error.alias("error"),
    )
    return out.withColumn(
        "status", F.when(F.col("error").isNotNull(), "failed").otherwise("ok")
    )


# --- O19: vertical coordinate flip -------------------------------------------


def flip_text_block_coords(assembled: DataFrame) -> DataFrame:
    """y → page_height − y via the doc's own (×72) page metadata —
    cpr-sdk's vertically_flip_text_block_coords, exercised by reference
    tests/test_convert.py:164-170."""

    def flip(b: Column) -> Column:
        page = F.try_element_at(
            F.filter(
                F.col("page_metadata"), lambda m: m.page_number == b.page_number
            ),
            F.lit(1),
        )
        return F.struct(
            b.text_block_id.alias("text_block_id"),
            b.type.alias("type"),
            b.type_confidence.alias("type_confidence"),
            b.text.alias("text"),
            b.language.alias("language"),
            b.page_number.alias("page_number"),
            F.transform(
                b.coords,
                lambda pt: F.struct(
                    pt.x.alias("x"),
                    # block on a page missing from metadata: keep y (the
                    # reference would KeyError; the engine degrades gracefully)
                    F.when(page.isNull(), pt.y)
                    .otherwise(page.height - pt.y)
                    .alias("y"),
                ),
            ).alias("coords"),
        )

    return assembled.withColumn("text_blocks", F.transform("text_blocks", flip))
