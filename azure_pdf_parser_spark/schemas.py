"""All fixed StructTypes of the engine, declared once.

The reference declares its schemas as pydantic models
(reference: src/azure_pdf_parser/base.py:7-24,
experimental_base.py:64-107); here they are Spark StructTypes.
The authoritative input shape is the driver contract's ``input_hint``:
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: interleaved text + media spans (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN = StructType(
    [
        StructField("kind", StringType()),       # Text/title/.../TableCell/figure
        StructField("text", StringType()),       # null for pure-media spans
        StructField("media_ref", StringType()),  # null for text spans
        StructField("offset", IntegerType()),    # char offset, strictly increasing
    ]
)

# Driver-provided flat table /root/testdata/sf*/documents.parquet
FLAT_DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Layout IR — the post-parse / pre-assembly stage. Mirrors the reference's
# AnalyzeResult contract (reference: tests/data/sample-one-page.json keys;
# DocumentParagraph convert.py:46-77; DocumentTable convert.py:100-137;
# DocumentPage convert.py:171-186).
# ---------------------------------------------------------------------------

POINT = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])

BOUNDING_REGION = StructType(
    [
        StructField("page_number", IntegerType()),  # 1-based within batch
        StructField("polygon", ArrayType(POINT)),   # exactly 4 pts TL,TR,BR,BL
    ]
)

DOC_SPAN = StructType(  # (offset, length) range into concatenated content
    [StructField("offset", IntegerType()), StructField("length", IntegerType())]
)

PARAGRAPH = StructType(
    [
        StructField("role", StringType()),  # nullable; None → "Text" downstream
        StructField("content", StringType()),
        StructField("bounding_regions", ArrayType(BOUNDING_REGION)),
        StructField("spans", ArrayType(DOC_SPAN)),
    ]
)

TABLE_CELL = StructType(
    [
        StructField("kind", StringType()),  # columnHeader/content/...
        StructField("row_index", IntegerType()),
        StructField("column_index", IntegerType()),
        StructField("row_span", IntegerType()),
        StructField("column_span", IntegerType()),
        StructField("content", StringType()),
        StructField("bounding_regions", ArrayType(BOUNDING_REGION)),
        StructField("spans", ArrayType(DOC_SPAN)),
    ]
)

TABLE = StructType(
    [
        StructField("row_count", IntegerType()),
        StructField("column_count", IntegerType()),
        StructField("cells", ArrayType(TABLE_CELL)),
        StructField("bounding_regions", ArrayType(BOUNDING_REGION)),
        StructField("spans", ArrayType(DOC_SPAN)),
    ]
)

PAGE = StructType(
    [
        StructField("page_number", IntegerType()),  # 1-based
        StructField("width", DoubleType()),         # inches
        StructField("height", DoubleType()),
    ]
)

PAGE_RANGE = StructType(
    [StructField("first", IntegerType()), StructField("last", IntegerType())]
)

# One row per (doc, batch): the unit emitted by the parse stage and consumed
# by propagate/merge (reference: PDFPagesBatchExtracted, base.py:16-24).
LAYOUT_BATCH = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("batch_number", IntegerType()),  # 0-based
        StructField("page_range", PAGE_RANGE),       # 1-based inclusive
        StructField("api_version", StringType()),
        StructField("model_id", StringType()),
        StructField("paragraphs", ArrayType(PARAGRAPH)),
        StructField("tables", ArrayType(TABLE)),
        StructField("pages", ArrayType(PAGE)),
    ]
)

# ---------------------------------------------------------------------------
# Output: parser_output (reference: ParserOutput convert.py:302-324;
# PDFTextBlock convert.py:63-77; PDFPageMetadata convert.py:178-184)
# ---------------------------------------------------------------------------

PAGE_METADATA = StructType(
    [
        StructField("page_number", IntegerType()),  # 0-based
        StructField("width", DoubleType()),         # ×72 px
        StructField("height", DoubleType()),
    ]
)

TABLE_BLOCK_CELL = StructType(
    [
        StructField("cell_type", StringType()),
        StructField("row_index", IntegerType()),
        StructField("column_index", IntegerType()),
        StructField("row_span", IntegerType()),
        StructField("column_span", IntegerType()),
        StructField("content", StringType()),
        StructField("bounding_regions", ArrayType(BOUNDING_REGION)),
    ]
)

TABLE_BLOCK = StructType(
    [
        StructField("table_id", StringType()),
        StructField("row_count", IntegerType()),
        StructField("column_count", IntegerType()),
        StructField("cells", ArrayType(TABLE_BLOCK_CELL)),
    ]
)

PARSER_OUTPUT = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("document_md5_sum", StringType()),
        StructField("languages", ArrayType(StringType())),
        StructField("translated", BooleanType()),  # always false
        StructField("spans", ArrayType(SPAN)),     # ordered output sequence
        StructField("page_metadata", ArrayType(PAGE_METADATA)),
        StructField("table_blocks", ArrayType(TABLE_BLOCK)),
        StructField("status", StringType()),       # 'ok' | 'failed'
        StructField("error", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Resume / lineage manifest (north_rule; FIXTURES.md §4)
# ---------------------------------------------------------------------------

MANIFEST = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("doc_id", StringType()),
        StructField("status", StringType()),     # done | failed
        StructField("span_count", LongType()),
        StructField("bucket", StringType()),     # size bucket used to repartition
        StructField("updated_at", TimestampType()),
    ]
)

# Raw binary source rows (S1 analog: spark.read.format("binaryFile"))
RAW_DOCUMENT = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content_type", StringType()),  # application/pdf | text/html
        StructField("content", BinaryType()),
    ]
)
