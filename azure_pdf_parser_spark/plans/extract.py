"""End-to-end production pipeline: the spark-submit job body.

    read documents (doc_id, spans)
      → resume anti-join (skip docs already done)           [manifest.py]
      → doc_id hash repartition + size bucket (compute-skew break)
      → main-content extraction                             [extract_spans.py]
      → write parser_output → manifest from the rows written → commit

Skew handling (north_rule): AQE only re-plans *shuffle* skew; the cost
of the extraction expressions scales with the byte-size of the spans
array, which AQE cannot see. So the pipeline repartitions explicitly on
the doc id: every task gets a bounded mix of monster and tiny documents.
This mirrors the reference's own insight — it splits big PDFs into
≤50-page batches so no single request owns a monster (reference
utils.py:117-163).

One pass per run: the extraction plan executes once, in the output
write. The manifest is built from a read-back of the rows that write
produced, never by running the plan again (see :func:`run_extract`).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_pdf_parser_spark.operators.extract_spans import extract
from azure_pdf_parser_spark.plans import manifest as mf
from azure_pdf_parser_spark.sinks.table_format import ParquetDirFormat
from azure_pdf_parser_spark.sources.spanize import derive_spans

# bucket boundaries on the serialized size of the spans payload (bytes of
# text; media refs are pointers). Tuned so the largest bucket's rows are
# each a bounded unit of work.
BUCKET_BOUNDS = [1_000, 10_000, 100_000, 1_000_000]


def size_bucket_col(spans) -> "F.Column":
    """Bucket by total payload bytes of the spans array — byte size, not
    span count (a few huge media-text spans cost more than many tiny
    ones)."""
    payload = F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.length(s.text).cast("long"), F.lit(0))
        + F.coalesce(F.length(s.media_ref).cast("long"), F.lit(0)),
    )
    bucket = F.lit("b0")
    for i, bound in enumerate(BUCKET_BOUNDS):
        bucket = F.when(payload >= bound, F.lit(f"b{i + 1}")).otherwise(bucket)
    return bucket


def with_skew_partitioning(
    documents: DataFrame,
    num_partitions: int | None = None,
    repartition: bool = True,
) -> DataFrame:
    """Add the ``bucket`` lineage column (payload-byte size class, for
    the manifest and per-bucket metrics) and hash-repartition on the
    doc id so heavy docs spread evenly.

    The repartition key is the doc_id itself: for unique keys every row
    is its own shuffle key, so monster docs scatter uniformly
    (balls-into-bins at doc granularity) regardless of how many land in
    the same size bucket. Keying on the bucket plus a few hash cells
    instead collapses each bucket to a handful of keys, and hash
    collisions then pile monsters onto a few tasks (caught by
    test_skew_partitioning_spreads_monster_docs).
    """
    df = documents.withColumn("bucket", size_bucket_col(F.col("spans")))
    if not repartition:
        return df
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, "doc_id")


def with_raw_partitioning(
    documents: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Hash-repartition the RAW (pre-derivation) rows on doc_id — the
    skew-spread shuffle placed before span derivation so the exchange
    moves flat text, not the larger derived structs."""
    n = num_partitions or documents.sparkSession.sparkContext.defaultParallelism * 2
    return documents.repartition(n, "doc_id")


def run_extract(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    manifest_path: str,
    run_id: str | None = None,
    num_partitions: int | None = None,
    spanize: bool = False,
) -> str:
    """The full job. Returns the run_id. Restart-safe: docs already
    'done' in the manifest are skipped via left-anti join.

    When ``spanize`` is set, the input is a flat text table and span
    derivation runs AFTER the resume anti-join and the skew
    repartition — the join and the shuffle then move the raw rows, not
    the several-times-larger derived span structs, and a resume no-op
    never derives a span at all (measured 3m47s → well under a minute
    on a 5M-doc no-op rerun).

    The run commits in this order (the protocol of manifest.py's
    module docstring):

    1. write the extracted rows, each with the ``partition_id`` of the
       task that wrote it, to the run-scoped ``{output_path}/run_id=
       {run_id}`` — the only execution of the extraction plan;
    2. read that directory back with the written schema (no inference
       job); the manifest selects only its lineage columns, so the scan
       never decodes the spans;
    3. append one manifest row per doc read back;
    4. rename the commit marker, publishing output and manifest rows
       together. The directory is uncommitted until then, so a crash at
       any step leaves no half-visible run.

    The manifest therefore lists exactly the docs the output received,
    with the task that wrote each, even when the input plan is
    nondeterministic.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    todo = mf.resume_filter(documents, spark, manifest_path)
    if spanize:
        # the shuffle moves the raw rows; the bucket is computed over the
        # derived spans, after it
        parted = with_skew_partitioning(
            derive_spans(with_raw_partitioning(todo, num_partitions)),
            num_partitions,
            repartition=False,
        )
    else:
        parted = with_skew_partitioning(todo, num_partitions)
    extracted = extract(parted, passthrough=("bucket",)).withColumn(
        "partition_id", F.spark_partition_id()
    )

    run_dir = f"{output_path}/run_id={run_id}"
    parquet = ParquetDirFormat()
    parquet.write(extracted, run_dir, mode="error")
    written = parquet.read(spark, run_dir, schema=extracted.schema)
    mf.append_manifest(written, manifest_path, run_id)
    mf.commit_run(manifest_path, run_id)
    return run_id
