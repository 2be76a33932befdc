"""Resume / lineage manifest (north_rule: "resumable from checkpoint with
per-partition lineage + metrics") + the atomic run-commit protocol.

The reference's resumability is skip-on-failure + rerun (run.py:27-39);
the engine formalizes it: every completed document writes a manifest row
(run_id, partition_id, doc_id, status, span_count, bucket, updated_at).
A restart anti-joins the input against completed doc_ids — only
unfinished work reruns.

Atomicity (SURVEY §7.4.5): output parquet and manifest are two
multi-file writes — neither is atomic, and a crash between them must
not surface half a run. The commit protocol makes the run the unit of
atomicity:

    1. output rows   → ``{output_path}/run_id={run_id}/``   (run-scoped)
    2. manifest rows → built from a read-back of step 1's rows, appended
                       under ``{manifest_path}``
    3. publish       → single-file rename of ``_commits/{run_id}``

Step 2 reads the files step 1 wrote instead of running the job's plan a
second time, so the manifest holds exactly the docs the output holds,
each with the ``partition_id`` of the task that wrote it.

Readers (``completed_doc_ids``, ``read_parser_output``) only see runs
whose marker exists, so a crash at any point leaves at worst an
orphaned, invisible run directory (reclaimed by ``gc_uncommitted``); a
resume reprocesses exactly the uncommitted docs under a fresh run_id
and the committed view contains every doc exactly once. The marker
rename is atomic on POSIX, a single PUT on object stores; at production
scale steps 2–3 collapse into one Iceberg snapshot commit — the reader
semantics here are the same. Paths use ``os`` because the sandbox is
local-fs; swap for the Hadoop FileSystem API off-box.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from azure_pdf_parser_spark.schemas import MANIFEST


def _commits_dir(manifest_path: str) -> str:
    # leading underscore: Spark's file index treats _-prefixed paths as
    # hidden, so markers never pollute a parquet read of manifest_path
    return os.path.join(manifest_path, "_commits")


def commit_run(manifest_path: str, run_id: str) -> None:
    """Atomically publish a run: temp-write + rename the marker file."""
    d = _commits_dir(manifest_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{run_id}.tmp")
    with open(tmp, "w") as f:
        f.write(run_id)
    os.replace(tmp, os.path.join(d, run_id))


def committed_run_ids(manifest_path: str) -> list[str]:
    d = _commits_dir(manifest_path)
    if not os.path.isdir(d):
        return []
    return sorted(x for x in os.listdir(d) if not x.startswith("."))


def read_parser_output(
    spark: SparkSession, output_path: str, manifest_path: str
) -> DataFrame:
    """The committed view of the output table.

    ``run_id`` is a partition column (directory-encoded), so the isin
    filter prunes uncommitted/orphaned run directories at planning time
    — the scan never touches their files. Run count grows by one per
    job run, so the literal list stays small; a deployment with
    thousands of runs would compact old runs instead.
    """
    runs = committed_run_ids(manifest_path)
    schema = _written_schema(output_path, runs)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(output_path)
    if not runs:
        return df.where(F.lit(False))
    return df.where(F.col("run_id").cast("string").isin(runs))


# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _written_schema(output_path: str, runs: list[str]) -> StructType | None:
    """The Spark schema in the footer of the first data file of a
    committed run, or None when there is none.

    ``spark.read.parquet`` without a schema launches a one-task job per
    read to fetch one file's footer (schema merging is off); reading that
    footer here gives the same schema without the job."""
    import pyarrow.parquet as pq

    for run_id in runs:
        d = os.path.join(output_path, f"run_id={run_id}")
        names = sorted(os.listdir(d)) if os.path.isdir(d) else []
        for name in names:
            if name.startswith("part-") and name.endswith(".parquet"):
                meta = pq.read_metadata(os.path.join(d, name)).metadata or {}
                if _SPARK_SCHEMA_KEY in meta:
                    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return None


def gc_uncommitted(output_path: str, manifest_path: str) -> list[str]:
    """Remove orphaned (uncommitted) run directories. Only safe when no
    writer is in flight — the caller owns that fence (at scale: Iceberg
    expire-snapshots/orphan-file cleanup plays this role)."""
    import shutil

    committed = set(committed_run_ids(manifest_path))
    removed = []
    if not os.path.isdir(output_path):
        return removed
    for entry in os.listdir(output_path):
        if entry.startswith("run_id="):
            run_id = entry.split("=", 1)[1]
            if run_id not in committed:
                shutil.rmtree(os.path.join(output_path, entry))
                removed.append(run_id)
    return removed


def append_manifest(extracted: DataFrame, manifest_path: str, run_id: str) -> None:
    """Append one manifest row per doc of an extracted parser_output
    DataFrame.

    ``partition_id`` (and ``bucket``) come from the frame's own column
    when it has one: run_extract passes the read-back of its run
    directory, whose ``partition_id`` is the task that wrote each doc.
    Without the column it is spark_partition_id() of this append's
    tasks; without ``bucket`` it is NULL.
    """

    def own(name: str, default: "F.Column") -> "F.Column":
        return F.col(name) if name in extracted.columns else default

    extracted.select(
        F.lit(run_id).alias("run_id"),
        own("partition_id", F.spark_partition_id()).alias("partition_id"),
        "doc_id",
        F.when(F.col("status") == "ok", "done").otherwise("failed").alias("status"),
        F.col("span_count").cast("long").alias("span_count"),
        own("bucket", F.lit(None).cast("string")).alias("bucket"),
        F.current_timestamp().alias("updated_at"),
    ).write.mode("append").parquet(manifest_path)


def completed_doc_ids(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """Done doc ids from COMMITTED runs only — manifest rows from a run
    that crashed before its commit marker must not suppress the rerun."""
    runs = committed_run_ids(manifest_path)
    if not runs or not os.path.exists(manifest_path):
        return None
    mf = spark.read.schema(MANIFEST).parquet(manifest_path)
    return (
        mf.where(F.col("run_id").isin(runs) & (F.col("status") == "done"))
        .select("doc_id")
        .distinct()
    )


def resume_filter(
    documents: DataFrame, spark: SparkSession, manifest_path: str
) -> DataFrame:
    """Left-anti join input against completed docs — the restart path.

    The done-set is typically small relative to a fresh 100 TB run's
    input and md5-uniform on doc_id; AQE picks broadcast when it fits,
    else a shuffled anti-join on the uniform key.
    """
    done = completed_doc_ids(spark, manifest_path)
    if done is None:
        return documents
    return documents.join(done, on="doc_id", how="left_anti")


def partition_metrics(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Per-partition lineage metrics: docs, failures, spans produced."""
    mf = spark.read.schema(MANIFEST).parquet(manifest_path)
    return mf.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("n_failed"),
        F.sum("span_count").alias("total_spans"),
    )
