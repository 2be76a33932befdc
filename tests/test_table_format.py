"""Table-format seam (sinks/table_format.py): parquet default is
byte-equivalent to the direct write; the Iceberg adapter fails loudly
with configuration guidance when no catalog is registered (this sandbox
has no Iceberg runtime); identifier composition is pure and validated.
"""

from __future__ import annotations

import os

import pytest

from azure_pdf_parser_spark.sinks.table_format import (
    IcebergFormat,
    ParquetDirFormat,
    iceberg_available,
    iceberg_table_name,
)


def test_parquet_format_roundtrip_matches_direct_write(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "md5(cast(id as string)) AS h")
    direct = str(tmp_path / "direct")
    seamed = str(tmp_path / "seamed")
    df.write.mode("error").partitionBy().parquet(direct)
    ParquetDirFormat().write(df, seamed, mode="error")
    a = spark.read.parquet(direct).orderBy("id").collect()
    b = ParquetDirFormat().read(spark, seamed).orderBy("id").collect()
    assert a == b


def test_parquet_format_partition_by_prunes(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "cast(id % 4 as string) AS part")
    dest = str(tmp_path / "parted")
    ParquetDirFormat().write(df, dest, mode="error", partition_by=("part",))
    assert sorted(
        e for e in os.listdir(dest) if e.startswith("part=")
    ) == ["part=0", "part=1", "part=2", "part=3"]
    got = ParquetDirFormat().read(spark, dest).where("part = '2'")
    assert got.count() == 25


def test_parquet_format_respects_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    dest = str(tmp_path / "schema")
    spark.range(10).selectExpr("id", "id * 2 AS dbl").write.parquet(dest)
    schema = StructType([StructField("id", LongType())])
    got = ParquetDirFormat().read(spark, dest, schema=schema)
    assert got.columns == ["id"]  # pruned at the reader, no inference


def test_iceberg_table_name_composition():
    assert iceberg_table_name("prod", "cpr.parser_output") == "prod.cpr.parser_output"
    assert iceberg_table_name("", "cpr.parser_output") == "cpr.parser_output"
    with pytest.raises(ValueError):
        iceberg_table_name("prod", "")
    with pytest.raises(ValueError):
        iceberg_table_name("prod", ".bad")


def test_iceberg_unavailable_in_sandbox_raises_guidance(spark):
    assert not iceberg_available(spark, "prod")
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="spark.sql.catalog.prod"):
        IcebergFormat(catalog="prod").write(df, "db.t", mode="append")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergFormat(catalog="prod").read(spark, "db.t")


def test_iceberg_mode_validation(spark, monkeypatch):
    """With the availability probe faked, unsupported modes still fail
    fast before any writeTo call is issued."""
    import azure_pdf_parser_spark.sinks.table_format as tf

    monkeypatch.setattr(tf, "iceberg_available", lambda s, c: True)
    with pytest.raises(ValueError, match="unsupported mode"):
        tf.IcebergFormat("prod").write(spark.range(1), "db.t", mode="ignore")


def _find_iceberg_runtime_jar():
    """Filesystem probe for an Iceberg Spark runtime jar. Searched
    roots cover the Spark install, ivy/maven caches, and /opt — the
    places a jar could land without network access."""
    import glob

    roots = (
        "/opt/spark/jars",
        "/opt",
        "/root/.ivy2",
        "/root/.m2",
        "/usr/local",
        "/usr/share/java",
    )
    hits: list[str] = []
    for root in roots:
        hits += glob.glob(
            os.path.join(root, "**", "*iceberg-spark-runtime*.jar"),
            recursive=True,
        )
    return sorted(hits), roots


def test_iceberg_real_commit_roundtrip_when_jar_present():
    """Attempt a REAL Iceberg commit (r3 verdict ask #8): if an
    iceberg-spark-runtime jar is on disk, build a session with a
    hadoop catalog in a temp warehouse, run a DataFrameWriterV2
    create + append through IcebergFormat, and read back both the
    rows and the snapshot history (2 snapshots = 2 atomic commits).
    Without the jar — this sandbox ships none and has no network for
    --packages — the skip reason records that the probe ran and where
    it looked, keeping the loud-failure path (tested above) as the
    documented fallback."""
    hits, roots = _find_iceberg_runtime_jar()
    if not hits:
        pytest.skip(
            "iceberg jar probe RAN: no *iceberg-spark-runtime*.jar under "
            + ", ".join(roots)
            + " — real-commit path unexercisable offline; loud-failure "
            "fallback covered by "
            "test_iceberg_unavailable_in_sandbox_raises_guidance"
        )
    # Run in a SUBPROCESS spark-submit (the production launch shape):
    # spark.jars and the catalog registration are static confs, so a
    # builder.getOrCreate() inside pytest would silently reuse the
    # shared session fixture WITHOUT the jar — and stopping it would
    # kill every later Spark test.
    import subprocess
    import tempfile
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory() as wh:
        job = os.path.join(wh, "job.py")
        with open(job, "w") as f:
            f.write(
                textwrap.dedent(
                    """
                    import sys
                    from pyspark.sql import SparkSession
                    sys.path.insert(0, sys.argv[2])
                    from azure_pdf_parser_spark.sinks.table_format import IcebergFormat
                    spark = SparkSession.builder.getOrCreate()
                    fmt = IcebergFormat(catalog="it")
                    df = spark.range(5).withColumnRenamed("id", "doc_id")
                    fmt.write(df, "db.t", mode="overwrite")
                    fmt.write(df, "db.t", mode="append")
                    n = fmt.read(spark, "db.t").count()
                    snaps = spark.sql("SELECT * FROM it.db.t.snapshots").count()
                    print(f"ICEBERG_OK rows={n} snapshots={snaps}")
                    spark.stop()
                    """
                )
            )
        proc = subprocess.run(
            [
                "spark-submit",
                "--master", "local[2]",
                "--jars", hits[0],
                "--conf",
                "spark.sql.catalog.it=org.apache.iceberg.spark.SparkCatalog",
                "--conf", "spark.sql.catalog.it.type=hadoop",
                "--conf", f"spark.sql.catalog.it.warehouse={wh}",
                job, wh, repo,
            ],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "ICEBERG_OK rows=10" in proc.stdout, proc.stdout[-2000:]
        snaps = int(proc.stdout.split("snapshots=")[1].split()[0])
        assert snaps >= 2
