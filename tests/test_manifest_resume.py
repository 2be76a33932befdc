"""Resume manifest: restart skips completed docs; lineage metrics add up."""

from __future__ import annotations

import tempfile

from tests.conftest import SF_DIR


def test_run_extract_and_resume(spark):
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.plans import manifest as mf
    from azure_pdf_parser_spark.plans.extract import run_extract
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.sources.tables import load_table

    docs = derive_spans(load_table(spark, SF_DIR, "documents"))
    n_total = docs.count()
    half_a = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    half_b = docs.where(F.col("doc_id").cast("long") % 2 == 1)

    with tempfile.TemporaryDirectory() as tmp:
        out, man = f"{tmp}/out.parquet", f"{tmp}/manifest.parquet"

        # run 1: only even docs
        run_extract(spark, half_a, out, man, run_id="run1")
        done1 = mf.completed_doc_ids(spark, man).count()
        assert done1 == half_a.count()

        # run 2 gets the FULL input but must only process the odd half
        todo = mf.resume_filter(docs, spark, man)
        assert todo.count() == half_b.count()
        run_extract(spark, docs, out, man, run_id="run2")

        written = spark.read.parquet(out)
        assert written.count() == n_total
        assert written.select("doc_id").distinct().count() == n_total

        # per-partition lineage metrics cover every doc, spans add up
        metrics = mf.partition_metrics(spark, man)
        totals = metrics.agg(
            F.sum("n_docs").alias("docs"), F.sum("total_spans").alias("spans")
        ).collect()[0]
        assert totals["docs"] == n_total
        span_total = written.agg(F.sum("span_count")).collect()[0][0]
        assert totals["spans"] == span_total

        # manifest rows carry the skew bucket
        buckets = {
            r["bucket"]
            for r in spark.read.parquet(man).select("bucket").distinct().collect()
        }
        assert buckets and None not in buckets


def test_skew_partitioning_spreads_buckets(spark):
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.plans.extract import with_skew_partitioning
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.sources.tables import load_table

    docs = derive_spans(load_table(spark, SF_DIR, "documents"))
    parted = with_skew_partitioning(docs, num_partitions=8)
    sizes = (
        parted.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    # deterministic salt must spread rows: no partition owns >40% of rows
    assert max(counts) / sum(counts) < 0.4


def test_skew_partitioning_spreads_monster_docs(spark):
    """Adversarial compute skew: 64 monster docs in a sea of tiny ones.
    The salt must spread the monsters across partitions so no task owns
    a pile of them — THE property AQE cannot provide (UDF/expression
    cost is invisible to it), and the reason the pipeline repartitions
    on (size_bucket, salt) explicitly."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.plans.extract import with_skew_partitioning
    from azure_pdf_parser_spark.sources.spanize import derive_spans

    # 32 KB monsters (vs ~1 KB corpus docs) keep the suite fast; the
    # spreading property is size-independent (salt on doc_id)
    rows = [(i, "monster " * 4_000) for i in range(64)] + [
        (1000 + i, "tiny text") for i in range(1000)
    ]
    docs = derive_spans(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    parted = with_skew_partitioning(docs, num_partitions=16)
    per_part = (
        parted.withColumn("pid", F.spark_partition_id())
        .withColumn("is_monster", (F.col("doc_id") < 64).cast("int"))
        .groupBy("pid")
        .agg(F.sum("is_monster").alias("monsters"))
        .collect()
    )
    monsters = [r["monsters"] for r in per_part]
    # 64 monsters over 16 partitions: perfect spread = 4/partition; the
    # hash salt must keep the worst task below 3× perfect
    assert max(monsters) <= 12, monsters


def test_atomic_commit_crash_between_output_and_manifest(spark):
    """SURVEY §7.4.5: output parquet + manifest are two non-atomic
    writes. The run-commit protocol must make a crash at ANY point
    invisible: the committed view never contains a half run, a resume
    reprocesses exactly the uncommitted docs, and the final view has
    every doc exactly once."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.operators.extract_spans import extract
    from azure_pdf_parser_spark.plans import manifest as mf
    from azure_pdf_parser_spark.plans.extract import run_extract, with_skew_partitioning
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.sources.tables import load_table

    docs = derive_spans(load_table(spark, SF_DIR, "documents"))
    n_total = docs.count()
    half_a = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    half_b = docs.where(F.col("doc_id").cast("long") % 2 == 1)

    with tempfile.TemporaryDirectory() as tmp:
        out, man = f"{tmp}/out.parquet", f"{tmp}/manifest.parquet"

        # run1 commits cleanly
        run_extract(spark, half_a, out, man, run_id="run1")
        assert mf.committed_run_ids(man) == ["run1"]

        # run2 CRASHES after writing output AND manifest rows but before
        # the commit marker (the worst interleaving: both sinks written)
        crashed = extract(with_skew_partitioning(half_b), passthrough=("bucket",))
        crashed.write.parquet(f"{out}/run_id=run2")
        mf.append_manifest(crashed, man, "run2")
        # (no mf.commit_run -> simulated crash)

        # the committed view shows ONLY run1; run2's files are invisible
        view = mf.read_parser_output(spark, out, man)
        assert view.count() == half_a.count()
        assert set(view.select("run_id").distinct().toPandas()["run_id"]) == {"run1"}

        # resume sees run2's docs as NOT done (its manifest rows are
        # uncommitted) and reprocesses exactly them
        todo = mf.resume_filter(docs, spark, man)
        assert todo.count() == half_b.count()
        run_extract(spark, docs, out, man, run_id="run3")

        view = mf.read_parser_output(spark, out, man)
        assert view.count() == n_total
        assert view.select("doc_id").distinct().count() == n_total

        # the orphaned run2 dir is reclaimable, committed runs survive
        assert mf.gc_uncommitted(out, man) == ["run2"]
        assert mf.read_parser_output(spark, out, man).count() == n_total


def test_committed_read_prunes_uncommitted_partitions(spark):
    """read_parser_output's run filter must prune at planning time
    (PartitionFilters), never scan-then-filter an orphaned run; and
    planning the view runs no job (no schema-inference pass), yet gives
    the schema inference would."""
    from azure_pdf_parser_spark.plans import manifest as mf
    from azure_pdf_parser_spark.plans.extract import run_extract
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.sources.tables import load_table

    docs = derive_spans(load_table(spark, SF_DIR, "documents")).limit(20)
    tracker = spark.sparkContext.statusTracker()
    with tempfile.TemporaryDirectory() as tmp:
        out, man = f"{tmp}/out.parquet", f"{tmp}/manifest.parquet"
        run_extract(spark, docs, out, man, run_id="runA")
        jobs_before = set(tracker.getJobIdsForGroup())
        view = mf.read_parser_output(spark, out, man)
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert set(tracker.getJobIdsForGroup()) == jobs_before
        assert "PartitionFilters" in plan and "run_id" in plan, plan
        assert view.schema == spark.read.parquet(out).schema


def test_manifest_matches_output_on_nondeterministic_input(spark):
    """The manifest is built from the rows the output write produced,
    not from a second execution of the job's plan. An input that
    changes on every execution (a nondeterministic ~50% filter) must
    still leave a committed manifest with exactly the committed
    output's docs, each with the partition_id the output records."""
    import random

    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.plans import manifest as mf
    from azure_pdf_parser_spark.plans.extract import run_extract
    from azure_pdf_parser_spark.schemas import MANIFEST
    from azure_pdf_parser_spark.sources.spanize import derive_spans
    from azure_pdf_parser_spark.sources.tables import load_table

    coin = F.udf(lambda _: random.random() < 0.5, "boolean").asNondeterministic()
    docs = derive_spans(load_table(spark, SF_DIR, "documents")).where(
        coin("doc_id")
    )

    with tempfile.TemporaryDirectory() as tmp:
        out, man = f"{tmp}/out.parquet", f"{tmp}/manifest.parquet"
        run_extract(spark, docs, out, man, run_id="coin")
        output = mf.read_parser_output(spark, out, man)
        manifest = (
            spark.read.schema(MANIFEST)
            .parquet(man)
            .where(F.col("run_id").isin(mf.committed_run_ids(man)))
        )

        out_ids = [r["doc_id"] for r in output.select("doc_id").collect()]
        man_ids = [r["doc_id"] for r in manifest.select("doc_id").collect()]
        assert out_ids and len(set(out_ids)) == len(out_ids)
        assert len(set(man_ids)) == len(man_ids)
        assert set(man_ids) == set(out_ids)

        def pids(df):
            return {
                r["doc_id"]: r["partition_id"]
                for r in df.select("doc_id", "partition_id").collect()
            }

        assert pids(manifest) == pids(output)
