"""Traced run: the per-layer ledger of one workload.

1. The cold set-up (warm-up included), then untraced job runs. More
   untraced runs follow step 3; together they are the reference for
   tracing overhead.
   Last, job runs in a ``local[1]`` session: the base of ``scaling_eff``.
2. A fresh context with Spark's event log on. Each job run sets a job
   group per call into the package (``job<i>.parse``, ``job<i>.extract``),
   so the log attributes every task to its call; inside ``run_extract``
   the output write and the manifest append are its two SQL executions.
3. A prefix ladder with a ``noop`` sink, each prefix under its own job
   group: read → resume → partition → [spanize] → extract_spans → langid,
   then the same plan into a parquet sink. Spanize, extract and langid
   are fused into one stage, so their self time is the difference of
   neighbouring prefixes (each prefix includes every row above it).

A layer's ``self_s`` is its own span: a ladder difference for the fused
layers, the manifest action's span, and the time from the manifest
action's end to the return of ``run_extract`` for the commit.
``unattributed_s`` is the traced ``job_s`` minus the sum of the layers.
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog

LADDER_REPS = 2
TRACE_REPS = 3  # traced job runs, and local[1] runs for the scaling base
UNTRACED_REPS = 2  # untraced job runs before, and again after, the traced ones
# the size buckets the workloads fill: sf0.1-shaped docs are all under
# 1 KB (b0), the text_resume tail is 10-100 KB (b2)
BUCKETS = ("b0", "b2")


def prefixes(spark, w, in_dir: str, staged: str, man: str):
    """Yield (layer, DataFrame): the prefixes of run_extract's write action,
    in order, each built only when reached (so timing a prefix includes
    building its plan, as the job does)."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.operators.extract_spans import (
        doc_text_col, extract, kept_spans_col)
    from azure_pdf_parser_spark.plans import manifest as mf
    from azure_pdf_parser_spark.plans.extract import (
        with_raw_partitioning, with_skew_partitioning)
    from azure_pdf_parser_spark.sources.spanize import derive_spans

    if w.raw:
        docs = (spark.read.parquet(staged).where(F.col("status") == "ok")
                .select("doc_id", "spans"))
    else:
        docs = spark.read.parquet(in_dir)
    yield "sources.read", docs
    todo = mf.resume_filter(docs, spark, man)
    yield "manifest.resume", todo
    if w.spanize:
        raw = with_raw_partitioning(todo)
        yield "extract.partition", raw
        parted = with_skew_partitioning(derive_spans(raw), repartition=False)
        yield "spanize", parted
    else:
        parted = with_skew_partitioning(todo)
        yield "extract.partition", parted
    # extract without its language column: the same staged projections
    # as operators/extract_spans.extract, minus language_expr
    kept = (parted.select("doc_id", "bucket", kept_spans_col(F.col("spans")).alias("spans"))
            .withColumn("_doc_text", doc_text_col(F.col("spans"))))
    yield "extract_spans", kept.select("doc_id", "bucket", "spans",
                                       F.md5("_doc_text").alias("document_md5_sum"),
                                       F.size("spans").cast("bigint").alias("span_count"))
    yield "text.langid", extract(parted, passthrough=("bucket",))


def parse_prefixes(spark, in_dir: str):
    """Raw read, an identity ``mapInPandas`` over it (the Arrow round-trip
    floor) and the parse stage itself."""
    from azure_pdf_parser_spark.operators.parse import parse_documents

    raw = spark.read.parquet(in_dir)
    yield "parse.read", raw

    def identity(batches):
        yield from batches

    yield "parse.arrow_floor", raw.mapInPandas(identity, raw.schema)
    yield "parse", parse_documents(raw)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_ladder(run, staged: str) -> tuple[dict[str, float], dict[str, int]]:
    """Median wall time of every prefix (plan building included) with a
    noop sink, and of the full plan into the parquet sink; and, counted
    over the same plan, the docs the job reads and the spans that reach
    extract_spans."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.sinks.table_format import ParquetDirFormat

    spark, w = run.spark, run.w
    sc = spark.sparkContext
    ladder_dir = os.path.join(run.work, "ladder")
    _, man = run.fresh_state(ladder_dir)
    chains = [lambda: prefixes(spark, w, run.in_dir, staged, man)]
    if w.raw:
        chains.insert(0, lambda: parse_prefixes(spark, run.in_dir))
    steps = [(chain, name, _noop) for chain in chains for name, _ in chain()]
    times: dict[str, list[float]] = {}
    for k in range(LADDER_REPS):
        sink_dir = os.path.join(ladder_dir, f"sink{k}")
        sink = [(chains[-1], "text.langid",
                 lambda df: ParquetDirFormat().write(df, sink_dir, mode="error"))]
        for chain, name, action in steps + sink:
            label = "sink.write" if action is not _noop else name
            sc.setJobGroup(f"ladder.{label}.{k}", label, False)
            t = time.perf_counter()
            df = next(d for n, d in chain() if n == name)
            action(df)
            times.setdefault(label, []).append(time.perf_counter() - t)
    sc.setJobGroup("ladder.counts", "counts", False)
    prefix = dict(chains[-1]())
    parted = prefix["spanize" if w.spanize else "extract.partition"]
    counts = {"docs_in": prefix["sources.read"].count(),
              "spans_in": parted.select(F.sum(F.size("spans"))).first()[0] or 0}
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {name: statistics.median(v) for name, v in times.items()}, counts


def traced(run, seconds: float) -> dict:
    """The per-layer ledger: see the module docstring."""
    share = seconds / 4  # four timed phases: untraced ×2, traced, local[1]
    run.setup()
    # untraced runs before and after the traced ones, so the JIT's
    # warm-up does not pass for tracing overhead
    plain = run.measure(share, timed=False, min_reps=UNTRACED_REPS)
    run.check_all(plain)

    event_dir = os.path.join(run.work, "eventlog")
    spark = run.start(run.cores, event_log=event_dir)
    sc = spark.sparkContext

    def grouped(i: int):
        return lambda name: sc.setJobGroup(f"job{i}.{name}", name, False)

    reps = run.measure(share, timed=False, phase=grouped, min_reps=TRACE_REPS)
    sc.setLocalProperty("spark.jobGroup.id", None)
    mid = sorted(reps, key=lambda r: r["job_s"])[len(reps) // 2]
    ladder, ladder_counts = run_ladder(run, mid["staged"])
    parse_counts = run.check_all(reps, keep=mid)
    counts = {**_job_counts(spark, mid), **ladder_counts}
    run.discard(mid)
    spark.stop()  # closes the event log
    run.spark = None
    log = eventlog.EventLog(eventlog.find_log(event_dir))

    run.start(run.cores)
    more = run.measure(share, timed=False, min_reps=UNTRACED_REPS)
    run.check_all(more)
    run.start(1)
    base = run.measure(share, timed=False, min_reps=TRACE_REPS)
    run.check_all(base)
    return ledger(run, reps, mid, plain + more, base, ladder, log, parse_counts, counts)


def _job_counts(spark, r: dict) -> dict:
    """Counts over run ``r``'s own committed output and manifest rows."""
    from pyspark.sql import functions as F

    from azure_pdf_parser_spark.schemas import MANIFEST

    rows = (spark.read.schema(MANIFEST).parquet(r["manifest"])
            .where(F.col("run_id") == r["run_id"]).groupBy("bucket").count().collect())
    out = spark.read.parquet(os.path.join(r["out"], f"run_id={r['run_id']}")).agg(
        F.count("*").alias("docs"), F.count("language").alias("detected"),
        F.sum("span_count").alias("spans_kept")).first()
    return {"buckets": {row["bucket"]: row["count"] for row in rows},
            "docs": out["docs"], "detected": out["detected"],
            "spans_kept": out["spans_kept"] or 0}


def _phases(log, i: int, r: dict) -> dict[str, float]:
    """Wall split of traced job run ``i``: parse call, write action,
    manifest action, commit."""
    write, manifest = log.actions(f"job{i}.extract")[:2]
    marks = r["marks"]
    return {
        "parse": marks["extract"] - marks["parse"] if "parse" in marks else 0.0,
        "write": write.end_ms / 1e3 - marks["extract"],
        "manifest": (manifest.end_ms - write.end_ms) / 1e3,
        "commit": r["end_epoch"] - manifest.end_ms / 1e3,
    }


def ledger(run, reps, mid, plain, base, ladder, log, parse_counts, counts) -> dict:
    w, cores = run.w, run.cores
    med = statistics.median
    i_mid = reps.index(mid)
    phases = [_phases(log, i, r) for i, r in enumerate(reps)]
    job_s = med([r["job_s"] for r in reps])
    job_s_plain = med([r["job_s"] for r in plain])
    dps, dps1 = w.docs / job_s_plain, w.docs / med([r["job_s"] for r in base])

    def lad(name: str) -> float:
        return ladder.get(name, 0.0)

    def group_action(name: str):
        acts = log.actions(name)
        return acts[0] if acts else eventlog.Action()

    prev = "extract.partition"
    spanize_s = 0.0
    if w.spanize:
        spanize_s = lad("spanize") - lad("extract.partition")
        prev = "spanize"
    parse_s = lad("parse") - lad("parse.read") if w.raw else 0.0
    self_s = {
        "sources.read": lad("sources.read") + lad("parse.read"),
        "manifest.resume": lad("manifest.resume") - lad("sources.read"),
        "extract.partition": lad("extract.partition") - lad("manifest.resume"),
        "spanize": spanize_s,
        "extract_spans": lad("extract_spans") - lad(prev),
        "text.langid": lad("text.langid") - lad("extract_spans"),
        "parse": parse_s,
        "sink.write": lad("sink.write") - lad("text.langid"),
        "manifest.append": med([p["manifest"] for p in phases]),
        "manifest.commit": med([p["commit"] for p in phases]),
    }
    unattributed = job_s - sum(self_s.values())

    write_act, manifest_act = log.actions(f"job{i_mid}.extract")[:2]
    parse_act = group_action(f"job{i_mid}.parse")
    read_act = group_action("ladder.sources.read.0")
    resume_act = group_action("ladder.manifest.resume.0")
    part_act = group_action("ladder.extract.partition.0")
    spanize_act = group_action("ladder.spanize.0")
    man_rows = manifest_act.total("Output Metrics", "Records Written")
    docs_in = read_act.total("Input Metrics", "Records Read")

    spans_in, docs = counts["spans_in"], counts["docs"]

    m: dict[str, tuple[float, str]] = {f"{k}.self_s": (v, "s") for k, v in self_s.items()}
    m.update({
        "job_s_traced": (job_s, "s"),
        "job_s_untraced": (job_s_plain, "s"),
        "tracing_overhead_s": (job_s - job_s_plain, "s"),
        "unattributed_s": (unattributed, "s"),
        "unattributed_frac": (unattributed / job_s, "ratio"),
        "docs_per_s_1core": (dps1, "1/s"),
        "scaling_eff": (dps / (cores * dps1), "ratio"),
        "sources.read.rows": (docs_in, "count"),
        "sources.read.bytes": (read_act.total("Input Metrics", "Bytes Read")
                               + group_action("ladder.parse.read.0").total(
                                   "Input Metrics", "Bytes Read"), "B"),
        "manifest.resume.docs_skipped": (counts["docs_in"] - man_rows, "count"),
        "manifest.resume.manifest_rows_read": (
            resume_act.total("Input Metrics", "Records Read") - docs_in, "count"),
        "manifest.resume.committed_runs": (mid["runs_before"], "count"),
        "extract.partition.shuffle_write_bytes": (
            write_act.total("Shuffle Write Metrics", "Shuffle Bytes Written"), "B"),
        "extract.partition.task_max_over_median": (write_act.task_max_over_median(), "ratio"),
        "spanize.spans_out": (spans_in if w.spanize else 0, "count"),
        "spanize.gc_s": (max(0.0, spanize_act.total("JVM GC Time")
                             - part_act.total("JVM GC Time")) / 1e3 if w.spanize else 0.0, "s"),
        "spanize.spill_bytes": (spanize_act.total("Memory Bytes Spilled")
                                + spanize_act.total("Disk Bytes Spilled"), "B"),
        "extract_spans.spans_in": (spans_in, "count"),
        "extract_spans.kept_ratio": (counts["spans_kept"] / spans_in if spans_in else 0.0,
                                     "ratio"),
        "text.langid.docs": (docs, "count"),
        "text.langid.detected_ratio": (counts["detected"] / docs if docs else 0.0, "ratio"),
        "parse.arrow_floor_s": (lad("parse.arrow_floor") - lad("parse.read") if w.raw else 0.0,
                                "s"),
        "parse.quarantined": (parse_counts.get("quarantined", 0), "count"),
        "parse.retries": (parse_counts.get("retries", 0), "count"),
        "sink.write.bytes": (mid["out_bytes"], "B"),
        "sink.write.files": (mid["out_files"], "count"),
        "manifest.append.rows": (man_rows, "count"),
        "manifest.append.bytes": (mid["manifest_bytes"], "B"),
        "manifest.append.rows_rescanned": (
            manifest_act.total("Input Metrics", "Records Read") / man_rows if man_rows else 0.0,
            "ratio"),
    })
    for b in BUCKETS:
        m[f"extract.partition.docs_per_bucket.{b}"] = (counts["buckets"].get(b, 0), "count")
    for name, act in (("write", write_act), ("manifest", manifest_act), ("parse", parse_act)):
        for k, v in act.stats(cores).items():
            m[f"action.{name}.{k}"] = (v, "count" if k == "tasks" else _unit(k))
    record = {
        "samples": {"job_s_traced": len(reps), "job_s_untraced": len(plain),
                    "job_s_1core": len(base), "ladder_reps": LADDER_REPS},
        "scaling": {"cores": cores, "docs_per_s": round(dps, 2), "base_cores": 1,
                    "docs_per_s_1core": round(dps1, 2)},
        "ladder_s": {k: round(v, 4) for k, v in ladder.items()},
        "phases_s": [{k: round(v, 4) for k, v in p.items()} for p in phases],
    }
    return {"metrics": m, "record": record}


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "B"
    return "ratio"
