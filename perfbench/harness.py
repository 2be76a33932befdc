"""Workloads and the measured job runs shared by the end-to-end and the
traced benchmark runs (perfbench/run.py, perfbench/layers.py)."""

from __future__ import annotations

import os
import shutil
import time
import traceback

import gen
import session

MIN_REPS = 4  # timed job runs per run, at least, whatever --seconds says
READ_BACKS = 2  # full scans of the committed view after each timed job run


class Workload:
    """One input set and the job that consumes it."""

    def __init__(self, name: str, docs: int, warm_runs: int, raw: bool = False,
                 prior: float = 0.0, prior_runs: int = 0):
        self.name, self.docs, self.raw = name, docs, raw
        # job runs after the prior state, before timing: the JVM's JIT
        # keeps speeding the job up over its first runs
        self.warm_runs = warm_runs
        self.spanize = not raw
        self.prior, self.prior_runs = prior, prior_runs

    # -- inputs ------------------------------------------------------------
    def generate(self, seed: int, in_dir: str) -> dict:
        quarantine, heavy = set(), set()
        if self.raw:
            table, expected, quarantine = gen.raw_docs(seed, self.docs, pdf_share=0.6,
                                                       undecodable_share=0.03)
        else:
            # seven docs in the 10-100 KB size bucket
            table, expected, heavy = gen.skewed_text_docs(
                seed, self.docs, tail_kb=(12, 14, 15, 16, 18, 20, 28))
        return {"bytes": gen.write_parquet(table, in_dir, files=8), "expected": expected,
                "quarantine": quarantine, "heavy": heavy, "digest": gen.table_digest(table),
                "ids": table.column("doc_id").to_pylist()}

    def build_prior(self, spark, in_dir: str, inputs: dict, base: str) -> dict | None:
        """Committed prior runs covering ``prior`` of the doc_ids, none of
        them heavy: the state a restart finds when the heavy documents had
        not committed. Each is a ``run_extract`` call on its share of the
        input, so the state is the one the program itself leaves."""
        if not self.prior:
            return None
        from pyspark.sql import functions as F

        from azure_pdf_parser_spark.plans.extract import run_extract

        light = [d for d in inputs["ids"] if d not in inputs["heavy"]]
        done = light[: int(len(inputs["ids"]) * self.prior)]
        out, man = os.path.join(base, "out"), os.path.join(base, "manifest")
        docs = spark.read.parquet(in_dir)
        for k in range(self.prior_runs):
            run_extract(spark, docs.where(F.col("doc_id").isin(done[k::self.prior_runs])),
                        out, man, run_id=f"prior{k:03d}", spanize=self.spanize)
        return {"out": out, "manifest": man}

    # -- one job run ---------------------------------------------------------
    def run(self, spark, in_dir: str, out: str, man: str, staged: str, run_id: str,
            phase) -> None:
        """The job body; ``phase(name)`` is called before each call into the
        package (the traced run sets a job group there)."""
        from pyspark.sql import functions as F

        from azure_pdf_parser_spark.plans.extract import run_extract

        if self.raw:
            from azure_pdf_parser_spark.operators.parse import parse_documents

            phase("parse")
            parse_documents(spark.read.parquet(in_dir)).write.parquet(staged)
            docs = (spark.read.parquet(staged).where(F.col("status") == "ok")
                    .select("doc_id", "spans"))
        else:
            docs = spark.read.parquet(in_dir)
        phase("extract")
        run_extract(spark, docs, out, man, run_id=run_id, spanize=self.spanize)


# Why these two: see BENCHMARK.json. Sizes are small on purpose: at this
# scale a run_extract call is mostly per-action fixed cost (building the
# langid plan, scheduling, file commits), and 48 benchmark runs must fit
# the time budget on a 4-core host.
WORKLOADS = {
    w.name: w
    for w in [
        Workload("raw_parse", docs=3000, warm_runs=5, raw=True),
        # the prior runs warm up the same code, all but the heavy docs
        Workload("text_resume", docs=3000, warm_runs=2, prior=0.9, prior_runs=3),
    ]
}


# ---------------------------------------------------------------------------
# measurement helpers
# ---------------------------------------------------------------------------

def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's hidden/_SUCCESS files excluded."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def file_set(path: str) -> set:
    if not os.path.isdir(path):
        return set()
    return {n for n in os.listdir(path) if n.endswith(".parquet")}


def _link_or_copy(src: str, dst: str) -> None:
    if "_SUCCESS" in os.path.basename(src):
        shutil.copy2(src, dst)
    else:
        os.link(src, dst)


def peak_rss_mb() -> float:
    """Σ VmHWM of this process's descendants: the Spark JVM and its
    Python worker processes."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    total_kb, todo = 0, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Run:
    """State of one benchmark invocation: work dir, session, inputs."""

    def __init__(self, w: Workload, seed: int, root: str):
        self.w, self.seed = w, seed
        self.work = os.path.join(root, ".bench_work", f"{w.name}-s{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # Python, the launcher and the JVM inherit it: no scratch outside
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.zip = session.build_package_zip(root, os.path.join(root, ".bench_build"))
        self.spark = None
        self.cores = session.host_cores()
        self.rep_no = 0
        self.rss = 0.0
        self.failed_docs = 0
        self.attempted_docs = 0
        self.notes: list[str] = []
        self.ref = None
        self.warm_s: list[float | None] = []  # None: the run raised
        self.t_start = time.perf_counter()
        self.timeline: list[tuple[str, float]] = []

    def mark(self, label: str) -> None:
        self.timeline.append((label, round(time.perf_counter() - self.t_start, 2)))

    def start(self, cores: int, event_log: str | None = None):
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.start(cores, self.work, self.zip, event_log)
        return self.spark

    def setup(self) -> float:
        """The cold set-up, in seconds: JVM and session start, input
        generation, prior state and warm-up job runs."""
        import check

        t = time.perf_counter()
        self.start(self.cores)
        self.mark("session")
        self.in_dir = os.path.join(self.work, "input")
        self.inputs = self.w.generate(self.seed, self.in_dir)
        self.ref = check.Reference(self.inputs["expected"])
        self.mark("inputs")
        self.prior = self.w.build_prior(self.spark, self.in_dir, self.inputs,
                                        os.path.join(self.work, "prior"))
        self.mark("prior")
        for _ in range(self.w.warm_runs):
            r = self.rep(timed=False)
            self.warm_s.append(r.get("job_s"))
            self.discard(r)
        self.mark("warm")
        return time.perf_counter() - t

    def fresh_state(self, rep_dir: str) -> tuple[str, str]:
        out, man = os.path.join(rep_dir, "out"), os.path.join(rep_dir, "manifest")
        if self.prior:
            # hard-linked copy of the pristine prior state: the run only
            # adds files and a marker, except that Spark's append rewrites
            # the manifest's _SUCCESS (and its .crc) in place
            for src, dst in ((self.prior["out"], out), (self.prior["manifest"], man)):
                shutil.copytree(src, dst, copy_function=_link_or_copy)
        return out, man

    def rep(self, timed: bool = True, phase=None) -> dict:
        """One job run on a fresh (or restored) output and manifest.
        ``phase(name)``, if given, runs before each call into the package;
        the epoch time of each call is kept in ``marks``."""
        from azure_pdf_parser_spark.plans.manifest import committed_run_ids

        self.rep_no += 1
        rep_dir = os.path.join(self.work, f"rep{self.rep_no}")
        out, man = self.fresh_state(rep_dir)
        staged = os.path.join(rep_dir, "parsed")
        run_id = f"bench{self.rep_no:04d}"
        before = file_set(man)
        runs_before = len(committed_run_ids(man))
        marks: dict[str, float] = {}

        def hook(name: str) -> None:
            if phase:
                phase(name)
            marks[name] = time.time()

        t0 = time.perf_counter()
        try:
            self.w.run(self.spark, self.in_dir, out, man, staged, run_id, hook)
        except Exception:
            # a run that raised fails all its docs
            self.failed_docs += self.w.docs
            self.attempted_docs += self.w.docs
            self.notes.append(traceback.format_exc(limit=3))
            shutil.rmtree(rep_dir, ignore_errors=True)
            return {"failed": True}
        job_s = time.perf_counter() - t0
        end_epoch = time.time()
        out_bytes, out_files = dir_bytes(os.path.join(out, f"run_id={run_id}"))
        new_manifest = file_set(man) - before
        man_bytes = sum(os.path.getsize(os.path.join(man, n)) for n in new_manifest)
        staged_bytes = dir_bytes(staged)[0]
        self.rss = max(self.rss, peak_rss_mb())
        r = {"job_s": job_s, "marks": marks, "end_epoch": end_epoch, "dir": rep_dir,
             "out": out, "manifest": man, "staged": staged, "run_id": run_id,
             "runs_before": runs_before, "out_bytes": out_bytes, "out_files": out_files,
             "manifest_bytes": man_bytes,
             "write_amp": (out_bytes + man_bytes + staged_bytes) / self.inputs["bytes"]}
        if timed:
            r["read_back_s"] = [self.read_back(out, man) for _ in range(READ_BACKS)]
        return r

    def read_back(self, out: str, man: str) -> float:
        """Seconds for a full scan of the committed view, as downstream
        readers see it."""
        from azure_pdf_parser_spark.plans.manifest import read_parser_output

        t = time.perf_counter()
        read_parser_output(self.spark, out, man).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def discard(self, r: dict) -> None:
        if "dir" in r:
            shutil.rmtree(r["dir"], ignore_errors=True)

    def measure(self, seconds: float, timed: bool = True, phase=None,
                min_reps: int = MIN_REPS) -> list[dict]:
        """Job runs until ``seconds`` have passed and ``min_reps`` ran; every
        run's output is kept for the correctness check. Raises when
        ``min_reps`` runs fail."""
        reps: list[dict] = []
        failures = 0
        deadline = time.perf_counter() + seconds
        while len(reps) < min_reps or time.perf_counter() < deadline:
            r = self.rep(timed, phase(len(reps)) if phase else None)
            if r.get("failed"):
                failures += 1
                if failures >= min_reps:
                    raise RuntimeError("job runs keep failing:\n" + self.notes[-1])
                continue
            reps.append(r)
        return reps

    def check_all(self, reps: list[dict], keep: dict | None = None) -> dict:
        """Check every run in ``reps``, then discard all but ``keep``;
        returns the parse stage's counts of ``keep``."""
        kept: dict = {}
        for r in reps:
            extra = self.check(r)
            if r is keep:
                kept = extra
            else:
                self.discard(r)
        return kept

    def check(self, r: dict) -> dict:
        """Correctness of ``r``'s committed view; its docs count as attempted.
        Returns the parse stage's counts for the ledger."""
        import check

        self.attempted_docs += self.w.docs

        seen = check.committed_view(self.spark, r["out"], r["manifest"])
        bad, notes = check.bad_docs(self.ref, seen, check.manifest_done(self.spark, r["manifest"]))
        extra: dict = {}
        if self.w.raw:
            rows = (self.spark.read.parquet(r["staged"]).select("doc_id", "status", "attempts")
                    .toArrow().to_pylist())
            pbad, pnotes, extra = check.parse_outcome(rows, self.inputs["quarantine"])
            if len(rows) != self.w.docs:
                pbad += abs(self.w.docs - len(rows))
                pnotes.append(f"parse emitted {len(rows)} rows for {self.w.docs} docs")
            bad, notes = bad + pbad, notes + pnotes
        self.failed_docs += bad
        self.notes += notes
        return extra

    def close(self) -> None:
        session.shutdown(self.spark)
        self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run's work dir is still there


