"""Production-job benchmark: drives ``plans/extract.py:run_extract`` from outside.

    python3 perfbench/run.py --workload raw_parse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The job is read → resume anti-join →
repartition → [spanize] → extract → output write → manifest append →
commit; ``raw_parse`` puts ``parse_documents`` in front of it. Inputs are
generated from ``--seed`` (perfbench/gen.py); the package is zipped from
the checkout and shipped to the Python workers. Every run checks the
committed output against ``model.extract_spans_doc`` (perfbench/check.py).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer ledger (perfbench/layers.py).
A JSON line before it records the host, sample counts and raw samples.
Exit code 2: no package source in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import session  # noqa: E402
from harness import READ_BACKS, WORKLOADS, Run  # noqa: E402


def end_to_end(run: Run, seconds: float) -> dict:
    """Cold set-up, timed job runs at local[nproc], then the correctness
    check of every timed run."""
    setup_s = run.setup()
    run.mark("setup")
    reps = run.measure(seconds)
    run.mark("measure")
    run.check_all(reps)
    run.mark("check")

    job_s = statistics.median([r["job_s"] for r in reps])
    metrics = {
        "job_s": (job_s, "s"),
        "docs_per_s": (run.w.docs / job_s, "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (run.rss, "MB"),
        "write_amp": (statistics.median([r["write_amp"] for r in reps]), "ratio"),
        "read_back_s": (statistics.median([t for r in reps for t in r["read_back_s"]]), "s"),
    }
    record = {
        "samples": {"job_s": len(reps), "setup_s": 1, "read_back_s": len(reps) * READ_BACKS},
        "job_s_samples": [round(r["job_s"], 4) for r in reps],
        "warm_job_s_samples": [s and round(s, 4) for s in run.warm_s],
    }
    return {"metrics": metrics, "record": record}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, session.PACKAGE, "__init__.py")):
        print(f"perfbench: no {session.PACKAGE}/ package in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    w = WORKLOADS[args.workload]
    steal0, total0 = session.cpu_jiffies()
    run = Run(w, args.seed, root)
    try:
        if args.trace:
            import layers

            result = layers.traced(run, args.seconds)
        else:
            result = end_to_end(run, args.seconds)
    finally:
        run.close()

    steal1, total1 = session.cpu_jiffies()
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "docs": w.docs,
        "input_digest": run.inputs["digest"], "input_bytes": run.inputs["bytes"],
        "host": session.host_stamp(run.cores),
        "steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "notes": run.notes[:5],
        "timeline_s": run.timeline, **result["record"],
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed_docs == 0,
        "attempted": run.attempted_docs,
        "failed": run.failed_docs,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
