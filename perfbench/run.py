"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). A traced run also writes its spans to
``.perfbench_work/traces/<workload>-seed<seed>.json``. Exits non-zero
when a check fails, an engine call fails, no timed round completes or
the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def layer_metrics(run, session_s: float, index_parts: dict) -> dict:
    """The per-layer figures every workload has; the per-call breakdown
    is in the trace file."""
    counts = run.round_counts()
    return {
        "session.get_spark_s": (session_s, "s"),
        "setup.generate_pages_s": (run.setup_times["setup.generate_pages"], "s"),
        "setup.build_index_s": (run.setup_times["setup.build_index"], "s"),
        "setup.warmup_round_s": (run.setup_times["setup.warmup_round"], "s"),
        "round.calls": (len(run.rounds[0]), "count"),
        "round.slowest_call_s": (
            statistics.median(max(sp.duration for sp in calls) for calls in run.rounds), "s"),
        "round.spark_jobs": (counts["jobs"], "count"),
        "round.spark_stages": (counts["stages"], "count"),
        "round.spark_tasks": (counts["tasks"], "count"),
        "index.postings_bytes": (index_parts["postings"], "bytes"),
        "index.termstats_bytes": (index_parts["termstats"], "bytes"),
        "process.peak_rss_mb": (run.peak_rss_mb, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "batch_top1000", "search_requests"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout, by this process and by the
    # Python workers Spark starts
    sys.path.insert(1, ROOT)
    import sgpt_spark  # noqa: F401  (fails fast in a tree without the engine)

    import harness
    from workloads import WORKLOADS, Run

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    rss = harness.RssSampler().start()
    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, harness.Tracer(spark.sparkContext, bool(args.trace)), rss,
                  work, args.seed, args.seconds)
        WORKLOADS[args.workload](run)
        run.tracer.collect_counts()
        if run.index_path:
            index_bytes = harness.dir_bytes(run.index_path)
            index_parts = {part: harness.dir_bytes(os.path.join(run.index_path, part))
                           for part in ("postings", "termstats", "positions", "docvalues")}
            run.detail.update({f"index.{k}_bytes": v for k, v in index_parts.items()})
        for name, row in run.tracer.summary().items():
            print(f"perfbench: span {name} {json.dumps(row)}", file=sys.stderr)
        if args.trace:
            run.tracer.write(os.path.join(
                work_root, "traces", f"{args.workload}-seed{args.seed}.json"), run.detail)
    finally:
        harness.stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not run.rounds:
        run.problems.append("no timed round completed")
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    metrics = {}
    if run.rounds:
        e2e = {
            "setup_s": (run.setup_s, "s"),
            "round_s": (run.round_s(), "s"),
            "index_bytes_per_doc": (index_bytes / run.n_pages, "bytes/doc"),
        }
        print(f"perfbench: end-to-end {json.dumps(e2e)}", file=sys.stderr)
        metrics = layer_metrics(run, session_s, index_parts) if args.trace else e2e
    correct = not run.problems and run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
