"""nreadspark benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Batch, closed loop: one Spark driver process on ``local[<cores>]``, no
client threads; each measured unit starts when the previous one ended.

Workloads (inputs generated from ``--seed``, untimed):

* ``extract_web``: the corpus family mix with its mega-document tail,
  through ``pipeline.extract`` to a noop sink.  The kernel's share of the
  work is the largest here (about a quarter of a pass), so a kernel change
  shows here.
* ``pipeline_resume``: ``lineage.run_extraction`` to bucketed parquet with
  one committed bucket then lost and the extraction restarted, then
  ``curate_resumable`` over the extracted text with a crash injected after
  ``line_clean``, and its restart.  The only workload that writes and
  restarts.

``--seconds`` is the only control of a run's length: measured units start
until that many seconds have passed.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is a separate run that measures one unit, prints the
per-layer metrics (including the operator layer: seven
``__spark_entry__.queries()`` over seeded tables) and writes its spans
under ``.perfbench/``.  Every run checks its outputs; the last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = {
    # name: (kind, documents, parquet files)
    "extract_web": ("extract", 2000, 64),
    "pipeline_resume": ("resume", 300, 8),
}

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_worker_rss_mb": "MB",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "pipeline.scan_reassembly_s": "s",
    "pipeline.arrow_crossing_s": "s",
    "pipeline.task_fixed_ms": "ms",
    "pipeline.python_tasks": "count",
    "pipeline.task_non_kernel_s": "s",
    "pipeline.partition_skew": "ratio",
    "pipeline.straggler_s": "s",
    "kernel.docs_per_s_1core": "1/s",
    "dom.parse_s": "s",
    "dom.parses_per_doc": "ratio",
    "kernel.prepare_s": "s",
    "kernel.content_s": "s",
    "kernel.glue_s": "s",
    "kernel.other_s": "s",
    "spans.emit_s": "s",
    "kernel.doc_ms_p50": "ms",
    "kernel.doc_ms_p99": "ms",
    "kernel.fallback_rerun_ratio": "ratio",
    "kernel.trace_overhead_s": "s",
    "lineage.extract_commit_s": "s",
    "lineage.resume_skip_ratio": "ratio",
    "lineage.recomputed_docs": "count",
    "curate.quality_s": "s",
    "curate.line_clean_s": "s",
    "curate.pairs_s": "s",
    "curate.final_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "ops.dedup_s": "s",
    "ops.images_s": "s",
    "ops.multipage_s": "s",
    "ops.quality_model_s": "s",
    "ops.similarity_s": "s",
    "query.multipage_extract_s": "s",
    "query.dedup_semantic_s": "s",
    "query.ann_ivf_topk_s": "s",
    "query.quality_model_score_s": "s",
    "query.dedup_cross_container_s": "s",
    "query.dedup_media_survivors_s": "s",
    "query.dedup_components_s": "s",
}
# measured and printed, but not in BENCHMARK.json: resume_s exists on one
# workload only, and the other two read 0 when the outputs are right
EXTRA = {"resume_s": "s", "error_rate": "ratio", "mismatched_outputs": "count"}


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import nreadspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import nreadspark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Spark, the JVM and the Python workers keep every temporary file here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    from perfbench.bench import Bench
    from perfbench.sparkenv import descendants, wait_gone

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        bench = Bench(args.workload, *WORKLOADS[args.workload], args.seed, args.seconds, work)
        record = bench.run(trace=bool(args.trace))
    finally:
        # the run leaves no process behind, on every path out of it
        wait_gone(descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)

    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in wanted.items()}
    record["trace_file"] = bench.trace_path and os.path.relpath(bench.trace_path, ROOT)
    with open(os.path.join(out_dir, f"{name}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    units = {**END_TO_END, **PER_LAYER, **EXTRA}
    for key, value in sorted(record["metrics"].items()):
        print(f"metric {key} {value!r} {units[key]}")
    print(f"record {os.path.relpath(os.path.join(out_dir, name + '.json'), ROOT)}")
    print(
        json.dumps(
            {
                "correct": record["correct"],
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
