#!/usr/bin/env python
"""Extra measurement harness for the optimization rounds (guide §1).

NOT the driver contract -- ``bench.py`` stays frozen.  This file isolates
individual queries with the noop sink, reports best-of-N wall times plus
the Spark job/stage counts each execution schedules (job count is the
cheapest proxy for "how many actions/shuffle rounds does this query
run"), and can dump ``.explain("formatted")`` for any query into
``plans/r09/``.

Usage:
  python bench_extra.py time q1 q2 ...     # best-of-N timing + job counts
  python bench_extra.py time --all         # whole battery
  python bench_extra.py plan q1 q2 ...     # write plans/r09/<q>_<tag>.txt
  python bench_extra.py plan --tag after q1 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     BENCH_EXTRA_RUNS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import CPUS, SF_DIR, _force, _session  # noqa: E402

RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    args = sys.argv[2:]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2 :]

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = list(qs) if "--all" in args else [a for a in args if not a.startswith("-")]
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = _session(CPUS)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    from nreadspark.ops.dedup import release_caches

    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        if mode == "plan":
            os.makedirs(os.path.join(REPO, "plans", "r09"), exist_ok=True)
            for name in names:
                df = qs[name](spark, SF_DIR)
                jvm = spark.sparkContext._jvm
                txt = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                path = os.path.join(REPO, "plans", "r09", f"{name}_{tag}.txt")
                with open(path, "w") as fh:
                    fh.write(txt)
                release_caches()
                print(f"wrote {path}")
            return

        out = {}
        for name in names:
            fn = qs[name]
            sc.setJobDescription(f"bench_extra: {name}")
            runs = []
            jobs0 = len(tracker.getJobIdsForGroup(None) or [])
            for _ in range(RUNS):
                t0 = time.perf_counter()
                _force(fn(spark, SF_DIR))
                runs.append(time.perf_counter() - t0)
            jobs1 = len(tracker.getJobIdsForGroup(None) or [])
            release_caches()
            out[name] = {
                "best": round(min(runs), 3),
                "runs": [round(r, 3) for r in runs],
                "jobs_per_run": round((jobs1 - jobs0) / RUNS, 1),
            }
            print(json.dumps({name: out[name]}))
        print(json.dumps({"total_best": round(sum(v["best"] for v in out.values()), 3)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
