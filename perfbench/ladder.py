"""The extraction layer ladder, each rung timed to a noop sink:

* L0: parquet scan plus the JVM span-to-HTML reassembly;
* L1: L0 plus an identity ``mapInArrow`` (the Python task and Arrow crossing);
* empty: the identity over as many tasks as L1, each with no rows;
* L3: the full ``pipeline.extract`` (L1 plus the kernel and output build).
"""

from __future__ import annotations

import statistics
import time


def identity_batches(batches):
    yield from batches


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    started = time.perf_counter()
    fn()
    return time.perf_counter() - started


def run(spark, corpus_path: str, reps: int, tracer) -> dict:
    """Median seconds per rung over ``reps`` interleaved rounds, plus the
    Python task count of the scan."""
    from nreadspark.pipeline import extract, html_from_spans_col

    corpus = spark.read.parquet(corpus_path)
    reassembled = corpus.select("doc_id", html_from_spans_col().alias("__html"))
    tasks = reassembled.rdd.getNumPartitions()
    empty = spark.range(0, tasks, 1, tasks).where("id < 0")
    rungs = {
        "L0": lambda: noop(reassembled),
        "L1": lambda: noop(reassembled.mapInArrow(identity_batches, reassembled.schema)),
        "empty": lambda: noop(empty.mapInArrow(identity_batches, empty.schema)),
        "L3": lambda: noop(extract(corpus)),
    }
    times: dict[str, list[float]] = {name: [] for name in rungs}
    for _ in range(reps):
        for name, fn in rungs.items():
            with tracer.span(f"ladder.{name}"):
                times[name].append(timed(fn))
    out = {name: statistics.median(ts) for name, ts in times.items()}
    out["tasks"] = tasks
    return out
