"""Watermarked windowed aggregation: stream result == batch result on a
bounded input (availableNow drains everything, so the watermark only gates
state eviction, not correctness)."""

from __future__ import annotations

import pytest


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from nreadspark.streaming import windowed_event_counts

    import shutil

    events_path = "/root/testdata/sf0.001/events.parquet"
    batch_events = spark.read.parquet(events_path)

    # file-stream sources need a directory
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(events_path, src_dir / "events.parquet")
    stream = spark.readStream.schema(batch_events.schema).parquet(str(src_dir))
    windowed = windowed_event_counts(stream, "1 hour", "10 minutes")

    out = str(tmp_path / "out")
    q = (
        windowed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in (
            batch_events.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .collect()
        )
    }
    # append mode emits only windows sealed by the watermark; every emitted
    # window must match the batch aggregate exactly, and nearly all windows
    # of a bounded historical file are sealed
    assert got, "stream produced no sealed windows"
    assert len(got) >= len(expected) - 25  # trailing windows may stay open
    for key, val in got.items():
        assert expected[key] == val, key


def test_dedup_stream_suppresses_cross_batch_duplicates(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): a text seen in batch 1 is
    suppressed when it reappears in batch 2; within-batch dups emit once."""
    from nreadspark.streaming import dedup_stream

    src_dir = tmp_path / "docs_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [("a", "alpha text"), ("b", "beta text"), ("b2", "beta text")],
        "doc_id string, text string",
    )
    b2 = spark.createDataFrame(
        [("c", "alpha text"), ("d", "delta text")],
        "doc_id string, text string",
    )
    # one file per micro-batch, named so batch order is deterministic
    b1.coalesce(1).write.parquet(str(src_dir / "f1"))
    b2.coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir) + "/f*")
    )
    out = dedup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_stream_test").collect()
    emitted = {r["doc_id"] for r in rows}
    # 'alpha text': first occurrence only (a, not c); 'beta text': exactly
    # one of b/b2 (within-batch order not guaranteed); 'delta text': d
    assert "d" in emitted and "c" not in emitted and "a" in emitted
    assert len(emitted & {"b", "b2"}) == 1
    assert all(r["n_prior"] == 0 for r in rows)
    assert len(rows) == 3

    # state-size monitoring: the progress feed exposes per-batch state-store
    # rows -- after both batches the store holds the 3 distinct texts, and
    # memory accounting is live (the metric an unbounded-state alert uses)
    from nreadspark.streaming import state_store_metrics

    metrics = state_store_metrics(q, last_only=False)
    assert metrics, "no stateOperators progress reported"
    by_batch = {m["batch_id"]: m for m in metrics}
    final = by_batch[max(by_batch)]
    assert final["state_rows"] == 3
    assert final["memory_used_bytes"] > 0
    # batch 1 held 2 keys (alpha, beta); batch 2 added delta
    if len(by_batch) > 1:
        assert by_batch[min(by_batch)]["state_rows"] == 2


def test_dedup_stream_emit_suppressed_counts_priors(spark, tmp_path):
    """Debug/audit mode: suppressed duplicates are also emitted with their
    positive prior-sighting count, making n_prior a live column."""
    from nreadspark.streaming import dedup_stream

    src_dir = tmp_path / "docs_src2"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt2")

    b1 = spark.createDataFrame(
        [("a", "alpha text"), ("b", "beta text")], "doc_id string, text string"
    )
    b2 = spark.createDataFrame(
        [("c", "alpha text"), ("e", "alpha text")], "doc_id string, text string"
    )
    b1.coalesce(1).write.parquet(str(src_dir / "f1"))
    b2.coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir) + "/f*")
    )
    out = dedup_stream(stream, emit_suppressed=True)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_audit")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["n_prior"] for r in spark.sql(
        "SELECT * FROM dedup_stream_audit").collect()}
    assert rows["a"] == 0 and rows["b"] == 0
    # batch-2 'alpha text' dups are both emitted with prior counts 1 and 2
    assert sorted([rows["c"], rows["e"]]) == [1, 2]


def test_dedup_fn_ttl_timeout_branch():
    """Unit drive of the stateful kernel's TTL path (wall-clock TTL waits
    are untestable in-process): a timed-out key removes its state and
    emits nothing; a live key re-arms its timeout; after eviction the same
    text is treated as first-seen again (at-least-once dedup)."""
    import pandas as pd

    from nreadspark.streaming import _make_dedup_fn

    class StubState:
        def __init__(self, exists=False, value=None, timed_out=False):
            self.exists, self._v, self.hasTimedOut = exists, value, timed_out
            self.removed, self.updated, self.timeout_set = False, None, None

        @property
        def get(self):
            return self._v

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = _make_dedup_fn(emit_suppressed=False, ttl_ms=120_000)

    # timed-out key: state dropped, empty emission, no timer re-arm
    st = StubState(exists=True, value=(3,), timed_out=True)
    (out,) = list(fn(("h1",), iter([]), st))
    assert st.removed and st.updated is None and st.timeout_set is None
    assert len(out) == 0 and list(out.columns) == ["text_hash", "doc_id", "n_prior"]

    # live first-seen key: emits, updates count, arms the TTL timer
    st = StubState()
    batch = pd.DataFrame({"doc_id": ["a", "b"]})
    (out,) = list(fn(("h2",), iter([batch]), st))
    assert list(out["doc_id"]) == ["a"] and list(out["n_prior"]) == [0]
    assert st.updated == (2,) and st.timeout_set == 120_000

    # post-eviction re-sight: state gone -> first-wins again
    st = StubState(exists=False)
    (out,) = list(fn(("h2",), iter([pd.DataFrame({"doc_id": ["c"]})]), st))
    assert list(out["doc_id"]) == ["c"] and st.updated == (1,)


def test_dedup_stream_rejects_non_positive_ttl(spark):
    """ttl_minutes=0 used to select ProcessingTimeTimeout while the kernel's
    ``if ttl_ms:`` guard never armed the timer -- state kept forever despite
    a TTL being requested.  Non-positive TTLs now fail loudly."""
    from nreadspark.streaming import dedup_stream

    df = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    for bad in (0, -5):
        with pytest.raises(ValueError, match="ttl_minutes must be positive"):
            dedup_stream(df, ttl_minutes=bad)
    # None (keep-forever) and positive TTLs still build a plan
    assert dedup_stream(df, ttl_minutes=None) is not None
    assert dedup_stream(df, ttl_minutes=10) is not None


def test_dedup_media_stream_cross_batch(spark, tmp_path):
    """Streaming media dedup (r8): the same perceptual hash arriving in a
    later micro-batch is suppressed; NULL-hash (undecodable) rows never
    enter the state store."""
    from nreadspark.streaming import dedup_media_stream

    src_dir = tmp_path / "media_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "media_ckpt")
    schema = "media_ref string, phash_hi long, phash_lo long"

    b1 = spark.createDataFrame(
        [("img://1", 10, 20), ("img://2", 30, 40), ("img://bad", None, None)],
        schema,
    )
    b2 = spark.createDataFrame(
        [("vid://9", 10, 20), ("pdf://5/Fig1", 50, 60), ("aud://bad2", None, None)],
        schema,
    )
    b1.coalesce(1).write.parquet(str(src_dir / "f1"))
    b2.coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir) + "/f*")
    )
    q = (
        dedup_media_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_media_stream_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_media_stream_test").collect()
    emitted = {r["media_ref"] for r in rows}
    # vid://9 carries img://1's hash (cross-container dup) -> suppressed;
    # NULL-hash rows excluded entirely
    assert emitted == {"img://1", "img://2", "pdf://5/Fig1"}
    assert all(r["n_prior"] == 0 for r in rows)
    assert all(r["hash_key"].startswith("phash:") for r in rows)
