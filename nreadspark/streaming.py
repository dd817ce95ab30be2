"""Structured Streaming surface: the same extraction kernel over a stream.

The reference has no streaming concept (SURVEY.md §2.8); the north rule only
mandates batch + checkpoint/resume.  This wrapper exists because at ingest
time a 10^12-document corpus arrives *continuously*: new parquet/Iceberg
files land in the input table and must be extracted exactly once.

Design: ``readStream`` on the input directory/table -> ``foreachBatch``
running the identical batch ``extract`` (pipeline.py) -> idempotent append.
``foreachBatch`` rather than a plain streaming sink because (a) the kernel
is a mapInArrow transform, fully supported inside it, (b) exactly-once comes
from the streaming checkpoint's batch-id tracking, and (c) each micro-batch
can reuse the batch path's skew handling unchanged.  Extraction itself is
stateless per document; the stateful surfaces here are the watermarked
window aggregation (``windowed_event_counts``) and the cross-batch
streaming dedup (``dedup_stream``, applyInPandasWithState).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from .pipeline import SPAN_TYPE, extract


def input_schema():
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    return StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
        ]
    )


def extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_doc_bytes: int | None = None,
):
    """Continuously extract newly-landed parquet files.

    Returns the started ``StreamingQuery``.  Exactly-once: the streaming
    checkpoint records which input files each micro-batch consumed; the
    parquet sink write inside ``foreachBatch`` is keyed by batch_id via
    idempotent overwrite of per-batch subdirectories.  ``max_doc_bytes``
    is the batch path's truncate-with-flag budget (pipeline.extract) --
    on a live crawl feed the budget matters MORE than in batch, because
    one pathological document would otherwise stall every subsequent
    micro-batch behind its task.
    """
    reader = spark.readStream.schema(input_schema())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from .lineage import write_marker
        from .pipeline import extraction_metrics

        started = _time.time()
        # persist once: the batch is WRITTEN once and READ zero times --
        # metrics come off the cached frame, not a re-scan of the sink dir
        out = extract(batch_df, max_doc_bytes=max_doc_bytes).persist()
        try:
            # per-batch subdirectory + overwrite => replaying a failed batch
            # replaces its partial output instead of duplicating it
            batch_dir = f"{output_path}/batch_id={batch_id}"
            out.write.mode("overwrite").parquet(batch_dir)
            # per-batch metrics manifest beside the batch pipeline's
            # per-bucket ones, committed the same way (local or Hadoop FS)
            try:
                row = extraction_metrics(out).collect()[0]
                manifest = {**row.asDict(), "batch_id": batch_id, "wall_sec": round(_time.time() - started, 3)}
                write_marker(
                    output_path, f"batch_{batch_id}.json", manifest,
                    spark=batch_df.sparkSession,
                )
            except Exception:  # metrics are advisory: never fail the batch
                logging.getLogger(__name__).warning(
                    "batch %d: metrics manifest not written", batch_id, exc_info=True
                )
        finally:
            out.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Read everything the stream has produced so far (all batch dirs)."""
    return spark.read.option("basePath", output_path).parquet(
        f"{output_path}/batch_id=*"
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream --
    the standard late-data-tolerant shape (SURVEY §2.8: the reference has no
    streaming; this is the engine's windowed-agg surface for ingest-side
    monitoring, e.g. docs/sec per source while a 10^12-doc extraction runs).

    Returns (window.start, window.end, <key>, n_events, total_value); state
    for windows older than the watermark is dropped, so memory is bounded
    regardless of stream length.
    """
    from pyspark.sql import functions as F

    return (
        # watermarks need TIMESTAMP (with local tz); parquet often carries NTZ
        events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch streaming dedup
# (applyInPandasWithState -- first occurrence of a text wins, forever)
# ---------------------------------------------------------------------------


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    ttl_minutes: int | None = None,
    emit_suppressed: bool = False,
) -> DataFrame:
    """Emit only the FIRST occurrence of each distinct text across the whole
    stream; later duplicates (same batch or any later batch) are suppressed.

    This is the streaming twin of ``ops.dedup.exact_duplicates``: at ingest
    time a crawl emits the same page repeatedly (re-crawls, mirrors), and a
    batch-side dedup would only see one micro-batch at a time.  State is one
    tiny struct (seen-count) per distinct sha256(text), partitioned by the
    group key -- Spark shards state across executors and checkpoints it, so
    the operator scales with the state store, not the driver.  sha256 rather
    than md5 because crawl input is adversarial: md5 chosen-prefix collisions
    are practical, and a collision here permanently suppresses a distinct
    document.  Migration note: the key change orphans state checkpointed by
    the earlier md5 build -- resuming an old checkpoint re-emits each
    already-seen text once under its new key; restart with a fresh
    checkpoint dir (and backfill via the batch dedup) for a clean cutover.

    ``n_prior`` is the number of earlier sightings of the text at emit time:
    0 for every row in the default first-wins mode (only firsts are
    emitted).  With ``emit_suppressed=True`` (debug/audit mode) suppressed
    duplicates are ALSO emitted, carrying their positive n_prior count, so
    the column distinguishes kept rows (0) from suppressed ones (>0).

    ``ttl_minutes`` bounds state for unbounded corpora: a key idle longer
    than the TTL is evicted (a re-crawl after eviction is re-emitted --
    at-least-once dedup, the standard tradeoff).  The default (None) keeps
    state forever -- exact dedup, but the state store grows with every
    distinct text ever seen.  **At crawl scale the state store, not the
    logic, is the risk**: set a TTL matched to the re-crawl horizon (days,
    not None) unless the corpus is finite, configure the RocksDB state
    store so state spills to local disk instead of living on the JVM heap
    (:data:`ROCKSDB_STATE_STORE_CONF` -- the HDFSBackedStateStoreProvider
    default keeps every key in executor memory), and monitor per-batch
    state size with :func:`state_store_metrics`.
    """
    from pyspark.sql import functions as F

    hashed = stream_df.withColumn("__text_hash", F.sha2(F.col(text_col), 256))
    return _first_wins(hashed, ttl_minutes, emit_suppressed)


def _first_wins(hashed: DataFrame, ttl_minutes: int | None, emit_suppressed: bool):
    """The stateful step both stream dedups share: group ``hashed`` on
    ``__text_hash`` and run :func:`_make_dedup_fn` through
    ``applyInPandasWithState`` -> ``(text_hash, doc_id, n_prior)``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if ttl_minutes is not None and ttl_minutes <= 0:
        # 0 would select ProcessingTimeTimeout (ttl is not None) while the
        # kernel's `if ttl_ms:` guard never arms the timer -- state kept
        # forever despite a TTL being requested.  Fail loudly instead.
        raise ValueError(
            f"ttl_minutes must be positive (got {ttl_minutes}); pass None "
            "to keep state forever"
        )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = int((ttl_minutes or 0) * 60_000)
    return hashed.groupBy("__text_hash").applyInPandasWithState(
        _make_dedup_fn(emit_suppressed, ttl_ms),
        "text_hash string, doc_id string, n_prior bigint",
        "n_seen bigint",
        "update",
        timeout,
    )


def dedup_media_stream(
    stream_df: DataFrame,
    which: str = "phash",
    ref_col: str = "media_ref",
    ttl_minutes: int | None = None,
    emit_suppressed: bool = False,
) -> DataFrame:
    """Streaming first-wins dedup on a 64-bit perceptual hash (r8): the
    media twin of :func:`dedup_stream` over any hash table the batch
    tiers emit (``image_hashes`` / ``video_keyframe_hashes`` /
    ``pdf_image_hashes`` / ``audio_cover_hashes`` -- all one schema).
    Ingest-time semantics are hamming-0 (exact hash): the state store is
    KEYED, and a <=3-bit neighborhood of a 64-bit key has ~43k members,
    so near-dup radii stay a batch job (the banded join); streaming
    exact-hash suppression still removes the re-crawl/mirror bulk before
    anything is stored.

    Output: ``(hash_key, media_ref, n_prior)``.  Rows with NULL hashes
    (undecodable/capped payloads) are EXCLUDED -- they carry no identity
    to dedup on; union them back downstream if the pipeline keeps them.
    Same state-store guidance as :func:`dedup_stream`
    (:data:`ROCKSDB_STATE_STORE_CONF`, TTL for unbounded streams)."""
    from pyspark.sql import functions as F

    hi, lo = f"{which}_hi", f"{which}_lo"
    hashed = (
        stream_df.filter(F.col(hi).isNotNull() & F.col(lo).isNotNull())
        .withColumn(
            "__text_hash",
            F.concat_ws(":", F.lit(which), F.col(hi).cast("string"), F.col(lo).cast("string")),
        )
        .withColumn("doc_id", F.col(ref_col))
    )
    # the kernel's column names are its contract -- rename AFTER the
    # stateful operator rather than risking name-vs-position drift
    out = _first_wins(hashed, ttl_minutes, emit_suppressed)
    return out.select(
        F.col("text_hash").alias("hash_key"),
        F.col("doc_id").alias(ref_col),
        "n_prior",
    )


def _make_dedup_fn(emit_suppressed: bool, ttl_ms: int):
    """The applyInPandasWithState kernel of :func:`dedup_stream`, factored
    out so the timeout branch -- which an in-process test cannot reach
    without wall-clock TTL waits -- is unit-testable with a stub state."""

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # TTL eviction: drop the key's state; a later re-crawl of the
            # same text is re-emitted (at-least-once dedup, the documented
            # tradeoff).  Nothing is emitted for the eviction itself.
            state.remove()
            yield pd.DataFrame(
                {"text_hash": pd.Series(dtype="object"),
                 "doc_id": pd.Series(dtype="object"),
                 "n_prior": pd.Series(dtype="int64")}
            )
            return
        (n_seen,) = state.get if state.exists else (0,)
        rows = []
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                if n_seen == 0 or emit_suppressed:
                    rows.append((key[0], str(doc_id), n_seen))
                n_seen += 1
        state.update((n_seen,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(rows, columns=["text_hash", "doc_id", "n_prior"])

    return fn


# Session config for disk-backed streaming state: RocksDB keeps the working
# set off-heap and spills to local SSD, so stateful-operator capacity scales
# with executor disk instead of JVM heap (the default HDFS-backed provider
# holds every key in memory).  changelogCheckpointing uploads per-batch
# deltas instead of full snapshots -- the right default for large state.
# Apply at session build:  for k, v in ROCKSDB_STATE_STORE_CONF.items():
#     builder = builder.config(k, v)
ROCKSDB_STATE_STORE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def state_store_metrics(query, last_only: bool = True) -> list[dict]:
    """Per-batch, per-operator state-store size metrics for a running (or
    finished) streaming query -- the monitoring hook for unbounded-state
    operators like :func:`dedup_stream`.

    Reads ``query.lastProgress`` (or the whole ``recentProgress`` ring with
    ``last_only=False``) and flattens each ``stateOperators`` entry to
    ``{batch_id, operator, state_rows, rows_updated, rows_removed,
    memory_used_bytes}``.  ``state_rows`` is the total keys held (for
    dedup_stream: distinct texts seen and not yet TTL-evicted) -- alert on
    its growth rate; ``rows_removed`` confirms TTL eviction is actually
    happening.  Returns [] when no progress has been reported yet."""
    progresses = [query.lastProgress] if last_only else list(query.recentProgress)
    out = []
    for p in progresses:
        if not p:
            continue
        for op in p.get("stateOperators") or []:
            out.append(
                {
                    "batch_id": p.get("batchId"),
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                    "memory_used_bytes": op.get("memoryUsedBytes"),
                }
            )
    return out
