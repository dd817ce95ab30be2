"""Per-partition checkpointed lineage + resumable runs.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics".  Mechanism:

* every document is deterministically assigned a **bucket** =
  ``pmod(xxhash64(doc_id), n_buckets)`` -- stable across runs and cluster
  sizes, so resume never depends on Spark partitioning;
* output parquet is written ``partitionBy("bucket")`` with dynamic partition
  overwrite, so re-running a bucket **replaces** any partial data from a
  crashed attempt (idempotent);
* the written frame is first rebalanced by bucket, so a bucket commits as
  one file (a few, where AQE splits an oversized bucket), not one per write
  task that held its rows -- later scans of the commit then run one task
  per bucket-sized split, not one per tiny file;
* after the write, one JSON **manifest** per bucket is committed atomically
  (tmp file + rename) under ``<output>/_lineage/`` with that bucket's metrics
  (docs in/out, extraction/fallback/retry/failure counts, bytes, kernel ms);
* resume = anti-join of the input against the set of committed manifests:
  only buckets without a manifest are recomputed;
* a job stage's (``StageRunner``) manifests also carry the stage's
  declared row counts and sums, computed in the same per-bucket
  aggregation; the stage stat is their sum over every committed
  manifest, so it stays exact across a resume with no extra Spark job;
* ``StageRunner`` derives every stage's checkpoint fingerprint from the
  job's declared stage table (the previous stage's fingerprint plus the
  stage's own knobs), so no job builds its chain by hand.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import Column, DataFrame, functions as F

from .ops.sampling import md5_bucket
from .pipeline import extract, kernel_metric_aggs

LINEAGE_DIR = "_lineage"


def bucket_col(n_buckets: int, doc_id_col: str = "doc_id"):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def input_fingerprint(df: DataFrame) -> str | None:
    """Cheap input-identity fingerprint for resume params: md5 over the
    frame's sorted source-file listing (``DataFrame.inputFiles`` -- a
    driver-side metadata call, no data scan).  Re-running a resumable job
    into the same output with a DIFFERENT input then mismatches every
    stage's params fingerprint and recomputes, instead of silently
    trusting checkpoints computed from the old corpus.

    Returns None for frames with no file lineage (in-memory ranges,
    ``createDataFrame``): such inputs are indistinguishable by listing --
    callers should pass an explicit identity string instead (the curate
    CLI passes ``synthetic:<n>``).

    Deliberately listing-only (names, which on object stores and HDFS
    embed immutable part-file UUIDs): stat-ing sizes/mtimes per file is an
    O(files) metadata storm at 10^12-document scale for marginal extra
    discrimination -- an in-place rewrite of the same file names is not a
    supported input mutation."""
    files = df.inputFiles()
    return _listing_fingerprint(files) if files else None


def _md5_lines(lines) -> str:
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _listing_fingerprint(files) -> str:
    return f"files:{len(files)}:{_md5_lines(sorted(files))}"


def md5_bucket_col(n_buckets: int, doc_id_col: str = "doc_id"):
    """Engine-portable twin of :func:`bucket_col`: bucket on the first 8
    md5 hex chars so an external SQL engine can reproduce the assignment
    exactly (DuckDB: ``('0x'||substring(md5(id),1,8))::BIGINT % n``).  The
    same convention as the MinHash md5 mode; use only where oracle parity
    matters -- xxhash64 is the JVM-native production default."""
    return md5_bucket(F.col(doc_id_col).cast("string"), n_buckets).cast("int")


def _manifest_buckets(names) -> set[int]:
    """Bucket numbers of the ``bucket=<n>.json`` manifests among ``names``."""
    done = set()
    for name in names:
        if name.startswith("bucket=") and name.endswith(".json"):
            try:
                done.add(int(name[len("bucket=") : -len(".json")]))
            except ValueError:
                continue
    return done


def _is_local_path(path: str) -> bool:
    return "://" not in path or path.startswith("file:")


def _hadoop_fs(spark, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jvm


def completed_buckets(output_path: str, spark=None) -> set[int]:
    """Buckets with a committed manifest under ``<output>/_lineage/``:
    local paths by os.listdir, any Hadoop-compatible filesystem (hdfs://,
    s3a://, gs://, ...) through the JVM FileSystem API -- the dispatch of
    :func:`write_marker` and :func:`read_marker`."""
    if spark is None or _is_local_path(output_path):
        lineage_path = os.path.join(output_path.removeprefix("file:"), LINEAGE_DIR)
        if not os.path.isdir(lineage_path):
            return set()
        return _manifest_buckets(os.listdir(lineage_path))
    fs, _, jvm = _hadoop_fs(spark, output_path)
    lineage = jvm.org.apache.hadoop.fs.Path(output_path + "/" + LINEAGE_DIR)
    if not fs.exists(lineage):
        return set()
    return _manifest_buckets(status.getPath().getName() for status in fs.listStatus(lineage))


def write_marker(output_path: str, name: str, payload: dict, spark=None) -> None:
    """Atomically commit one JSON file under ``<output>/_lineage/<name>``
    (tmp file + rename -- atomic on local/HDFS, best-effort on object
    stores).  The commit unit of both per-bucket manifests and stage
    markers."""
    data = json.dumps(payload, sort_keys=True)
    if spark is None or _is_local_path(output_path):
        lineage_path = os.path.join(output_path.removeprefix("file:"), LINEAGE_DIR)
        os.makedirs(lineage_path, exist_ok=True)
        final = os.path.join(lineage_path, name)
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, final)  # atomic commit
        return
    fs, _, jvm = _hadoop_fs(spark, output_path)
    Path = jvm.org.apache.hadoop.fs.Path
    final = Path(f"{output_path}/{LINEAGE_DIR}/{name}")
    tmp = Path(f"{output_path}/{LINEAGE_DIR}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data, "utf-8"))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    fs.rename(tmp, final)


def read_marker(output_path: str, name: str, spark=None) -> dict | None:
    """Read a committed marker back, or None if it was never committed."""
    if spark is None or _is_local_path(output_path):
        path = os.path.join(output_path.removeprefix("file:"), LINEAGE_DIR, name)
        if not os.path.isfile(path):
            return None
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    fs, _, jvm = _hadoop_fs(spark, output_path)
    path = jvm.org.apache.hadoop.fs.Path(f"{output_path}/{LINEAGE_DIR}/{name}")
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_manifest(output_path: str, bucket: int, payload: dict, spark=None) -> None:
    write_marker(output_path, f"bucket={bucket}.json", payload, spark=spark)


def clean_bucketed_output(spark, output_path: str) -> None:
    """Remove a bucketed commit's data + lineage (``bucket=*`` partition
    dirs, the ``_lineage`` dir, ``_SUCCESS``) WITHOUT touching anything
    else under the path -- safe on an output root that also hosts
    ``_stages/`` checkpoints.  Needed before a non-resume recompute:
    dynamic partition overwrite only replaces buckets present in the NEW
    data, so stale partitions/manifests from a previous (possibly
    different-``n_buckets``) run would otherwise survive and be read back
    as live rows."""
    import shutil

    if _is_local_path(output_path):
        root = output_path.removeprefix("file:")
        if not os.path.isdir(root):
            return
        for name in os.listdir(root):
            full = os.path.join(root, name)
            if name.startswith("bucket=") or name == LINEAGE_DIR:
                shutil.rmtree(full, ignore_errors=True)
            elif name == "_SUCCESS":
                os.remove(full)
        return
    fs, path, jvm = _hadoop_fs(spark, output_path)
    if not fs.exists(path):
        return
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("bucket=") or name in (LINEAGE_DIR, "_SUCCESS"):
            fs.delete(status.getPath(), True)


def delete_dir(spark, path: str) -> None:
    """Recursively delete a directory on any supported filesystem."""
    import shutil

    if _is_local_path(path):
        shutil.rmtree(path.removeprefix("file:"), ignore_errors=True)
        return
    fs, p, _ = _hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


STAGE_MARKER = "_stage.json"
LAYOUT_MARKER = "_layout.json"


def _normalized(params: dict) -> dict:
    """``params`` as a stored marker returns it (tuples -> lists, sorted
    keys, float round-trip)."""
    return json.loads(json.dumps(params, sort_keys=True))


def resolve_bucket_layout(
    spark, output_path: str, n_buckets: int, resume: bool, params: dict | None = None
) -> set[int]:
    """Decide which bucket manifests a (possibly resuming) bucketed commit
    may trust, cleaning stale data first when the layout changed.

    The layout marker commits BEFORE any bucket data, so a run that
    crashes mid-stage (no stage marker yet) still records which
    ``n_buckets`` AND which computation ``params`` its partial manifests
    belong to -- without it, resuming a markerless crash under a different
    layout would trust old manifests, filter the new data against them,
    and commit a partial corpus as complete.  ``params`` is the
    JSON-serializable fingerprint of everything that changes the
    committed ROWS (truncation budget, filter thresholds, ...): a resume
    under different params would otherwise silently mix outputs computed
    under two configurations.  Stale on any of: ``resume=False``, a
    layout/params mismatch, or -- the conservative default -- bucket
    manifests present with NO layout marker at all (a pre-layout-marker
    legacy dir whose bucketing we cannot verify)."""
    layout = read_marker(output_path, LAYOUT_MARKER, spark=spark)
    params = _normalized(params or {})
    if layout is None:
        # manifests without a layout marker: unknowable provenance -- the
        # one-time recompute beats trusting a possibly-mismatched layout
        stale = bool(completed_buckets(output_path, spark=spark))
    else:
        stale = layout.get("n_buckets") != n_buckets or layout.get("params", {}) != params
    if not resume or stale:
        clean_bucketed_output(spark, output_path)
        done: set[int] = set()
    else:
        done = completed_buckets(output_path, spark=spark)
    if layout is None or stale or not resume:
        write_marker(
            output_path, LAYOUT_MARKER,
            {"n_buckets": n_buckets, "params": params, "committed_at": time.time()},
            spark=spark,
        )
    return done


def _skip_done(df: DataFrame, done: set[int]) -> DataFrame:
    return df.filter(~F.col("bucket").isin(list(done))) if done else df


def _write_buckets(
    spark, df: DataFrame, output_path: str, n_buckets: int, done: set[int], *aggs
) -> list[dict]:
    """The bucket commit every bucketed writer shares.  ``df`` carries a
    ``bucket`` column and already excludes the ``done`` buckets.

    It is persisted once, so the write and the per-bucket aggregation
    scan the input and run the kernel ONCE, with no read-back of the
    just-committed parquet.  If an executor loses cached blocks Spark
    recomputes just those partitions deterministically, so manifests
    still describe exactly the committed rows.  Dynamic partition
    overwrite is a per-WRITE option, not session conf: replaying a
    bucket replaces only its partition, and the caller's session
    overwrite semantics stay untouched.

    The write is rebalanced by bucket (the ``rebalance`` hint: one
    shuffle, one extra job under AQE), so every bucket lands in one
    write task and commits as one file, not one file per task that held
    its rows -- up to tasks x ``n_buckets`` files.  AQE merges small
    shuffle partitions and splits an oversized one, so a commit writes
    about ``max(n_buckets, bytes / advisoryPartitionSizeInBytes)``
    files; with AQE off the hint is a plain hash repartition by bucket.
    The per-bucket aggregation reads the persisted ``df``, not the
    rebalanced write.

    One manifest (``aggs`` per bucket + ``committed_at``) commits for
    EVERY processed bucket, zero-row ones included with zeros typed from
    the aggregate schema: a bucket with no output rows (no ids hash to
    it, or its crawl files hold no responses) would otherwise be
    recomputed on every resume forever.  Every non-done bucket IS fully
    processed by construction, so the processed set is exact and free.
    Marking a no-input bucket done never hides future work: the input
    fingerprint in the layout params forces a clean recompute when the
    input changes.  Returns the committed manifests."""
    from pyspark import StorageLevel
    from pyspark.sql.types import DoubleType, FloatType

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        (
            df.hint("rebalance", "bucket")
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .mode("overwrite")
            .parquet(output_path)
        )
        per_bucket = df.groupBy("bucket").agg(*aggs)
        rows = {int(r["bucket"]): r.asDict() for r in per_bucket.collect()}
    finally:
        df.unpersist()
    zero = {
        f.name: 0.0 if isinstance(f.dataType, (DoubleType, FloatType)) else 0
        for f in per_bucket.schema.fields[1:]
    }
    manifests = []
    for b in sorted(set(range(n_buckets)) - done):
        manifest = rows.get(b) or {"bucket": b, **zero}
        manifest["committed_at"] = time.time()
        _write_manifest(output_path, b, manifest, spark=spark)
        manifests.append(manifest)
    return manifests


def _run_summary(started, done, manifests, total=("docs_computed", "docs"), **head) -> dict:
    key, field = total
    return {
        **head,
        "buckets_skipped": len(done),
        "buckets_computed": len(manifests),
        key: int(sum(m[field] for m in manifests)),
        "wall_ms": (time.perf_counter() - started) * 1000.0,
    }


STAGES_DIR = "_stages"


class StageRunner:
    """The per-stage checkpoint cycle of a multi-stage job (the text and
    media curation jobs), written once, and the one owner of its stage
    chain.

    ``stages`` is the ordered stage table of ``(name, own_params)`` this
    run executes.  A stage's fingerprint is the previous stage's merged
    with its own params, and the chain is seeded with ``{"input":
    input_id}`` when ``input_id`` is not None: a fingerprint holds every
    knob upstream of its stage, so re-tuning, adding or dropping a stage
    recomputes exactly the stages from it on, and a different input
    recomputes all of them.

    Stage ``final`` commits at ``output_path`` itself, every other stage
    under ``<output_path>/_stages/<stage>/``.  ``fail_after_stage`` must
    name a stage of the table (else ValueError up front, before any work
    -- a typo must not turn a kill-and-resume test into a silent full
    run), and :meth:`run` raises right after that stage commits.
    ``stats`` maps every stage run so far to its stats, and each stage's
    marker records that map up to the stage, so the ``final`` marker
    holds a finished run's stats whole.  ``resumed_stages`` lists the
    stages loaded from checkpoint, in run order, and ``stage_wall_s`` the
    wall seconds of each stage this run computed: a wall describes this
    run's work, so a resumed stage has none."""

    def __init__(
        self, spark, output_path: str, stages, n_buckets: int,
        resume: bool = True, fail_after_stage: str | None = None,
        input_id: str | None = None,
    ):
        chain = {} if input_id is None else {"input": input_id}
        self.params: dict[str, dict] = {}
        for name, own in stages:
            chain = {**chain, **own}
            self.params[name] = _normalized(chain)
        if fail_after_stage is not None and fail_after_stage not in self.params:
            raise ValueError(
                f"fail_after_stage={fail_after_stage!r} is not a stage of this "
                f"run: {list(self.params)}"
            )
        self.spark = spark
        self.output_path = output_path
        self.n_buckets = n_buckets
        self.resume = resume
        self.fail_after_stage = fail_after_stage
        self.stats: dict[str, dict] = {}
        self.resumed_stages: list[str] = []
        self.stage_wall_s: dict[str, float] = {}

    def _path(self, stage: str) -> str:
        if stage == "final":
            return self.output_path
        return os.path.join(self.output_path, STAGES_DIR, stage)

    def committed(self, stage: str):
        """``(frame, stats)`` of ``stage`` committed under its fingerprint
        and this layout, else None -- always None when not resuming.
        ``stats`` maps the stage and every stage before it to its stats."""
        return self._read(stage) if self.resume else None

    def _read(self, stage: str):
        """The committed checkpoint of ``stage``, or None when its marker is
        missing, records another layout or fingerprint, or predates the
        per-stage stats map.  The files are read with the schema the
        marker records: inferring it would read a footer in a Spark job of
        its own, and a zero-row stage has no footer to infer from."""
        from pyspark.sql.types import StructType

        path = self._path(stage)
        marker = read_marker(path, STAGE_MARKER, spark=self.spark)
        if (
            marker is None
            or marker.get("n_buckets") != self.n_buckets
            or marker.get("params", {}) != self.params[stage]
            or stage not in marker["stats"]
        ):
            return None
        schema = StructType.fromJson(json.loads(marker["schema_json"]))
        return self.spark.read.schema(schema).parquet(path).drop("bucket"), marker["stats"]

    def run(self, stage: str, build, id_col: str = "doc_id") -> DataFrame:
        """The frame of one stage: its committed checkpoint when resuming,
        else ``build() -> (frame, stats)`` run inside its own
        ``cache_scope`` and committed.  Either way the frame returned is
        the RE-READ committed parquet, never the in-memory plan, so the
        next stage's lineage is one scan of these files -- the property
        resume relies on -- and the build's persisted intermediates are
        all released once the commit is done.

        The commit is :func:`_write_buckets` over the deterministic bucket
        of ``id_col`` with one manifest per bucket, under
        :func:`resolve_bucket_layout` (a resume under another layout or
        fingerprint cleans and recomputes; a bucket whose manifest exists
        is skipped), then the atomic stage marker (stats, total rows,
        fingerprint, schema) LAST, so a marker's existence proves the
        whole stage.

        A stats value that is a Column aggregate becomes one more field of
        every bucket manifest (a NULL aggregate counts 0), and its stage
        stat is that field's sum over all of the stage's manifests: the
        buckets written now plus those an interrupted run committed, so
        it is exact across a resume and costs no Spark job of its own.  A
        committed manifest that lacks a declared field was written before
        the field existed: its bucket is recomputed, never summed as 0.
        Other stats values go into the marker as given."""
        from .ops.dedup import cache_scope

        started = time.perf_counter()
        out = self.committed(stage)
        if out is not None:
            self.resumed_stages.append(stage)
        else:
            path = self._path(stage)
            with cache_scope():
                df, stats = build()
                aggs = {k: v for k, v in stats.items() if isinstance(v, Column)}
                fields = ("docs", *aggs)
                done = resolve_bucket_layout(
                    self.spark, path, self.n_buckets, self.resume, params=self.params[stage]
                )
                on_disk = {
                    b: read_marker(path, f"bucket={b}.json", spark=self.spark) for b in done
                }
                trusted = {b: m for b, m in on_disk.items() if all(k in m for k in fields)}
                done = set(trusted)
                manifests = _write_buckets(
                    self.spark,
                    _skip_done(df.withColumn("bucket", bucket_col(self.n_buckets, id_col)), done),
                    path, self.n_buckets, done,
                    F.count("*").cast("bigint").alias("docs"),
                    *(F.coalesce(agg, F.lit(0)).alias(k) for k, agg in aggs.items()),
                ) + list(trusted.values())
                totals = {k: sum(m[k] for m in manifests) for k in fields}
                self.stats[stage] = {**stats, **{k: totals[k] for k in aggs}}
                write_marker(
                    path,
                    STAGE_MARKER,
                    {
                        "stage": stage,
                        "rows": totals["docs"],
                        "n_buckets": self.n_buckets,
                        "params": self.params[stage],
                        "schema_json": df.schema.json(),
                        "stats": self.stats,
                        "committed_at": time.time(),
                    },
                    spark=self.spark,
                )
            out = self._read(stage)
            self.stage_wall_s[stage] = round(time.perf_counter() - started, 3)
        df, self.stats = out
        if stage == self.fail_after_stage:
            raise RuntimeError(f"injected failure after stage {stage}")
        return df

    def clean_stages(self) -> None:
        """Delete every checkpoint but the final output's."""
        delete_dir(self.spark, os.path.join(self.output_path, STAGES_DIR))


def _doc_aggs():
    """Manifest aggregates of the span-table writers."""
    return (
        *kernel_metric_aggs(),
        F.sum("metrics.ms").alias("kernel_ms"),
        F.max("metrics.ms").alias("max_doc_ms"),
    )


def _file_bucket_col(n_buckets: int):
    """Bucket of a crawl-file doc (doc_id = '<file>#<record idx|offset>'):
    the hash of its file, recomputed from the doc_id so it survives the
    Arrow boundary."""
    return bucket_col(n_buckets, F.regexp_replace("doc_id", r"#[0-9]+$", ""))


def _list_files(spark, pattern: str, what: str) -> list[str]:
    """Sorted file names matching ``pattern`` (driver-small: names only)."""
    from .warc import warc_path_table

    listing = sorted(
        r["path"] for r in warc_path_table(spark, pattern).select("path").collect()
    )
    if not listing:
        raise ValueError(f"no {what} files match {pattern!r}")
    return listing


def run_extraction(
    spark,
    input_df: DataFrame,
    output_path: str,
    n_buckets: int = 64,
    url_col: str | None = None,
    resume: bool = True,
    max_doc_bytes: int | None = None,
    in_fingerprint: str | None = None,
) -> dict:
    """Run (or resume) the extraction job with per-bucket lineage.

    ``max_doc_bytes`` is the per-document truncate-with-flag byte budget
    (pipeline.extract); truncation counts surface per bucket as
    ``docs_truncated`` in the manifests.

    ``in_fingerprint`` identifies the input corpus inside the layout
    params (default: :func:`input_fingerprint` of ``input_df``): resuming
    into the same output with a different input cleans and recomputes
    instead of skipping buckets committed from the old corpus.

    Returns a run summary dict (buckets computed/skipped, doc counts, ms).
    """
    started = time.perf_counter()
    if in_fingerprint is None:
        in_fingerprint = input_fingerprint(input_df)
    # layout-checked resume: cleans stale partitions/manifests on
    # non-resume runs, on n_buckets changes (even after a markerless
    # crash), and on changed extraction params -- a bucket committed under
    # one truncation budget must not be mixed with buckets computed under
    # another.  See resolve_bucket_layout.
    done = resolve_bucket_layout(
        spark, output_path, n_buckets, resume,
        params={"max_doc_bytes": max_doc_bytes, "url_col": url_col,
                "input": in_fingerprint},
    )
    # done buckets drop on the kernel's INPUT side: Spark cannot push a
    # filter through mapInArrow, so filtering its output would re-extract
    # every committed bucket on resume
    todo = _skip_done(input_df.withColumn("bucket", bucket_col(n_buckets)), done)
    extracted = extract(todo, url_col=url_col, max_doc_bytes=max_doc_bytes)
    # bucket is deterministic from doc_id: recompute on the output side so it
    # survives the mapInArrow schema boundary without widening the kernel IO
    extracted = extracted.withColumn("bucket", bucket_col(n_buckets))
    manifests = _write_buckets(spark, extracted, output_path, n_buckets, done, *_doc_aggs())
    return _run_summary(started, done, manifests, n_buckets=n_buckets)


def run_warc_ingestion(
    spark,
    pattern: str,
    output_path: str,
    n_buckets: int = 64,
    resume: bool = True,
    max_doc_bytes: int | None = None,
) -> dict:
    """Run (or resume) WARC-file ingestion with per-bucket lineage -- the
    production tier in front of :func:`run_extraction`: a glob of standard
    ``.warc`` / ``.warc.gz`` crawl files streams through
    :func:`..warc.extract_warc_paths` (bounded task memory; neither the
    compressed file nor its inflation materializes) into the bucketed
    span-table output.

    Resume unit: the FILE.  Each file hashes to one bucket
    (``pmod(xxhash64(path), n_buckets)``) and a bucket's manifest commits
    only when every record of its files has been written, so a resumed run
    re-reads exactly the files of the missing buckets -- the atomic retry
    unit a crawl store actually offers (there is no "re-read half a
    .warc.gz member stream" primitive).  The input fingerprint is the
    sorted file listing, so pointing the same output at a different crawl
    slice recomputes instead of trusting stale buckets.

    Returns the same summary dict shape as :func:`run_extraction`.
    """
    from .warc import extract_warc_paths

    started = time.perf_counter()
    listing = _list_files(spark, pattern, "WARC")
    done = resolve_bucket_layout(
        spark, output_path, n_buckets, resume,
        params={"max_doc_bytes": max_doc_bytes, "input": _listing_fingerprint(listing),
                "unit": "warc_file"},
    )
    todo = _skip_done(
        spark.createDataFrame([(p,) for p in listing], "path string")
        .withColumn("bucket", bucket_col(n_buckets, "path")),
        done,
    )
    # spread FILES across the executor cores (the exchange moves only path
    # strings).  Partitioning need not align with the bucket commit unit:
    # manifests are aggregated from the written rows AFTER the write, so
    # any task layout is crash-consistent -- capping parallelism at
    # n_buckets would idle (cores - n_buckets) executors per wave
    n_todo = todo.count()
    n_part = max(
        1, min(n_todo, max(n_buckets, spark.sparkContext.defaultParallelism))
    )
    extracted = extract_warc_paths(
        todo.repartition(n_part, "path"), max_doc_bytes=max_doc_bytes
    ).withColumn("bucket", _file_bucket_col(n_buckets))
    manifests = _write_buckets(spark, extracted, output_path, n_buckets, done, *_doc_aggs())
    return _run_summary(
        started, done, manifests, n_buckets=n_buckets, n_files=len(listing)
    )


def run_cdx_ingestion(
    spark,
    cdx_pattern: str,
    urlkey_prefixes: list[str],
    output_path: str,
    warc_base_dir: str | None = None,
    n_buckets: int = 64,
    resume: bool = True,
    max_doc_bytes: int | None = None,
) -> dict:
    """Run (or resume) INDEX-DRIVEN ingestion: CDXJ index shards ->
    prefix-selected fetch plan -> ranged WARC member reads -> bucketed
    span table.  The selective twin of :func:`run_warc_ingestion` for
    when only a slice of the crawl is wanted -- the index is scanned
    (table-sized), and only the planned members' bytes are ever read.

    Resume unit: the WARC FILE (``pmod(xxhash64(filename), n_buckets)``,
    the same unit as full-file ingestion) -- a resumed run re-plans from
    the index (cheap) and re-reads exactly the ranges of missing
    buckets.  The input fingerprint covers the sorted index listing AND
    the selection (prefixes, base dir), so changing either recomputes
    instead of trusting stale buckets."""
    from .cdx import cdx_lines, extract_cdx_ranges, plan_fetches

    started = time.perf_counter()
    listing = _list_files(spark, cdx_pattern, "CDX index")
    if not urlkey_prefixes:
        raise ValueError("urlkey_prefixes must be non-empty (select something)")
    fingerprint = (
        f"cdx:{len(listing)}:{_md5_lines(listing)}:"
        f"{_md5_lines(sorted(urlkey_prefixes))}:{warc_base_dir or ''}"
    )
    done = resolve_bucket_layout(
        spark, output_path, n_buckets, resume,
        params={"max_doc_bytes": max_doc_bytes, "input": fingerprint,
                "unit": "warc_file_ranges"},
    )
    lines = spark.read.text(listing).withColumnRenamed("value", "line")
    plan = plan_fetches(cdx_lines(lines), urlkey_prefixes)
    todo = _skip_done(plan.withColumn("bucket", bucket_col(n_buckets, "filename")), done)
    # spread plans across cores; warc_records_from_ranges sorts within
    # partitions so each file's ranges read in ascending-seek order
    todo = todo.drop("bucket").repartition(
        max(n_buckets, spark.sparkContext.defaultParallelism), "filename"
    )
    extracted = extract_cdx_ranges(
        todo, base_dir=warc_base_dir, max_doc_bytes=max_doc_bytes
    ).withColumn("bucket", _file_bucket_col(n_buckets))
    manifests = _write_buckets(spark, extracted, output_path, n_buckets, done, *_doc_aggs())
    return _run_summary(
        started, done, manifests, n_buckets=n_buckets, n_index_files=len(listing)
    )


def run_crawl_planning(
    spark,
    cdx_pattern: str,
    urlkey_prefixes: list[str],
    plan_output: str,
    sitemap_glob: str | None = None,
    per_domain_per_slot: int = 1,
    n_buckets: int = 64,
    resume: bool = True,
    fetch_unmodified_unknown: bool = True,
) -> dict:
    """Write the SLOTTED FETCH-PLAN table -- the crawl-planning ring
    (CDX index -> latest captures -> optional sitemap refresh reasoning
    -> politeness slots) promoted to the job surface (VERDICT r6 #8).

    Two modes on one output schema family:

    * **refresh** (``sitemap_glob`` given): the declared sitemap
      inventory joins the latest capture per urlkey
      (:func:`~nreadspark.sitemap.plan_refresh`); output rows
      ``(urlkey, loc, lastmod_ts, captured_ts, reason, domain, slot)``
      are the URLs a refresh crawl should fetch, politeness-slotted.
    * **archival re-read** (no sitemap): the latest-capture fetch plan
      (:func:`~nreadspark.cdx.plan_fetches`) slotted for ranged member
      reads; rows ``(urlkey, timestamp, url, filename, offset, length,
      domain, slot)``.

    Resume unit: the DOMAIN bucket (``pmod(xxhash64(domain),
    n_buckets)``) -- slots are assigned within a domain, so a domain
    bucket is self-contained and a resumed run recomputes only missing
    buckets.  The layout fingerprint covers the index listing, the
    selection, the sitemap listing and the slot width, so changing any
    of them recomputes instead of trusting stale plan shards.  Scale
    shape: everything here is index-/inventory-sized -- payloads are
    never touched; the one shuffle per bucket set is the politeness
    window on domain."""
    from .cdx import cdx_lines, plan_fetches, schedule_frontier

    started = time.perf_counter()
    listing = _list_files(spark, cdx_pattern, "CDX index")
    if not urlkey_prefixes:
        raise ValueError("urlkey_prefixes must be non-empty (select something)")
    sitemap_listing = _list_files(spark, sitemap_glob, "sitemap") if sitemap_glob else []
    fingerprint = (
        f"plan:{_md5_lines(listing)}:{_md5_lines(sorted(urlkey_prefixes))}:"
        f"{_md5_lines(sitemap_listing)}:{int(per_domain_per_slot)}:"
        f"{int(fetch_unmodified_unknown)}"
    )
    done = resolve_bucket_layout(
        spark, plan_output, n_buckets, resume,
        params={"input": fingerprint, "unit": "domain_plan"},
    )

    lines = spark.read.text(listing).withColumnRenamed("value", "line")
    caps = plan_fetches(cdx_lines(lines), urlkey_prefixes)
    if sitemap_glob:
        from .sitemap import plan_refresh, sitemap_entries

        xml = (
            spark.read.option("wholetext", True)
            .text(sitemap_listing)
            .select(
                F.input_file_name().alias("sitemap_url"),
                F.col("value").alias("xml"),
            )
        )
        plan = plan_refresh(
            sitemap_entries(xml),
            caps,
            fetch_unmodified_unknown=fetch_unmodified_unknown,
        )
        # un-fetched rows have no capture offset; the slot window orders
        # by (urlkey, timestamp, offset) and urlkey is unique per plan
        plan = plan.withColumn(
            "timestamp", F.coalesce("lastmod_ts", F.lit(""))
        ).withColumn("offset", F.lit(0).cast("bigint"))
        out_cols = ["urlkey", "loc", "lastmod_ts", "captured_ts", "reason"]
    else:
        plan = caps
        out_cols = ["urlkey", "timestamp", "url", "filename", "offset", "length"]
    slotted = schedule_frontier(plan, per_domain_per_slot=per_domain_per_slot)
    slotted = slotted.withColumn("bucket", bucket_col(n_buckets, "domain")).select(
        *out_cols, "domain", "slot", "bucket"
    )
    manifests = _write_buckets(
        spark, _skip_done(slotted, done), plan_output, n_buckets, done,
        F.count("*").alias("urls"),
        F.countDistinct("domain").alias("domains"),
        (F.max("slot") + 1).alias("max_slots"),
    )
    return _run_summary(
        started, done, manifests, total=("urls_planned", "urls"),
        mode="refresh" if sitemap_glob else "archival",
        n_buckets=n_buckets,
        n_index_files=len(listing),
        n_sitemap_files=len(sitemap_listing),
    )
