"""One benchmark run: set-up, measured units, output checks, and (traced
runs only) the layer split."""

from __future__ import annotations

import collections
import glob
import multiprocessing
import os
import shutil
import time
from statistics import median, quantiles

from jobs.curate import curate, curate_resumable
from nreadspark import lineage
from nreadspark.pipeline import extract
from perfbench import inputs, kernelref, ladder, operators, tables, tracer as tracing
from perfbench.sparkenv import JobGroups, Session, WorkerRss

CHUNK_DOCS = 8  # documents per reference-pool task
SETUP_REPS = 3  # set-ups per untraced run; setup_s is their median
# corpus files the traced production-path probe reads on the extraction
# workloads (an eighth of the corpus, about as many documents as
# pipeline_resume): its curation commits took 30 s on a quarter of the corpus,
# and a traced run must end within 180 s
PRODUCTION_FILES = 8
# a corpus of fewer documents is picked by size from a draw of at least this many
POOL_DOCS = 1200
LADDER_REPS = 2  # rounds of the layer ladder; each rung reports its median
# run_extraction and curate_resumable are called without n_buckets: the
# lineage commits use the library's default bucket counts (64 for the
# extraction, 16 per curation stage), which is what a caller gets who does
# not size them


class Bench:
    def __init__(self, workload, kind, n_docs, n_files, seed, seconds, work):
        self.workload = workload
        self.kind = kind
        # pick sizes evenly from a draw of at least POOL_DOCS (see inputs.generate)
        self.size_pool = -(-POOL_DOCS // n_docs)
        self.n_docs = n_docs
        self.n_files = n_files
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer()
        self.trace_path = None

    # -- set-up ---------------------------------------------------------

    def _setup(self, session: Session, rep: int) -> float:
        """New SparkContext, corpus written to parquet, one extraction pass
        to start and warm the Python workers.  The last set-up's pass is the
        warm-up of the measured units."""
        path = os.path.join(self.work, f"corpus-{rep}")
        started = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("setup.context"):
                spark = session.restart()
            with self.tracer.span("setup.write_corpus"):
                inputs.write_corpus(self.docs, path, self.n_files)
            with self.tracer.span("setup.warm_up"):
                ladder.noop(extract(spark.read.parquet(path)))
        elapsed = time.perf_counter() - started
        if self.corpus_path:
            shutil.rmtree(self.corpus_path)
        self.corpus_path = path
        return elapsed

    # -- units ------------------------------------------------------------

    def _texts(self, spark, path):
        """The extracted text of each document, one text span per line."""
        from pyspark.sql import functions as F

        text_spans = F.filter("spans", lambda s: s["kind"] == "text")
        return spark.read.parquet(path).select(
            "doc_id", F.concat_ws("\n", F.transform(text_spans, lambda s: s["text"])).alias("text")
        )

    def _partial_restart(self, spark, corpus, extracted: str) -> dict:
        """Lose the committed bucket that holds the most documents, as a
        crash inside its write would, and restart the extraction.  Returns
        the restart's summary with the lost bucket's document count."""
        lineage_dir = os.path.join(extracted, lineage.LINEAGE_DIR)
        manifests = {}
        for name in os.listdir(lineage_dir):
            if name.startswith("bucket=") and name.endswith(".json"):
                manifests[int(name[len("bucket=") : -len(".json")])] = lineage.read_marker(
                    extracted, name
                )
        bucket = max(manifests, key=lambda b: (manifests[b]["docs"], -b))
        os.remove(os.path.join(lineage_dir, f"bucket={bucket}.json"))
        shutil.rmtree(os.path.join(extracted, f"bucket={bucket}"))
        with self.tracer.span("lineage.restart_extraction"):
            restart = lineage.run_extraction(spark, corpus, extracted)
        restart["lost_docs"] = manifests[bucket]["docs"]
        return restart

    @staticmethod
    def _restart_mismatches(restart: dict) -> int:
        """1 when the restart recomputed anything but the lost bucket."""
        return int(
            restart["buckets_computed"] != 1
            or restart["buckets_skipped"] != restart["n_buckets"] - 1
            or restart["docs_computed"] != restart["lost_docs"]
        )

    def _resume_cycle(self, spark, out: str) -> dict:
        """Extraction commit with one bucket lost and restarted, then
        curation crashed after line_clean and restarted.  Returns wall and
        restart seconds."""
        corpus = spark.read.parquet(self.corpus_path)
        extracted, curated = os.path.join(out, "extracted"), os.path.join(out, "curated")
        started = time.perf_counter()
        with self.tracer.span("lineage.run_extraction"):
            lineage.run_extraction(spark, corpus, extracted)
        crashed = time.perf_counter()
        restart = self._partial_restart(spark, corpus, extracted)
        extract_resume_s = time.perf_counter() - crashed
        with self.tracer.span("curate.crashed_run"):
            try:
                curate_resumable(
                    spark, self._texts(spark, extracted), curated, fail_after_stage="line_clean"
                )
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
            else:
                raise RuntimeError("curate_resumable did not crash at the injected stage")
        crashed = time.perf_counter()
        with self.tracer.span("curate.resumed_run"):
            survivors, stats = curate_resumable(spark, self._texts(spark, extracted), curated)
        ended = time.perf_counter()
        return {
            "wall_s": ended - started,
            "resume_s": extract_resume_s + ended - crashed,
            "restart": restart,
            "resumed_stages": stats.get("resumed_stages", []),
            "survivors": survivors,
            "extracted": extracted,
        }

    def _production(self, spark, out: str, files: int | None = None) -> dict:
        """Uninterrupted extraction + curation.  ``files`` limits the input
        to the first corpus files."""
        paths = sorted(glob.glob(os.path.join(self.corpus_path, "*.parquet")))
        corpus = spark.read.parquet(*paths[:files])
        extracted, curated = os.path.join(out, "extracted"), os.path.join(out, "curated")
        started = time.perf_counter()
        with self.tracer.span("production.run_extraction"):
            lineage.run_extraction(spark, corpus, extracted)
        commit_s = time.perf_counter() - started
        with self.tracer.span("production.curate"):
            survivors, stats = curate_resumable(spark, self._texts(spark, extracted), curated)
        return {
            "corpus": corpus,
            "extracted": extracted,
            "extract_commit_s": commit_s,
            "stage_wall_s": stats.get("stage_wall_s", {}),
        }

    def _uninterrupted(self, spark, extracted: str) -> set:
        """The survivors of the curation pipeline run uninterrupted, without
        stage checkpoints, over a committed extraction: the reference for
        the resumed output."""
        survivors, _ = curate(self._texts(spark, extracted))
        rows = {tuple(r.values()) for r in _rows(survivors.select("doc_id", "text"))}
        spark.catalog.clearCache()  # curate leaves its hand-off frames cached
        return rows

    # -- checks -----------------------------------------------------------

    def _check_spans(self, df, reference) -> dict:
        """Compare an OUTPUT_SCHEMA frame with the in-process reference."""
        from pyspark.sql import functions as F

        rows = _rows(
            df.select(
                "doc_id",
                "spans",
                F.col("metrics.n_candidates").alias("n_candidates"),
                F.col("metrics.ms").alias("ms"),
                F.col("metrics.fallback_rerun").alias("fallback_rerun"),
                F.spark_partition_id().alias("part"),
            )
        )
        seen = collections.Counter(r["doc_id"] for r in rows)
        failed = sum(1 for r in rows if r["n_candidates"] < 0)
        mismatched = sum(
            1
            for r in rows
            if r["n_candidates"] >= 0
            and kernelref.span_digest(r["spans"] or []) != reference.get(r["doc_id"])
        )
        mismatched += sum(1 for d in reference if d not in seen)
        mismatched += sum(c - 1 for c in seen.values())
        return {"rows": rows, "failed": failed, "mismatched": mismatched}

    # -- the run ----------------------------------------------------------

    def run(self, trace: bool) -> dict:
        self.corpus_path = None
        with self.tracer.span("generate"):
            self.docs = inputs.generate(self.seed, self.n_docs, inputs.WEB_WEIGHTS, self.size_pool)
        htmls = [(doc_id, inputs.html_of(spans)) for doc_id, spans, _ in self.docs]
        session = Session(self.work, self.cores)
        pool = None
        record: dict = {"workload": self.workload, "seed": self.seed, "trace": int(trace)}
        m: dict = {}
        try:
            # forked before the JVM exists, so the fork copies no JVM-facing
            # threads; unlike a spawned pool it starts no resource tracker,
            # a process that would outlive the run.  Its workers stay idle
            # until the checks below
            pool = multiprocessing.get_context("fork").Pool(self.cores)
            chunks = [htmls[i : i + CHUNK_DOCS] for i in range(0, len(htmls), CHUNK_DOCS)]
            started = time.perf_counter()
            with self.tracer.span("jvm_launch"):
                session.start()
            record["jvm_launch_s"] = time.perf_counter() - started
            setups = [self._setup(session, rep) for rep in range(1 if trace else SETUP_REPS)]
            spark = session.spark
            record["setup_each_s"] = setups
            record["input"] = inputs.describe(
                self.docs, spark.read.parquet(self.corpus_path).rdd.getNumPartitions()
            )

            # measured units: each starts while less than --seconds have
            # passed; a traced run measures one
            groups = JobGroups(spark, "unit")
            units: list[dict] = []
            with WorkerRss(session.jvm_pid()) as rss:
                started = time.perf_counter()
                while not units or (
                    not trace and time.perf_counter() - started < self.seconds
                ):
                    groups.begin()
                    with self.tracer.span("unit"):
                        units.append(self._unit(spark, len(units)))
                    groups.end()
            counts = groups.counts()
            walls = [u["wall_s"] for u in units]
            record["unit_wall_s"] = walls
            record["spark_per_unit"] = counts

            # outputs against the in-process reference (untimed)
            reference = {}
            with self.tracer.span("reference"):
                for part in pool.imap_unordered(kernelref.reference, chunks):
                    reference.update(part)
            failed = mismatched = attempted = 0
            if self.kind == "extract":
                with self.tracer.span("check"):
                    check = self._check_spans(
                        extract(spark.read.parquet(self.corpus_path)), reference
                    )
                failed, mismatched, attempted = check["failed"], check["mismatched"], len(self.docs)
            else:
                # the first unit's extraction is checked against the kernel
                # reference below, so curating it uninterrupted gives the
                # output of an uninterrupted run
                with self.tracer.span("uninterrupted"):
                    expected = self._uninterrupted(spark, units[0]["extracted"])
                for unit in units:
                    check = self._check_spans(spark.read.parquet(unit["extracted"]), reference)
                    failed += check["failed"]
                    mismatched += check["mismatched"] + self._restart_mismatches(unit["restart"])
                    got = [tuple(r.values()) for r in _rows(unit["survivors"].select("doc_id", "text"))]
                    doc_ids = [r[0] for r in got]
                    mismatched += len(set(got) ^ expected) + len(doc_ids) - len(set(doc_ids))
                    attempted += len(self.docs) + len(got)
                record["resumed_stages"] = [u["resumed_stages"] for u in units]
                record["lost_bucket_docs"] = [u["restart"]["lost_docs"] for u in units]
            m["wall_s"] = median(walls)
            m["docs_per_s"] = self.n_docs / m["wall_s"]
            m["setup_s"] = median(setups)
            m["peak_worker_rss_mb"] = rss.peak_bytes / 2**20
            if self.kind == "resume":
                m["resume_s"] = median([u["resume_s"] for u in units])
            if rss.peak_bytes == 0:
                raise RuntimeError("no Python worker was seen under the JVM")

            if trace:
                layers, queries, restart_mismatched = self._layers(
                    spark, pool, chunks, counts, reference
                )
                m.update(layers)
                record["queries"] = queries
                attempted += len(queries)
                failed += sum(q["failed"] for q in queries.values())
                mismatched += restart_mismatched
                mismatched += sum(
                    not (q["failed"] or q["matches_oracle"]) for q in queries.values()
                )
            m["mismatched_outputs"] = mismatched
            m["error_rate"] = failed / attempted
            for unit in units:
                if "out" in unit:
                    shutil.rmtree(unit["out"], ignore_errors=True)
        finally:
            if pool is not None:
                pool.close()
                pool.join()
            session.close()

        record["metrics"] = m
        record["phases_s"] = {
            name: t["total_s"]
            for name, t in tracing.self_times(
                [s for s in self.tracer.spans if s[1] is None and not s[0].startswith("k")]
            ).items()
        }
        record["attempted"] = attempted
        record["failed"] = failed
        record["correct"] = mismatched == 0 and failed == 0
        if trace:
            self.trace_path = os.path.join(
                os.path.dirname(self.work), f"spans-{self.workload}-seed{self.seed}.json"
            )
            tracing.write(self.trace_path, self.tracer.spans, tracing.self_times(self.tracer.spans))
        return record

    def _unit(self, spark, index: int) -> dict:
        if self.kind == "extract":
            return {"wall_s": ladder.timed(
                lambda: ladder.noop(extract(spark.read.parquet(self.corpus_path)))
            )}
        out = os.path.join(self.work, f"cycle-{index}")
        unit = self._resume_cycle(spark, out)
        unit["out"] = out
        return unit

    def _layers(self, spark, pool, chunks, counts, reference) -> tuple[dict, dict, int]:
        """The per-layer metrics of a traced run; per operator query,
        whether it failed and whether it matched its oracle; and whether the
        production restart recomputed more than its lost bucket."""
        m: dict = {}
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{key}"] = median([c[key] for c in counts])

        with self.tracer.span("ladder"):
            rungs = ladder.run(spark, self.corpus_path, LADDER_REPS, self.tracer)
        with self.tracer.span("kernel_output"):
            rows = self._check_spans(extract(spark.read.parquet(self.corpus_path)), reference)["rows"]
        ms = [r["ms"] for r in rows]
        per_part: dict[int, float] = collections.defaultdict(float)
        for r in rows:
            per_part[r["part"]] += r["ms"]
        part_ms = sorted(per_part.values())
        pct = quantiles(ms, n=100)
        m["pipeline.scan_reassembly_s"] = rungs["L0"]
        m["pipeline.arrow_crossing_s"] = rungs["L1"] - rungs["L0"]
        m["pipeline.python_tasks"] = rungs["tasks"]
        m["pipeline.task_fixed_ms"] = 1000.0 * rungs["empty"] / rungs["tasks"]
        m["pipeline.task_non_kernel_s"] = rungs["L3"] - sum(ms) / 1000.0 / self.cores
        m["pipeline.partition_skew"] = part_ms[-1] / median(part_ms)
        m["pipeline.straggler_s"] = (part_ms[-1] - median(part_ms)) / 1000.0
        m["kernel.doc_ms_p50"] = pct[49]
        m["kernel.doc_ms_p99"] = pct[98]
        m["kernel.fallback_rerun_ratio"] = sum(bool(r["fallback_rerun"]) for r in rows) / len(rows)

        untraced_seconds, traced_seconds = [], []
        with self.tracer.span("kernel_paired"):
            for untraced, traced, spans in pool.imap_unordered(kernelref.paired, enumerate(chunks)):
                untraced_seconds.extend(untraced)
                traced_seconds.extend(traced)
                self.tracer.spans.extend(spans)
        kernel = tracing.self_times(
            [s for s in self.tracer.spans if s[0].startswith("k")]
        )

        def self_s(name):
            return kernel.get(name, {}).get("self_s", 0.0)

        m["kernel.docs_per_s_1core"] = len(untraced_seconds) / sum(untraced_seconds)
        m["dom.parse_s"] = self_s("dom.build_document")
        m["dom.parses_per_doc"] = kernel.get("dom.build_document", {}).get("calls", 0) / len(rows)
        m["kernel.prepare_s"] = self_s("kernel.prepare_document")
        m["kernel.content_s"] = self_s("kernel.extract_article_content")
        m["kernel.glue_s"] = self_s("kernel.glue_document")
        m["kernel.other_s"] = self_s("kernel.transcode")
        m["spans.emit_s"] = self_s("spans.extract_spans_flat")
        m["kernel.trace_overhead_s"] = sum(traced_seconds) - sum(untraced_seconds)

        # the production path with its stage checkpoints, on an eighth of
        # the corpus on the extraction workloads
        with self.tracer.span("production"):
            production = self._production(
                spark,
                os.path.join(self.work, "production"),
                PRODUCTION_FILES if self.kind == "extract" else None,
            )
        with self.tracer.span("production.restart"):
            restart = self._partial_restart(spark, production["corpus"], production["extracted"])
        stage = production["stage_wall_s"]
        m["lineage.extract_commit_s"] = production["extract_commit_s"]
        m["lineage.resume_skip_ratio"] = restart["buckets_skipped"] / restart["n_buckets"]
        m["lineage.recomputed_docs"] = restart["docs_computed"]
        for name in ("quality", "line_clean", "pairs", "final"):
            m[f"curate.{name}_s"] = stage.get(name, 0.0)

        # the operator layer: the oracle check runs first, untimed, and
        # warms the code paths the timed pass then runs
        sf_dir = os.path.join(self.work, "tables")
        with self.tracer.span("operators"):
            with self.tracer.span("operators.generate"):
                tables.write(self.seed, sf_dir)
            with self.tracer.span("operators.check"):
                matches = operators.check(spark, sf_dir)
            timed = operators.run(spark, sf_dir, self.tracer)
        queries = {}
        m["operators.build_s"] = m["operators.exec_s"] = 0.0
        for name, module in operators.QUERIES.items():
            queries[name] = {"failed": timed[name] is None, "matches_oracle": matches[name]}
            t = timed[name] or {"build_s": 0.0, "exec_s": 0.0}
            m["operators.build_s"] += t["build_s"]
            m["operators.exec_s"] += t["exec_s"]
            m[f"query.{name}_s"] = t["build_s"] + t["exec_s"]
            key = operators.module_metric(module)
            m[key] = m.get(key, 0.0) + m[f"query.{name}_s"]
        return m, queries, self._restart_mismatches(restart)


def _rows(df) -> list[dict]:
    return df.toArrow().to_pylist()
