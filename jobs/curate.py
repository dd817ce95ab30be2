"""spark-submit entry point: the full corpus-curation pipeline over an
extracted-documents table -- the stage a training-data team runs AFTER
jobs/extract.py:

    spark-submit --py-files nreadspark.zip jobs/curate.py \
        --input /path/to/extracted --output /path/to/curated \
        [--text-col text] [--min-words 5] [--minhash-threshold 0.7] \
        [--line-min-repeats 2] [--synthetic N]

Stages (each pure-DataFrame, composing the ops/ layer):

1. **Quality filter** (`c4_quality_filter`): rule-based keep/drop with
   explainable reasons; dropped docs are counted per reason.
2. **Boilerplate line removal** (`line_dedup`): cross-document repeated
   lines stripped, text rewritten.
3. **Near-duplicate clustering**: MinHash/LSH candidates -> exact Jaccard
   verify -> `connected_components` -> `keep_canonical`: only each
   cluster's minimum-id document survives.
4. **Write** the surviving (doc_id, <text_col>) table + a JSON summary
   with per-stage counts on stdout.

The CLI runs `curate_resumable`: every stage hand-off commits under
`<output>/_stages/<stage>/` as bucket-partitioned parquet with per-bucket
manifests and an atomic stage marker (`lineage.StageRunner`, over the same
bucket writer as the extract job), so a crash mid-near-dup re-pays only
the near-dup stage and a partially-written stage fills in just its
missing buckets.
`--no-resume` forces a clean recompute; `--n-buckets` sets checkpoint
granularity.

No counterpart exists in the reference (it is a per-page library); this is
the engine's "what you actually run at 10^12 documents" surface, and every
stage is the oracle-checked operator from __spark_entry__.py.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def curate_resumable(
    spark,
    docs,
    output_path: str,
    text_col: str = "text",
    min_words: int = 5,
    minhash_threshold: float = 0.7,
    line_min_repeats: int = 2,
    line_delimiter: str = "\n",
    n_buckets: int = 16,
    resume: bool = True,
    fail_after_stage: str | None = None,
    clean_stages: bool = False,
    input_fingerprint: str | None = None,
    quality_model=None,
    model_threshold: float = 0.0,
    decontam_eval=None,
    decontam_n: int = 13,
    pii: bool = False,
    url_col: str | None = None,
    blocked_domains=None,
    max_docs_per_domain: int | None = None,
    url_dedup: bool = False,
):
    """The curation chain with per-stage, per-bucket checkpointed lineage
    (:func:`curate` runs the same chain in memory, without checkpoints).

    OPTIONAL stages complete the modern pipeline (all default off, so
    the rule-based 4-stage shape is unchanged):

    * **URL hygiene** (r7; stage ``url_hygiene``, FIRST -- the cheapest
      drops happen before any text is touched): enabled when ``url_col``
      is given together with any of ``blocked_domains`` (iterable or
      single-column DataFrame; PSL registrable-domain broadcast
      membership), ``max_docs_per_domain`` (anti-domination window cap),
      ``url_dedup=True`` (canonical-URL keep-minimum-doc_id).
    * ``quality_model`` (an ``ops.quality_model.QualityModel``): model
      scoring right after the rule filter -- drops docs with
      ``logit <= model_threshold`` (stage ``model_filter``, keyed by an
      md5 of the weights).
    * ``decontam_eval`` (a ``(eval_id, <text_col>)`` DataFrame): eval-set
      decontamination right after line cleaning -- strips docs sharing any
      ``decontam_n``-gram with the eval set (stage ``decontam``, keyed by
      the eval frame's file listing).
    * ``pii=True``: PII scrubbing (ops.pii fixed-order redaction chain)
      right before the pair graph, so near-dup hashing sees the text that
      will actually ship (stage ``pii_scrub``; the pattern table is part
      of the code).

    Stage order: [url_hygiene] -> quality -> [model_filter] -> line_clean
    -> [decontam] -> [pii_scrub] -> pairs -> final.  The stage table below
    declares each stage's own knobs once; :class:`nreadspark.lineage.StageRunner`
    derives the checkpoint fingerprints from it and commits every stage.

    ``input_fingerprint`` identifies the INPUT corpus, so rerunning into
    the same ``--output`` with a different input recomputes instead of
    short-circuiting on the old corpus's markers.  Defaults to
    :func:`nreadspark.lineage.input_fingerprint` of ``docs`` (md5 of its
    source-file listing); pass an explicit string for in-memory inputs
    with no file lineage (the CLI passes ``synthetic:<n>`` for
    ``--synthetic``).  ``None`` + no file lineage keeps the identity-blind
    behavior (documented gap: two distinct in-memory frames are
    indistinguishable).

    Each stage hand-off (quality-kept docs, line-cleaned text, verified
    pairs) is committed under ``<output>/_stages/<stage>/`` exactly like
    the extract job's output (parquet partitioned by the deterministic
    doc-id bucket + one manifest per bucket + an atomic stage marker
    carrying the stats); the final survivors commit at the output root
    the same way.  A crash mid-near-dup therefore re-pays only the
    near-dup stage: on the next run completed stages load from their
    committed parquet (stats from the marker), and a PARTIALLY-written
    stage skips the bucket partitions already committed.  A COMPLETED job
    returns its committed survivors and stats from the final marker
    without running any stage.

    Stage stats come from the commit where they can: the row counts and
    sums of the frame a stage writes (``boilerplate_lines_removed``,
    ``emptied_by_line_dedup``, ``near_dup_pairs``, ``surviving_docs``)
    are Column aggregates the runner folds into its per-bucket manifest
    aggregation and sums over every committed manifest, so they cost no
    Spark job and stay exact when a partial stage resumes.  The rest
    still run an action of their own, because they count frames the
    commit does not write: ``quality`` groups its verdicts once (input
    docs and per-reason drops, while it commits only the kept docs),
    ``url_hygiene``, ``model_filter`` and ``decontam`` count their
    intermediate or dropped frames, and ``pii_scrub`` builds a nested
    per-category dict.  Those are recomputed over the whole stage input
    when a partial stage resumes.

    ``fail_after_stage`` (any stage name of this run) injects a crash
    right after that stage's marker commits -- the kill-and-resume test
    hook; a stage this run does not execute is a ValueError before any
    work.  Returns ``(surviving_df, stats)`` like :func:`curate`, with
    ``stats['resumed_stages']`` listing the stages loaded from checkpoint
    and ``stats['stage_wall_s']`` the wall of each stage this run
    computed.

    ``clean_stages=True`` deletes ``<output>/_stages/`` after the final
    marker commits: the checkpoints total roughly three corpus-sized
    copies (quality + line_clean outputs dominate), which at production
    scale is dead weight once the survivors are committed.  The default
    keeps them -- crash forensics and incremental re-runs with different
    downstream parameters need the upstream stages intact.  The CLI
    defaults to cleaning (pass ``--keep-stages`` to retain).
    """
    from nreadspark import lineage

    hygiene_enabled = url_col is not None and (
        blocked_domains is not None
        or max_docs_per_domain is not None
        or url_dedup
    )
    if blocked_domains is None:
        blocklist_fp = None
    elif hasattr(blocked_domains, "schema"):  # a DataFrame blocklist
        blocklist_fp = lineage.input_fingerprint(blocked_domains) or "df"
    else:
        blocklist_fp = hashlib.md5(
            "\n".join(sorted(str(d).lower() for d in blocked_domains)).encode()
        ).hexdigest()
    model_fp = None if quality_model is None else hashlib.md5(
        (",".join(f"{w:.17g}" for w in quality_model.weights)
         + f"|{quality_model.bias:.17g}|{quality_model.hash_fn}").encode()
    ).hexdigest()
    eval_fp = None if decontam_eval is None else lineage.input_fingerprint(decontam_eval)
    stage_table = [
        ("url_hygiene", hygiene_enabled, {"url_hygiene": {
            "url_col": url_col, "blocklist": blocklist_fp,
            "url_cap": max_docs_per_domain, "url_dedup": int(url_dedup),
        }}),
        ("quality", True, {"min_words": min_words, "text_col": text_col}),
        ("model_filter", quality_model is not None,
         {"model": model_fp, "model_threshold": model_threshold}),
        ("line_clean", True,
         {"line_delimiter": line_delimiter, "line_min_repeats": line_min_repeats}),
        ("decontam", decontam_eval is not None, {"eval": eval_fp, "decontam_n": decontam_n}),
        ("pii_scrub", pii, {"pii": 1}),
        ("pairs", True, {"minhash_threshold": minhash_threshold}),
        ("final", True, {}),
    ]
    runner = lineage.StageRunner(
        spark, output_path,
        [(name, own) for name, enabled, own in stage_table if enabled],
        n_buckets, resume, fail_after_stage,
        input_id=input_fingerprint if input_fingerprint is not None
        else lineage.input_fingerprint(docs),
    )

    def result(final_df, stage_stats, resumed_stages):
        stats = {"resumed_stages": resumed_stages, "stage_wall_s": runner.stage_wall_s}
        for own in stage_stats.values():
            stats.update(own)
        if clean_stages:
            # a requested cleanup happens on the no-work path too (run 1
            # used --keep-stages, or crashed before its own cleanup)
            runner.clean_stages()
            stats["stages_cleaned"] = True
        return final_df, stats

    # a COMPLETED job returns its committed survivors: without this,
    # rerunning after the default stage cleanup would recompute every
    # upstream stage at full corpus cost and then write nothing
    done = runner.committed("final")
    if done is not None:
        return result(*done, list(runner.params))

    final_df = _chain(
        runner.run, docs, text_col, min_words, minhash_threshold, line_min_repeats,
        line_delimiter, hygiene=hygiene_enabled, url_col=url_col,
        blocked_domains=blocked_domains, max_docs_per_domain=max_docs_per_domain,
        url_dedup=url_dedup, quality_model=quality_model,
        model_threshold=model_threshold, decontam_eval=decontam_eval,
        decontam_n=decontam_n, pii=pii,
    )
    return result(final_df, runner.stats, runner.resumed_stages)


def _chain(
    run, docs, text_col, min_words, minhash_threshold, line_min_repeats,
    line_delimiter, hygiene=False, url_col=None, blocked_domains=None,
    max_docs_per_domain=None, url_dedup=False, quality_model=None,
    model_threshold=0.0, decontam_eval=None, decontam_n=13, pii=False,
):
    """The curation chain, written once: every stage build and its order.

    Each stage is ``run(stage, build, id_col) -> DataFrame``, where
    ``build() -> (frame, stats)`` computes the stage from the frames
    ``run`` returned for the stages before it; a stats value that is a
    Column aggregate is ``run``'s to evaluate over the frame.
    :func:`curate_resumable` passes ``StageRunner.run`` (checkpointed
    commits), :func:`curate` an in-memory run.  ``hygiene`` turns the
    url_hygiene stage on; each other optional stage runs when its argument
    is given (see :func:`curate_resumable`).  Returns the final stage's
    frame."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import (
        _persist,
        keep_canonical,
        line_dedup,
        minhash_lsh_candidates,
        verify_jaccard,
    )
    from nreadspark.ops.textstats import c4_quality_filter

    # -- optional stage 0: URL hygiene (r7) -------------------------------
    # the cheapest drops run FIRST, before any text-shaped work: blocklist
    # membership is a broadcast join, the domain cap is one window over
    # (domain, doc_id), URL dedup is one canonical-url aggregation -- all
    # scan-stage string surgery on the (usually short) url column
    if hygiene:
        from nreadspark.ops.urls import (
            cap_per_domain,
            drop_blocked_domains,
            keep_canonical_urls,
        )

        def build_url_hygiene():
            cur = _persist(docs.select("doc_id", url_col, text_col))
            ustats = {"url_input_docs": cur.count()}
            if blocked_domains is not None:
                cur = _persist(drop_blocked_domains(cur, blocked_domains, url_col))
                ustats["after_blocklist"] = cur.count()
            if max_docs_per_domain is not None:
                cur = _persist(cap_per_domain(cur, max_docs_per_domain, url_col))
                ustats["after_domain_cap"] = cur.count()
            if url_dedup:
                cur = keep_canonical_urls(cur, url_col)
                # the kept count folds into the commit's own row stat
            return cur.select("doc_id", text_col), ustats

        docs = run("url_hygiene", build_url_hygiene)

    # -- stage 1: quality filter ------------------------------------------
    def build_quality():
        # the commit writes only the kept docs, so the input and drop
        # counts come from one grouping of the verdicts (a NULL keep, from
        # a NULL text, is counted as input but neither kept nor dropped)
        src = _persist(docs)
        verdicts = c4_quality_filter(src, text_col=text_col, min_words=min_words)
        groups = verdicts.groupBy("keep", "reasons").count().collect()
        reason_counts = {r["reasons"]: r["count"] for r in groups if r["keep"] is False}
        kept = src.join(verdicts.filter("keep").select("doc_id"), "doc_id")
        return kept.select("doc_id", text_col), {
            "input_docs": sum(r["count"] for r in groups),
            "quality_dropped": sum(reason_counts.values()),
            "quality_drop_reasons": reason_counts,
        }

    kept = run("quality", build_quality)

    # -- optional stage: model-based quality filter -----------------------
    if quality_model is not None:
        from nreadspark.ops.quality_model import score_quality

        def build_model_filter():
            # persist: the dropped-count action and the stage commit both
            # consume the scoring plan (explode + broadcast join + aggs
            # over the corpus) -- one evaluation, not two
            scored = _persist(score_quality(
                kept, quality_model, text_col=text_col, threshold=model_threshold
            ))
            filtered = kept.join(scored.filter("keep").select("doc_id"), "doc_id")
            return filtered, {"model_dropped": scored.filter(~F.col("keep")).count()}

        kept = run("model_filter", build_model_filter)

    # -- stage 2: boilerplate line removal --------------------------------
    def build_line_clean():
        cleaned = line_dedup(
            kept,
            text_col=text_col,
            delimiter=line_delimiter,
            min_repeats=line_min_repeats,
            keep_all_docs=True,
        ).select("doc_id", F.col("clean_text").alias(text_col), "n_removed")
        return cleaned, {
            "boilerplate_lines_removed": F.sum("n_removed"),
            "emptied_by_line_dedup": F.count_if(F.length(text_col) == 0),
        }

    cleaned = run("line_clean", build_line_clean)

    # -- optional stage: eval-set decontamination -------------------------
    if decontam_eval is not None:
        from nreadspark.ops.dedup import decontaminate

        def build_decontam():
            # persist the (tiny) contaminated-id set: the count and the
            # anti-join both consume the full n-gram overlap plan
            bad_ids = _persist(decontaminate(
                cleaned, decontam_eval, text_col=text_col,
                eval_text_col=text_col, n=decontam_n,
            ).filter("contaminated").select("doc_id"))
            stripped = cleaned.join(bad_ids, "doc_id", "left_anti")
            return stripped, {"decontaminated_dropped": bad_ids.count()}

        cleaned = run("decontam", build_decontam)

    # -- optional stage: PII scrubbing ------------------------------------
    if pii:
        from nreadspark.ops.pii import PII_PATTERNS, pii_scrub

        def build_pii_scrub():
            # persist: the per-category totals and the stage commit both
            # consume the scrub projection -- one evaluation, not two
            scrubbed = _persist(pii_scrub(cleaned, text_col=text_col))
            totals = scrubbed.agg(
                *[F.sum(f"n_{name}").alias(name) for name, _, _ in PII_PATTERNS]
            ).collect()[0]
            replaced = cleaned.drop(text_col).join(
                scrubbed.select("doc_id", F.col("clean_text").alias(text_col)),
                "doc_id",
            )
            return replaced, {"pii_redactions": {name: int(totals[name] or 0)
                                                 for name, _, _ in PII_PATTERNS}}

        cleaned = run("pii_scrub", build_pii_scrub)

    # -- stage 3: near-dup pair verification ------------------------------
    def build_pairs():
        # docs emptied by line dedup bypass the pair graph (all empty texts
        # tokenize identically -- they are not duplicates of each other)
        dedup_input = cleaned.filter(F.length(text_col) > 0).select("doc_id", text_col)
        candidates = minhash_lsh_candidates(dedup_input, text_col=text_col)
        verified = verify_jaccard(
            dedup_input, candidates, text_col=text_col, threshold=minhash_threshold
        ).select("doc_id_a", "doc_id_b")
        return verified, {"near_dup_pairs": F.count("*")}

    pairs = run("pairs", build_pairs, id_col="doc_id_a")

    # -- stage 4: survivors (final output at the root) --------------------
    return run("final", lambda: (
        keep_canonical(cleaned.drop("n_removed"), pairs),
        {"surviving_docs": F.count("*")},
    ))


def curate(
    docs,
    text_col: str = "text",
    min_words: int = 5,
    minhash_threshold: float = 0.7,
    line_min_repeats: int = 2,
    line_delimiter: str = "\n",
):
    """The in-memory reference run of the same chain: (surviving_df, stats).

    ``docs`` needs (doc_id, <text_col>).  The core stages (quality ->
    line_clean -> pairs -> final) run the builds of
    :func:`curate_resumable`, so the survivors and every shared stats key
    match a checkpointed run's.  Each stage's frame is materialized once
    (``localCheckpoint``, inside the stage's own ``cache_scope``, which
    releases the build's persisted intermediates) and its Column aggregate
    stats come from one ``agg`` over that frame.  Nothing goes through
    ``StageRunner`` or the bucket writer and no file is written or read:
    this is the checkpoint-free reference a resumed run is compared with.
    ``line_delimiter`` defaults to newline -- real extracted text is
    line-structured; pass ',' for clause-structured corpora like the
    synthetic test tables.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import cache_scope

    stats: dict = {}

    def run(stage, build, id_col="doc_id"):
        with cache_scope():
            df, own = build()
            df = df.localCheckpoint()
            aggs = {k: v for k, v in own.items() if isinstance(v, Column)}
            if aggs:
                totals = df.agg(*(F.coalesce(v, F.lit(0)).alias(k) for k, v in aggs.items()))
                own = {**own, **totals.first().asDict()}
            stats.update(own)
        return df

    surviving = _chain(
        run, docs, text_col, min_words, minhash_threshold, line_min_repeats, line_delimiter
    )
    return surviving, stats


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", help="input table path (parquet dir)")
    parser.add_argument("--output", required=True)
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--min-words", type=int, default=5)
    parser.add_argument("--minhash-threshold", type=float, default=0.7)
    parser.add_argument("--line-min-repeats", type=int, default=2)
    parser.add_argument(
        "--line-delimiter", default="\n",
        help="boilerplate line delimiter (default newline; ',' for clause-structured text)",
    )
    parser.add_argument(
        "--synthetic", type=int, default=0,
        help="curate N synthetic docs instead of reading --input",
    )
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--n-buckets", type=int, default=16,
        help="deterministic doc-id buckets for stage checkpoints (lineage granularity)",
    )
    parser.add_argument(
        "--no-resume", action="store_true",
        help="recompute everything (cleans stale stage data first)",
    )
    parser.add_argument(
        "--keep-stages", action="store_true",
        help="retain <output>/_stages/ checkpoints after success (~3 corpus-sized "
        "copies; default deletes them once the final output commits)",
    )
    parser.add_argument(
        "--quality-model",
        help="parquet path of a persisted QualityModel weights table "
        "(bucket, weight); enables the model_filter stage",
    )
    parser.add_argument("--model-threshold", type=float, default=0.0,
                        help="keep docs with logit > threshold (logit space)")
    parser.add_argument(
        "--pii-scrub", action="store_true",
        help="enable the optional PII redaction stage (emails/ssns/ipv4s/phones)",
    )
    parser.add_argument(
        "--decontam-eval",
        help="parquet path of the eval set (must carry --text-col); enables "
        "the decontam stage",
    )
    parser.add_argument("--decontam-n", type=int, default=13,
                        help="n-gram order for eval-set overlap")
    parser.add_argument(
        "--url-col", default=None,
        help="URL column name; enables the url_hygiene stage together "
        "with --blocked-domains-file / --max-docs-per-domain / --url-dedup",
    )
    parser.add_argument(
        "--blocked-domains-file", default=None,
        help="text file of registrable domains to drop (one per line)",
    )
    parser.add_argument(
        "--max-docs-per-domain", type=int, default=None,
        help="per-registrable-domain quota (anti-domination cap)",
    )
    parser.add_argument(
        "--url-dedup", action="store_true",
        help="keep only the minimum-doc_id row per canonical URL",
    )
    args = parser.parse_args()

    from nreadspark.pipeline import session_builder

    spark = session_builder("nreadspark-curate", args.master).getOrCreate()

    if args.synthetic:
        from pyspark.sql import functions as F

        from nreadspark.corpus import build_corpus_df

        docs = build_corpus_df(spark, args.synthetic).select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("spans", lambda s: s["text"])
            ).alias(args.text_col),
        )
        # in-memory synthetic corpus: no file lineage to fingerprint, so the
        # generator's own parameters are the input identity
        fingerprint = f"synthetic:{args.synthetic}"
    elif args.input:
        docs = spark.read.parquet(args.input).select("doc_id", args.text_col)
        fingerprint = None  # derived from the parquet file listing
    else:
        parser.error("either --input or --synthetic is required")
        return

    quality_model = None
    if args.quality_model:
        from nreadspark.ops.quality_model import QualityModel

        quality_model = QualityModel.from_df(spark.read.parquet(args.quality_model))
    decontam_eval = (
        spark.read.parquet(args.decontam_eval) if args.decontam_eval else None
    )
    blocked_domains = None
    if args.blocked_domains_file:
        with open(args.blocked_domains_file, encoding="utf-8") as fh:
            blocked_domains = [ln.strip() for ln in fh if ln.strip()]

    _surviving, stats = curate_resumable(
        spark,
        docs,
        args.output,
        text_col=args.text_col,
        min_words=args.min_words,
        minhash_threshold=args.minhash_threshold,
        line_min_repeats=args.line_min_repeats,
        line_delimiter=args.line_delimiter,
        n_buckets=args.n_buckets,
        resume=not args.no_resume,
        clean_stages=not args.keep_stages,
        input_fingerprint=fingerprint,
        quality_model=quality_model,
        model_threshold=args.model_threshold,
        decontam_eval=decontam_eval,
        decontam_n=args.decontam_n,
        pii=args.pii_scrub,
        url_col=args.url_col,
        blocked_domains=blocked_domains,
        max_docs_per_domain=args.max_docs_per_domain,
        url_dedup=args.url_dedup,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
