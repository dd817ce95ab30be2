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
import time

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
    """:func:`curate` with per-stage, per-bucket checkpointed lineage.

    OPTIONAL stages complete the modern pipeline (all default off, so
    the rule-based 4-stage shape is unchanged):

    * **URL hygiene** (r7; stage ``url_hygiene``, FIRST -- the cheapest
      drops happen before any text is touched): enabled when ``url_col``
      is given together with any of ``blocked_domains`` (iterable or
      single-column DataFrame; PSL registrable-domain broadcast
      membership), ``max_docs_per_domain`` (anti-domination window cap),
      ``url_dedup=True`` (canonical-URL keep-minimum-doc_id).  The
      fingerprint carries the blocklist md5 / cap / dedup flag, so
      changing any of them recomputes everything downstream.

    * ``quality_model`` (an ``ops.quality_model.QualityModel``): model
      scoring right after the rule filter -- drops docs with
      ``logit <= model_threshold`` (stage ``model_filter``; its params
      fingerprint includes an md5 of the weights, so swapping models
      invalidates the checkpoint).
    * ``decontam_eval`` (a ``(eval_id, <text_col>)`` DataFrame): eval-set
      decontamination right after line cleaning -- strips docs sharing any
      ``decontam_n``-gram with the eval set (stage ``decontam``;
      fingerprinted by the eval frame's file listing).

    * ``pii=True``: PII scrubbing (ops.pii fixed-order redaction chain)
      right before the pair graph, so near-dup hashing sees the text that
      will actually ship (stage ``pii_scrub``; its presence alone is the
      fingerprint key -- the pattern table is part of the code).

    Stage order: quality -> [model_filter] -> line_clean -> [decontam] ->
    [pii_scrub] -> pairs -> final.  Every stage (optional ones included) commits through
    the same bucketed parquet + manifest + marker protocol, and each
    stage's params fold into every DOWNSTREAM fingerprint, so toggling or
    re-tuning an optional stage recomputes exactly the stages after it.

    ``input_fingerprint`` identifies the INPUT corpus inside every stage's
    params fingerprint, so rerunning into the same ``--output`` with a
    different input recomputes instead of short-circuiting on the old
    corpus's markers.  Defaults to :func:`nreadspark.lineage.input_fingerprint`
    of ``docs`` (md5 of its source-file listing); pass an explicit string
    for in-memory inputs with no file lineage (the CLI passes
    ``synthetic:<n>`` for ``--synthetic``).  ``None`` + no file lineage
    keeps the pre-round-5 identity-blind behavior (documented gap: two
    distinct in-memory frames are indistinguishable).

    Each stage hand-off (quality-kept docs, line-cleaned text, verified
    pairs) is committed under ``<output>/_stages/<stage>/`` exactly like
    the extract job's output (parquet partitioned by the deterministic
    doc-id bucket + one manifest per bucket + an atomic stage marker
    carrying the stage's stats); the final survivors commit at the output
    root the same way.  A crash mid-near-dup therefore re-pays only the
    near-dup stage: on the next run completed stages load from their
    committed parquet (stats from the marker -- summed correctly across
    the resume), and a PARTIALLY-written stage recomputes its global
    aggregates but skips the bucket partitions already committed.

    Downstream stages always consume the RE-READ committed parquet, never
    the in-memory plan, so within a single run each stage's lineage is one
    scan of its predecessor's files -- the same property resume relies on.

    ``fail_after_stage`` ('url_hygiene' | 'quality' | 'model_filter' |
    'line_clean' | 'decontam' | 'pii_scrub' | 'pairs' | 'final') injects a
    crash right after that stage's marker commits -- the kill-and-resume
    test hook; a stage this run does not execute is a ValueError before
    any work.  Returns ``(surviving_df, stats)`` like :func:`curate`,
    with ``stats['resumed_stages']`` listing the stages loaded from
    checkpoint.

    ``clean_stages=True`` deletes ``<output>/_stages/`` after the final
    marker commits: the checkpoints total roughly three corpus-sized
    copies (quality + line_clean outputs dominate), which at production
    scale is dead weight once the survivors are committed.  The default
    keeps them -- crash forensics and incremental re-runs with different
    downstream parameters need the upstream stages intact.  The CLI
    defaults to cleaning (pass ``--keep-stages`` to retain).
    """
    from pyspark.sql import functions as F

    from nreadspark import lineage
    from nreadspark.ops.dedup import (
        _persist,
        keep_canonical,
        line_dedup,
        minhash_lsh_candidates,
        verify_jaccard,
    )
    from nreadspark.ops.textstats import c4_quality_filter

    hygiene_enabled = url_col is not None and (
        blocked_domains is not None
        or max_docs_per_domain is not None
        or url_dedup
    )
    stage_names = (
        (["url_hygiene"] if hygiene_enabled else [])
        + ["quality"]
        + (["model_filter"] if quality_model is not None else [])
        + ["line_clean"]
        + (["decontam"] if decontam_eval is not None else [])
        + (["pii_scrub"] if pii else [])
        + ["pairs", "final"]
    )
    runner = lineage.StageRunner(
        spark, output_path, stage_names, n_buckets, resume, fail_after_stage
    )
    stats: dict = {"resumed_stages": []}

    if input_fingerprint is None:
        input_fingerprint = lineage.input_fingerprint(docs)
    if quality_model is not None:
        model_fp = hashlib.md5(
            (",".join(f"{w:.17g}" for w in quality_model.weights)
             + f"|{quality_model.bias:.17g}|{quality_model.hash_fn}").encode()
        ).hexdigest()
    else:
        model_fp = None
    eval_fp = lineage.input_fingerprint(decontam_eval) if decontam_eval is not None else None
    uparams = None
    if hygiene_enabled:
        if blocked_domains is None:
            bl_fp = None
        elif hasattr(blocked_domains, "schema"):  # a DataFrame blocklist
            bl_fp = lineage.input_fingerprint(blocked_domains) or "df"
        else:
            bl_fp = hashlib.md5(
                "\n".join(sorted(str(d).lower() for d in blocked_domains)).encode()
            ).hexdigest()
        uparams = {
            "url_col": url_col,
            "blocklist": bl_fp,
            "url_cap": max_docs_per_domain,
            "url_dedup": int(url_dedup),
        }
        if input_fingerprint is not None:
            uparams["input"] = input_fingerprint
    qparams = {"min_words": min_words, "text_col": text_col}
    # hygiene params fold into EVERY downstream fingerprint only when the
    # stage is enabled (same conditional-key rule as the other optional
    # stages: disabled -> byte-identical to the historical chain)
    if hygiene_enabled:
        qparams["url_hygiene"] = {
            k: uparams[k] for k in ("url_col", "blocklist", "url_cap", "url_dedup")
        }
    # the input-identity key joins the chain ONLY when a fingerprint
    # exists: for lineage-less in-memory inputs the params stay
    # byte-identical to the pre-fingerprint era's, so genuinely
    # pre-upgrade checkpoints (whose markers lack the key) still resume
    if input_fingerprint is not None:
        qparams["input"] = input_fingerprint
    # optional-stage keys appear in the fingerprint chain ONLY when the
    # stage is enabled: with both stages off the fingerprints are
    # byte-identical to the 4-stage pipeline's, so pre-existing checkpoints
    # resume, and an idle --model-threshold cannot spuriously invalidate
    # downstream stages
    mparams = (
        {**qparams, "model": model_fp, "model_threshold": model_threshold}
        if quality_model is not None
        else qparams
    )
    lparams = {**mparams, "line_delimiter": line_delimiter,
               "line_min_repeats": line_min_repeats}
    dparams = (
        {**lparams, "eval": eval_fp, "decontam_n": decontam_n}
        if decontam_eval is not None
        else lparams
    )
    sparams = {**dparams, "pii": 1} if pii else dparams
    pparams = {**sparams, "minhash_threshold": minhash_threshold}
    fparams = pparams  # keep_canonical adds no knobs of its own

    # short-circuit: a COMPLETED job (final marker present, matching
    # layout) returns its committed survivors immediately -- without this,
    # rerunning after the default stage cleanup would recompute all three
    # upstream stages at full corpus cost and then discard the result
    # (every final bucket manifest already exists, so nothing would be
    # written).  The final marker carries the full merged stats dict.
    done = runner.committed("final", fparams)
    if done is not None:
        final_df, fstats = done
        stats.update(fstats)
        stats["resumed_stages"] = stage_names
        if clean_stages:
            # a requested cleanup must happen even on the no-work path
            # (e.g. run 1 used --keep-stages, or crashed between the
            # final marker and its own cleanup)
            runner.clean_stages()
            stats["stages_cleaned"] = True
        return final_df, stats

    def stage(name, params, build, **kw):
        t0 = time.perf_counter()
        df, stage_stats, resumed = runner.run(name, params, build, **kw)
        if resumed:
            stats["resumed_stages"].append(name)
        else:
            # resumed stages report no wall: it describes this run's work
            stats.setdefault("stage_wall_s", {})[name] = round(time.perf_counter() - t0, 3)
        stats.update(stage_stats)
        return df

    # -- optional stage 0: URL hygiene (r7) -------------------------------
    # the cheapest drops run FIRST, before any text-shaped work: blocklist
    # membership is a broadcast join, the domain cap is one window over
    # (domain, doc_id), URL dedup is one canonical-url aggregation -- all
    # scan-stage string surgery on the (usually short) url column
    if hygiene_enabled:
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

        docs = stage("url_hygiene", uparams, build_url_hygiene)

    # -- stage 1: quality filter ------------------------------------------
    def build_quality():
        src = _persist(docs)
        qstats = {"input_docs": src.count()}
        verdicts = c4_quality_filter(src, text_col=text_col, min_words=min_words)
        reason_counts = {
            r["reasons"]: r["n"]
            for r in verdicts.filter(~F.col("keep"))
            .groupBy("reasons")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        qstats["quality_dropped"] = sum(reason_counts.values())
        qstats["quality_drop_reasons"] = reason_counts
        kept = src.join(verdicts.filter("keep").select("doc_id"), "doc_id")
        return kept.select("doc_id", text_col), qstats

    kept = stage("quality", qparams, build_quality)

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

        kept = stage("model_filter", mparams, build_model_filter)

    # -- stage 2: boilerplate line removal --------------------------------
    def build_line_clean():
        cleaned = _persist(line_dedup(
            kept,
            text_col=text_col,
            delimiter=line_delimiter,
            min_repeats=line_min_repeats,
            keep_all_docs=True,
        ).select("doc_id", F.col("clean_text").alias(text_col), "n_removed"))
        return cleaned, {
            "boilerplate_lines_removed": int(
                cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
            ),
            "emptied_by_line_dedup": cleaned.filter(F.length(text_col) == 0).count(),
        }

    cleaned = stage("line_clean", lparams, build_line_clean)

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

        cleaned = stage("decontam", dparams, build_decontam)

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

        cleaned = stage("pii_scrub", sparams, build_pii_scrub)

    # -- stage 3: near-dup pair verification ------------------------------
    def build_pairs():
        # docs emptied by line dedup bypass the pair graph (all empty texts
        # tokenize identically -- they are not duplicates of each other)
        dedup_input = cleaned.filter(F.length(text_col) > 0).select("doc_id", text_col)
        candidates = minhash_lsh_candidates(dedup_input, text_col=text_col)
        verified = verify_jaccard(
            dedup_input, candidates, text_col=text_col, threshold=minhash_threshold
        ).select("doc_id_a", "doc_id_b")
        return verified, {}

    pairs = stage(
        "pairs", pparams, build_pairs, id_col="doc_id_a", rows_stat_key="near_dup_pairs"
    )

    # -- stage 4: survivors (final output at the root) --------------------
    def build_final():
        # the final marker carries the FULL merged stats so a completed
        # job's rerun can short-circuit with them; resumed_stages /
        # stage_wall_s describe a particular RUN, not the output -- they
        # stay out of the committed marker
        return keep_canonical(cleaned.drop("n_removed"), pairs), {
            k: v for k, v in stats.items() if k not in ("resumed_stages", "stage_wall_s")
        }

    final_df = stage("final", fparams, build_final, rows_stat_key="surviving_docs")
    if clean_stages:
        runner.clean_stages()
        stats["stages_cleaned"] = True
    return final_df, stats


def curate(
    docs,
    text_col: str = "text",
    min_words: int = 5,
    minhash_threshold: float = 0.7,
    line_min_repeats: int = 2,
    line_delimiter: str = "\n",
):
    """The pipeline as a reusable function: (surviving_df, stats dict).

    ``docs`` needs (doc_id, <text_col>).  Stages run in quality -> line-dedup
    -> near-dup order so the expensive MinHash pass sees only surviving,
    boilerplate-free text.  ``line_delimiter`` defaults to newline -- real
    extracted text is line-structured; pass ',' for clause-structured
    corpora like the synthetic test tables.

    Caching contract: ``cleaned`` and ``verified`` stay persisted because
    the RETURNED surviving frame is computed from them (the caller's write
    reuses the cache); the input frame is unpersisted as soon as the
    line-dedup stage has materialized.  One curate() call per session is
    the intended shape (it is a job, not a library primitive).
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import (
        keep_canonical,
        line_dedup,
        minhash_lsh_candidates,
        verify_jaccard,
    )
    from nreadspark.ops.textstats import c4_quality_filter

    # each stage's output feeds both the next stage AND its stats action --
    # persist the hand-off frames so no stage recomputes its predecessors
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    stats: dict = {"input_docs": docs.count()}

    # 1. rule-based quality filter
    verdicts = c4_quality_filter(docs, text_col=text_col, min_words=min_words)
    reason_counts = {
        r["reasons"]: r["n"]
        for r in verdicts.filter(~F.col("keep"))
        .groupBy("reasons")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = docs.join(verdicts.filter("keep").select("doc_id"), "doc_id")
    stats["quality_dropped"] = sum(reason_counts.values())
    stats["quality_drop_reasons"] = reason_counts

    # 2. cross-document boilerplate line removal (keep every doc: a doc
    # whose text was ALL boilerplate still flows to the dedup stage)
    cleaned = line_dedup(
        kept, text_col=text_col, delimiter=line_delimiter,
        min_repeats=line_min_repeats, keep_all_docs=True
    ).select(
        "doc_id", F.col("clean_text").alias(text_col), "n_removed"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats["boilerplate_lines_removed"] = (
        cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
    )
    docs.unpersist()  # cleaned is materialized; the input cache is done
    cleaned = cleaned.drop("n_removed")

    # 3. near-dup: candidates -> exact verify -> components -> survivors.
    # Documents EMPTIED by line dedup are excluded from the pair graph: all
    # empty texts tokenize identically (Jaccard 1.0), so leaving them in
    # would cluster mutually unrelated documents as "duplicates" of each
    # other.  They bypass dedup and survive (stats expose the count so a
    # caller can drop them).
    dedup_input = cleaned.filter(F.length(text_col) > 0)
    stats["emptied_by_line_dedup"] = stats["input_docs"] - stats[
        "quality_dropped"
    ] - dedup_input.count()
    candidates = minhash_lsh_candidates(dedup_input, text_col=text_col)
    verified = verify_jaccard(
        dedup_input, candidates, text_col=text_col, threshold=minhash_threshold
    ).select("doc_id_a", "doc_id_b").persist(StorageLevel.MEMORY_AND_DISK)
    surviving = keep_canonical(cleaned, verified)
    stats["near_dup_pairs"] = verified.count()
    stats["surviving_docs"] = surviving.count()
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

    from pyspark.sql import SparkSession

    from nreadspark.pipeline import configure_session_defaults

    builder = SparkSession.builder.appName("nreadspark-curate")
    if args.master:
        builder = builder.master(args.master)
    spark = configure_session_defaults(builder).getOrCreate()

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
