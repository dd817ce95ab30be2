"""Skewed-key soak for the shuffle-bearing operators: a power-law corpus
(one super-cluster in the pair graph; one mega-document in the packing
input) must not concentrate work into a single task.

Evidence is read from Spark's own task metrics (the status REST API):
for every shuffle-heavy stage of the job, the MAX task's shuffle-read
record count must stay within a small factor of the MEDIAN task's -- the
map-side partial aggregation inside connected_components' neighbor-min is
what absorbs the 20k-degree hub key, and this test locks that property.

Escape hatches documented here (and asserted where composable):
* connected_components: hub keys are absorbed by partial aggregation;
  upstream candidate generators bound star size via their
  max_bucket_size guards (ops/dedup.py minhash_lsh_candidates,
  embedding_near_duplicates_lsh, dedup_semantic) -- salt the band key
  (append pmod(xxhash64(doc_id), k)) only if a single logical bucket must
  be split further.
* pack_shards: greedy packing overflows a shard by AT MOST one document,
  so one mega-document blows one shard's budget -- run chunk_documents
  first (the intended pipeline order) and the overflow is bounded by the
  chunk size; asserted below.
"""

import json
import urllib.request

import pytest

pyspark = pytest.importorskip("pyspark")


def _api(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read().decode())


def _completed_stage_ids(spark):
    return {s["stageId"] for s in _api(spark, "/stages?status=complete")}


def _assert_no_task_blowup(spark, before_ids, min_records=1000, factor=8):
    """For every NEW completed stage that shuffled >= min_records, the max
    task's shuffle-read records must be <= factor * median (4 tasks/stage:
    a hot key absorbed by partial aggregation keeps reads balanced; an
    unabsorbed one puts ~everything in one task)."""
    stages = [
        s
        for s in _api(spark, "/stages?status=complete")
        if s["stageId"] not in before_ids and s.get("shuffleReadRecords", 0) >= min_records
    ]
    assert stages, "expected at least one shuffle-heavy stage to audit"
    audited = 0
    for s in stages:
        summary = _api(
            spark,
            f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.0,0.5,1.0",
        )
        sr = summary.get("shuffleReadMetrics")
        if not sr:
            continue
        _, median, mx = sr["readRecords"]
        audited += 1
        assert mx <= max(factor * max(median, 1.0), 64.0), (
            f"stage {s['stageId']}: max task read {mx} records vs median "
            f"{median} -- single-task blowup"
        )
    assert audited > 0


def test_components_power_law_star_balanced_shuffle(spark):
    """A 20k-leaf star (one hub key receives every neighbor-min update)
    plus a tail of small chains: components must be exact AND no task may
    absorb the hub alone."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import connected_components

    hub = spark.range(1, 20_001).select(
        F.lit(0).cast("long").alias("doc_id_a"), F.col("id").alias("doc_id_b")
    )
    # 500 disjoint 3-chains far above the hub id range
    chains = spark.range(500).selectExpr(
        "100000 + id * 10 as doc_id_a", "100000 + id * 10 + 1 as doc_id_b"
    ).unionAll(
        spark.range(500).selectExpr(
            "100000 + id * 10 + 1 as doc_id_a", "100000 + id * 10 + 2 as doc_id_b"
        )
    )
    before = _completed_stage_ids(spark)
    labels = connected_components(hub.unionAll(chains))
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert all(got[i] == 0 for i in range(0, 20_001))
    for c in range(500):
        base = 100000 + c * 10
        assert got[base] == got[base + 1] == got[base + 2] == base
    _assert_no_task_blowup(spark, before)


def test_pack_shards_mega_doc_chunk_first_bounds_overflow(spark):
    """Power-law documents: direct packing overflows one shard by the
    whole mega-doc (documented greedy contract); chunking first bounds
    every shard at budget + one chunk."""
    from pyspark.sql import functions as F

    from nreadspark.ops.chunking import chunk_documents, pack_shards

    mega_words = 50_000
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") == 7, F.concat_ws(" ", F.array_repeat(F.lit("w"), mega_words))
        )
        .otherwise(F.concat_ws(" ", F.array_repeat(F.lit("w"), 50)))
        .alias("text"),
    )
    budget = 2000

    def max_shard_load(out, cost_col):
        return (
            out.groupBy("bucket", "shard_id")
            .agg(F.sum(cost_col).alias("load"))
            .agg(F.max("load"))
            .collect()[0][0]
        )

    direct = pack_shards(docs, words_per_shard=budget, n_buckets=4)
    assert max_shard_load(direct, "n_words") >= mega_words  # the documented overflow

    chunks = chunk_documents(docs, max_words=512, overlap=0).select(
        F.concat_ws("#", "doc_id", "chunk_id").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    packed = pack_shards(chunks, words_per_shard=budget, n_buckets=4)
    max_load = max_shard_load(packed, "n_words")
    assert max_load <= budget + 512  # overflow bounded by one chunk
    # nothing lost: total words identical through the chunk->pack path
    total = packed.agg(F.sum("n_words")).collect()[0][0]
    assert total == mega_words + 399 * 50


def test_minhash_hot_corpus_total_shuffle_stays_linear(spark):
    """The LSH star guard end to end on a boilerplate-heavy corpus, with
    stage-metric evidence: candidate generation over 5k identical docs
    shuffles O(k) records in TOTAL (bucket counts partially aggregate to
    one row per band key per map task; star pairs come off a broadcast
    join).  A naive band self-join would shuffle ~12.5M pair rows here --
    the total across every stage must stay orders of magnitude below
    that."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import minhash_lsh_candidates, release_caches

    corpus = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical cookie banner text on every page of this site").alias("text"),
    )
    before = _completed_stage_ids(spark)
    n = minhash_lsh_candidates(corpus, max_bucket_size=64).count()
    release_caches()
    assert n == 4_999  # star pattern: O(k), not O(k^2)
    new_stages = [
        s for s in _api(spark, "/stages?status=complete") if s["stageId"] not in before
    ]
    total_shuffled = sum(s.get("shuffleReadRecords", 0) for s in new_stages) + sum(
        s.get("shuffleWriteRecords", 0) for s in new_stages
    )
    assert total_shuffled < 100_000, (
        f"star-guarded candidate generation shuffled {total_shuffled} records; "
        "O(k^2) blowup would be ~25M"
    )
