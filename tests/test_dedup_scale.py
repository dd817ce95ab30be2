"""Hot-bucket skew guard for MinHash LSH: a boilerplate corpus (thousands of
near-identical docs landing in one band bucket) must produce O(k) candidate
pairs via the star pattern, not the O(k^2) self-join blowup, while keeping
every member paired with a verified near-identical representative."""

import pytest

pyspark = pytest.importorskip("pyspark")


def _boilerplate_corpus(spark, n=10_000):
    from pyspark.sql import functions as F

    # identical boilerplate text for every doc: all MinHash signatures (and
    # therefore all band buckets) collide
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "this is the same cookie banner boilerplate text repeated on "
            "every single page of the site with no variation at all"
        ).alias("text"),
    )


def test_hot_bucket_star_bounds_candidates(spark):
    from nreadspark.ops.dedup import minhash_lsh_candidates

    n = 10_000
    corpus = _boilerplate_corpus(spark, n)
    cands = minhash_lsh_candidates(corpus, max_bucket_size=64)
    n_pairs = cands.count()
    # star pattern: every non-canonical doc pairs with doc 0, once
    assert n_pairs == n - 1, f"expected {n - 1} star pairs, got {n_pairs}"
    rows = cands.limit(5).collect()
    assert all(r["doc_id_a"] == 0 for r in rows)


def test_hot_bucket_overflow_metric(spark):
    from nreadspark.ops.dedup import lsh_bucket_overflow

    corpus = _boilerplate_corpus(spark, 1_000)
    stats = lsh_bucket_overflow(corpus, max_bucket_size=64).collect()
    # 4 bands, all 1000 docs share every bucket
    assert len(stats) == 4
    assert all(r["n_docs"] == 1_000 for r in stats)


def test_no_overflow_on_diverse_corpus(spark):
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import lsh_bucket_overflow

    # every token is doc-specific: all shingles (hence signatures) differ
    word = lambda salt: F.md5(F.concat(F.col("id").cast("string"), F.lit(salt)))  # noqa: E731
    corpus = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(str(i)) for i in range(8)]).alias("text"),
    )
    assert lsh_bucket_overflow(corpus, max_bucket_size=64).isEmpty()


def test_star_guard_keeps_planted_near_dups(spark):
    """Near-dups planted inside an oversized bucket still verify: star pairs
    connect every member to the canonical doc at jaccard ~1."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import minhash_lsh_candidates, verify_jaccard

    corpus = _boilerplate_corpus(spark, 500)
    cands = minhash_lsh_candidates(corpus, max_bucket_size=64)
    verified = verify_jaccard(corpus, cands, threshold=0.9)
    assert verified.count() == 499


def _simhash_reference(hashes, bits):
    """Plain-Python SimHash of one doc's signed 64-bit token hashes."""
    value = 0
    for i in range(bits):
        if sum(1 if (h >> i) & 1 else -1 for h in hashes) > 0:
            value |= 1 << i
    return value - (1 << 64) if value >= 1 << 63 else value


def test_simhash_arrow_matches_expr(spark):
    """The vectorized Arrow bit kernel must equal a plain-Python bit loop
    over the same JVM token hashes (both hash families, incl. bit 63)."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import _simhash_token_hashes, simhash

    corpus = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.md5(F.col("id").cast("string")),
            F.lit("shared words between docs"),
            F.sha2(F.col("id").cast("string"), 256),
        ).alias("text"),
    )
    for bits, hash_fn in ((64, "xxhash64"), (60, "md5")):
        got = dict(simhash(corpus, bits=bits, hash_fn=hash_fn).collect())
        ref = {
            r["doc_id"]: _simhash_reference(r["__h"], bits)
            for r in _simhash_token_hashes(corpus, "text", hash_fn).collect()
        }
        assert got == ref, f"mismatch for bits={bits}, hash_fn={hash_fn}"
        if bits == 64:
            assert any(v < 0 for v in ref.values())  # bit 63 is exercised


def test_embedding_lsh_finds_planted_near_dups(spark):
    """Planted near-identical embeddings must be recovered by the composed
    LSH->GEMM route (identical vectors share every band bucket)."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import embedding_near_duplicates_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dupes = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    out = embedding_near_duplicates_lsh(corpus, threshold=0.99, dim=64)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 1000000) for i in range(20)}
    assert planted <= pairs, f"missing planted pairs: {planted - pairs}"


def test_embedding_lsh_star_guard(spark):
    """An embedding-space boilerplate bucket (many identical vectors) is
    verified via the star pattern: O(k) pairs, all members covered."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import embedding_near_duplicates_lsh

    one = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j % 7) + 1.0) for j in range(8)]).alias("embedding"),
    )
    out = embedding_near_duplicates_lsh(
        one, threshold=0.99, dim=8, n_bits=8, n_bands=4, max_bucket_size=50
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, i) for i in range(1, 300)}


def test_embedding_lsh_hot_bucket_presplit_bounds_memory(spark):
    """~50k identical embeddings (one giant boilerplate bucket) must route
    through the pre-split star path: the plan anti-joins hot buckets away
    BEFORE collect_list, so the largest grouped row is bounded by
    max_bucket_size * dim * 8 bytes, and every member is still verified
    against the canonical vector."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import embedding_near_duplicates_lsh

    n = 50_000
    one = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j % 5) + 1.0) for j in range(8)]).alias("embedding"),
    )
    out = embedding_near_duplicates_lsh(
        one, threshold=0.99, dim=8, n_bits=8, n_bands=4, max_bucket_size=64
    )
    # plan shape: hot buckets are removed with a broadcast anti-join before
    # any collect_list aggregation (the memory bound, not just a pair bound)
    plan = out._jdf.queryExecution().toString()
    assert "LeftAnti" in plan
    rows = out.collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, i) for i in range(1, n)}
    assert all(r["cosine"] == 1.0 for r in rows)


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from nreadspark.ops.dedup import line_dedup

    rows = [
        ("a", "unique alpha, SUBSCRIBE NOW, more alpha text"),
        ("b", "beta content, SUBSCRIBE NOW, beta tail"),
        ("c", "gamma only, SUBSCRIBE NOW"),
        ("d", "all unique here, nothing shared"),
        ("e", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_repeats=2).collect()}
    assert out["a"]["clean_text"] == "unique alpha, more alpha text"
    assert out["a"]["n_removed"] == 1 and out["a"]["n_lines"] == 3
    assert out["b"]["clean_text"] == "beta content, beta tail"
    assert out["c"]["clean_text"] == "gamma only"
    assert out["d"]["n_removed"] == 0
    assert "e" not in out  # no non-empty lines -> no row (matches SQL twin)


def test_line_dedup_fallback_exact_and_keep_all_docs(spark):
    from nreadspark.ops.dedup import line_boilerplate_set_size, line_dedup

    rows = [
        ("a", "unique alpha, SUBSCRIBE NOW, more alpha text"),
        ("b", "beta content, SUBSCRIBE NOW, beta tail"),
        ("c", "gamma only, SUBSCRIBE NOW"),
        ("e", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    base = {tuple(r) for r in line_dedup(df).collect()}
    # exact mode (string join keys) and the shuffle fallback must agree
    assert {tuple(r) for r in line_dedup(df, exact=True).collect()} == base
    # a zero limit forces the fallback path -- the membership join must not
    # carry a broadcast hint, and results agree
    shuffled = line_dedup(df, broadcast_limit=0)
    assert "ResolvedHint" not in shuffled._jdf.queryExecution().analyzed().toString()
    assert {tuple(r) for r in shuffled.collect()} == base

    # worst case per the guard's purpose: min_repeats=1 makes EVERY line
    # boilerplate; the fallback path must still complete correctly
    worst = {r["doc_id"]: r for r in line_dedup(
        df, min_repeats=1, broadcast_limit=0).collect()}
    assert worst["a"]["clean_text"] == "" and worst["a"]["n_removed"] == 3

    # metric: 1 boilerplate line at min_repeats=2, 6 distinct lines at 1
    assert line_boilerplate_set_size(df).collect()[0][0] == 1
    assert line_boilerplate_set_size(df, min_repeats=1).collect()[0][0] == 6

    # keep_all_docs: the empty doc comes back as a zero-count row
    kept = {r["doc_id"]: r for r in line_dedup(df, keep_all_docs=True).collect()}
    assert kept["e"]["clean_text"] == "" and kept["e"]["n_lines"] == 0
    assert kept["e"]["n_removed"] == 0 and len(kept) == 4


def test_line_dedup_preserves_order_and_handles_all_boilerplate(spark):
    from nreadspark.ops.dedup import line_dedup

    rows = [("x", "same, same2"), ("y", "same, same2"), ("z", "same, same2, own bit")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_repeats=2).collect()}
    assert out["x"]["clean_text"] == "" and out["x"]["n_removed"] == 2
    assert out["z"]["clean_text"] == "own bit" and out["z"]["n_removed"] == 2


def test_repetition_stats_counts(spark):
    from nreadspark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            ("a", "x y, x y, unique bit"),
            ("b", "one two three"),
            ("c", "w"),
            ("d", "spam spam spam spam"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out["a"]["n_lines"] == 3 and out["a"]["dup_line_count"] == 1
    assert out["a"]["n_bigrams"] == 5 and out["a"]["top_bigram_count"] == 2
    assert out["b"]["dup_line_count"] == 0 and out["b"]["top_bigram_count"] == 1
    assert out["c"]["n_bigrams"] == 0 and out["c"]["top_bigram_count"] == 0
    # 'spam spam' x3 of 3 bigrams: fully repetitive doc
    assert out["d"]["n_bigrams"] == 3 and out["d"]["top_bigram_count"] == 3


def test_embedding_lsh_accepts_string_ids(spark):
    from nreadspark.ops.dedup import embedding_near_duplicates_lsh

    vec = [1.0, 0.0, 0.5, 0.25]
    rows = [("doc-a", vec), ("doc-b", vec), ("doc-c", [0.0, 1.0, -0.5, 0.25])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = embedding_near_duplicates_lsh(
        df, threshold=0.99, dim=4, n_bits=4, n_bands=2, planes="axis"
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert ("doc-a", "doc-b") in pairs
    assert all(isinstance(r["id_a"], str) for r in out)


# (id, vector): an exact and a scaled duplicate of id 1, a vector at cosine
# 0.9499996 to it (rounds to 0.95) and one at 0.9499994 (rounds to
# 0.949999), a zero vector, and an orthogonal and an opposite pair
_COS_TABLE = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [1.0, 0.0, 0.0, 0.0]),
    (3, [2.0, 0.0, 0.0, 0.0]),
    (4, [0.9499996, (1 - 0.9499996**2) ** 0.5, 0.0, 0.0]),
    (5, [0.9499994, (1 - 0.9499994**2) ** 0.5, 0.0, 0.0]),
    (6, [0.0, 0.0, 0.0, 0.0]),
    (7, [0.0, 0.0, 1.0, 0.0]),
    (8, [0.0, 0.0, -1.0, 0.0]),
]


def _all_pairs_cosine(rows, threshold):
    """{(lo, hi): cosine} over every pair, cosine rounded to 6 places and
    norms floored at 1e-300 (a zero vector scores 0.0)."""
    import itertools
    import math

    out = {}
    for (i, u), (j, v) in itertools.combinations(rows, 2):
        dot = sum(x * y for x, y in zip(u, v))
        nu = max(math.sqrt(sum(x * x for x in u)), 1e-300)
        nv = max(math.sqrt(sum(x * x for x in v)), 1e-300)
        cos = round(dot / (nu * nv), 6)
        if cos >= threshold:
            out[min(i, j), max(i, j)] = cos
    return out


@pytest.mark.parametrize("threshold", [0.95, 0.0])
def test_cosine_pair_paths_match_all_pairs_reference(spark, threshold):
    """The tile path (embedding_near_duplicates), the bucket GEMM path and
    the hot-bucket star path (_verify_bucketed_pairs; max_bucket_size=1
    routes the one bucket to the star) all agree with a plain-Python
    all-pairs cosine, for numeric and string ids.  The star path pairs
    only with the bucket minimum.  At threshold 0 the zero vector pairs
    at 0.0 with every vector in all three paths."""
    from nreadspark.ops.dedup import _verify_bucketed_pairs, embedding_near_duplicates

    ref = _all_pairs_cosine(_COS_TABLE, threshold)

    def pairs(df):
        return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}

    emb = spark.createDataFrame(_COS_TABLE, "vec_id bigint, embedding array<double>")
    assert pairs(embedding_near_duplicates(emb, threshold, block_size=3)) == ref
    for numeric, to_id in ((True, int), (False, lambda i: f"v{i}")):
        sigs = spark.createDataFrame(
            [(str(to_id(i)), v, "b") for i, v in _COS_TABLE],
            "id string, vec array<double>, bucket string",
        )
        want = {(to_id(a), to_id(b)): c for (a, b), c in ref.items()}
        assert pairs(_verify_bucketed_pairs(sigs, threshold, 100, numeric)) == want
        star = {p: c for p, c in want.items() if p[0] == to_id(1)}
        assert pairs(_verify_bucketed_pairs(sigs, threshold, 1, numeric)) == star


def test_tile_path_skips_null_vectors(spark):
    """A NULL vector is dropped before the block pack: it must not shift
    the ids of the vectors packed after it onto their neighbours."""
    from nreadspark.ops.dedup import embedding_near_duplicates

    rows = [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [0.0, 1.0]), (5, [1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = embedding_near_duplicates(emb, threshold=0.9, n_blocks=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 5), (3, 4)}


def test_topk_searches_score_zero_vectors_at_zero(spark):
    """A zero vector among the scored candidates scores cosine 0.0 (norm
    product floored at 1e-300) instead of failing the query with a
    division by zero; brute force and an IVF probing every list both
    match a plain-Python ranking, and every LSH candidate carries the
    reference cosine."""
    import math

    from nreadspark.ops.similarity import brute_force_topk, ivf_topk, lsh_topk

    table = _COS_TABLE + [(9, [0.0, 0.0, 0.0, 0.0])]
    vecs = dict(table)

    def cos(i, j):
        u, v = vecs[i], vecs[j]
        norms = math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v))
        return round(sum(x * y for x, y in zip(u, v)) / max(norms, 1e-300), 6)

    k, query_ids = 3, (1, 6, 7)
    want = {}
    for q in query_ids:
        ranking = sorted((c for c in vecs if c != q), key=lambda c: (-cos(q, c), c))
        want[q] = [(c, cos(q, c)) for c in ranking[:k]]

    def ranked(df):  # the IVF path returns string ids
        got = {}
        for r in sorted(df.collect(), key=lambda r: (int(r["query_id"]), r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((int(r["corpus_id"]), r["cosine"]))
        return got

    corpus = spark.createDataFrame(table, "vec_id bigint, embedding array<double>")
    queries = corpus.filter(corpus.vec_id.isin(*query_ids))
    assert ranked(brute_force_topk(corpus, queries, k=k)) == want
    assert ranked(ivf_topk(corpus, queries, dim=4, k=k, n_lists=2, n_probe=2)) == want
    for q, hits in ranked(lsh_topk(corpus, queries, dim=4, k=k)).items():
        assert all(c == cos(q, corpus_id) for corpus_id, c in hits)


def test_ivf_centroids_survive_one_ragged_vector(spark):
    from nreadspark.ops.similarity import ivf_topk

    import random
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    rows.append((999, [0.5] * 9))  # one over-long corrupt vector
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = spark.createDataFrame(rows[:3], "vec_id bigint, embedding array<double>")
    out = ivf_topk(corpus, queries, k=3, n_lists=4, n_probe=4, dim=8).collect()
    assert len(out) > 0  # valid vectors must not be discarded by the ragged one


def test_ngram_duplicate_stats(spark):
    from nreadspark.ops.dedup import ngram_duplicate_stats

    shared = "one two three four five"
    rows = [
        ("a", f"alpha beta {shared} gamma"),
        ("b", f"delta epsilon {shared} zeta"),
        ("c", "totally different words here entirely unique"),
        ("d", "tiny"),  # fewer than n words -> no n-grams, no row
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in ngram_duplicate_stats(df, n=5).collect()}
    # doc a: 8 words -> 4 5-grams; exactly one ('one two three four five')
    # also occurs in doc b
    assert out["a"]["n_ngrams"] == 4 and out["a"]["n_dup_ngrams"] == 1
    assert out["b"]["n_ngrams"] == 4 and out["b"]["n_dup_ngrams"] == 1
    assert out["c"]["n_dup_ngrams"] == 0
    assert "d" not in out


def test_deterministic_sampling_stable_under_repartitioning(spark):
    from pyspark.sql import functions as F

    from nreadspark.ops.sampling import (
        deterministic_sample,
        stratified_mix,
        train_val_split,
    )

    df = spark.range(2000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    s1 = {r["doc_id"] for r in deterministic_sample(df, 0.3).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(df.repartition(17), 0.3).collect()}
    assert s1 == s2 and 0.2 < len(s1) / 2000 < 0.4
    # independent salts give (near-)independent subsets
    s3 = {r["doc_id"] for r in deterministic_sample(df, 0.3, salt="other").collect()}
    assert s3 != s1

    sp1 = {r["doc_id"]: r["split"] for r in train_val_split(df, 0.1).collect()}
    sp2 = {r["doc_id"]: r["split"] for r in train_val_split(df.repartition(5), 0.1).collect()}
    assert sp1 == sp2
    assert 0.05 < sum(v == "val" for v in sp1.values()) / 2000 < 0.15

    mixed = stratified_mix(df, {"en": 1.0, "de": 0.0}, "lang").collect()
    assert all(r["lang"] == "en" for r in mixed)
    assert len(mixed) == 1000


def test_sampling_rejects_bad_rates(spark):
    from pyspark.sql import functions as F

    from nreadspark.ops.sampling import deterministic_sample, stratified_mix

    df = spark.range(2).select(F.col("id").cast("string").alias("doc_id"))
    with pytest.raises(ValueError):
        deterministic_sample(df, 1.5)
    with pytest.raises(ValueError):
        stratified_mix(df.withColumn("s", F.lit("a")), {"a": -0.1}, "s")


def test_connected_components_chains_and_stars(spark):
    from nreadspark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),     # 4-hop chain -> several rounds
         (10, 11), (10, 12), (10, 13),        # star
         (20, 21)],                           # lone pair
        "doc_id_a bigint, doc_id_b bigint",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_connected_components_order_insensitive(spark):
    """Reversed/criss-cross edges (hi, lo) must not change components."""
    from nreadspark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(9, 3), (3, 7), (7, 1)], "doc_id_a bigint, doc_id_b bigint"
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 3: 1, 7: 1, 9: 1}


def test_keep_canonical_survivors(spark):
    from nreadspark.ops.dedup import keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (6, 7)], "doc_id_a bigint, doc_id_b bigint"
    )
    kept = sorted(r["doc_id"] for r in keep_canonical(docs, pairs).collect())
    # clusters {1,2,5} -> keep 1; {6,7} -> keep 6; untouched: 0,3,4
    assert kept == [0, 1, 3, 4, 6]


def test_c4_quality_filter_rules(spark):
    from nreadspark.ops.textstats import c4_quality_filter

    rows = [
        ("good", "This document has plenty of words and it ends properly today."),
        ("short", "Too short."),
        ("code", "This one has plenty of words but contains { a brace } today."),
        ("lorem", "Lorem Ipsum filler with plenty of other words ending today."),
        ("longword", "Plenty of words here but " + "z" * 30 + " ruins it today."),
        ("nopunct", "Plenty of words here but it never terminates properly today"),
        # \z semantics: a trailing newline after the period means the text
        # does NOT end in terminal punctuation (Java's $ would match before
        # the \n; RE2/DuckDB's would not -- \z makes both engines agree)
        ("newline", "Plenty of words that look terminated but are not.\n"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in c4_quality_filter(df, min_words=5).collect()}
    assert out["good"]["keep"] is True and out["good"]["reasons"] == ""
    assert out["short"]["reasons"] == "too_few_words"
    assert out["code"]["reasons"] == "brace"
    assert out["lorem"]["reasons"] == "lorem_ipsum"  # case-insensitive match
    assert out["longword"]["reasons"] == "long_word"
    assert out["nopunct"]["reasons"] == "no_terminal_punct"
    assert out["newline"]["reasons"] == "no_terminal_punct"
    # empty text: Spark split semantics -> one empty token, several rules fire
    assert out["empty"]["keep"] is False
    assert "too_few_words" in out["empty"]["reasons"]
    assert all(not r["keep"] for k, r in out.items() if k != "good")


def test_connected_components_long_chain_pointer_jump(spark):
    """A 2000-node chain converges within 25 rounds only because of the
    pointer jump (pure neighbor propagation would need ~2000 rounds)."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import connected_components

    pairs = spark.range(1999).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    out = connected_components(pairs)
    assert out.count() == 2000
    assert out.filter(F.col("component") != 0).count() == 0


def test_connected_components_strict_raises_on_nonconvergence(spark):
    from nreadspark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_id_a bigint, doc_id_b bigint"
    )
    with pytest.raises(RuntimeError):
        connected_components(pairs, max_iter=1)
    # non-strict mode returns the partial refinement instead
    partial = connected_components(pairs, max_iter=1, strict=False)
    assert partial.count() == 31


def test_connected_components_matches_union_find(spark):
    """Random graphs vs an independent driver-side union-find (union by
    min-root, so each root IS its component minimum)."""
    import random

    from nreadspark.ops.dedup import connected_components

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n = 40
        edges = list({(a, b) for a, b in (
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)) if a != b})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for e in edges for x in e}

        pairs = spark.createDataFrame(edges, "doc_id_a bigint, doc_id_b bigint")
        got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        assert got == expected, f"seed {seed}"


def test_line_dedup_newline_delimiter_joins_bare(spark):
    """With a newline delimiter the reassembled text must use the BARE
    delimiter -- the old ``delimiter + ' '`` joiner prepended a space to
    every line after the first, altering curated-document bytes beyond
    boilerplate removal.  Single-char punctuation delimiters (',') keep the
    readable ', ' joiner (and the SQL twin's string_agg(line, ', '))."""
    from nreadspark.ops.dedup import line_dedup

    rows = [
        ("a", "COOKIE BANNER\nfirst real line\nsecond real line"),
        ("b", "COOKIE BANNER\nother content here"),
        ("c", "COOKIE BANNER\nmore words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, delimiter="\n", min_repeats=3).collect()}
    assert out["a"]["clean_text"] == "first real line\nsecond real line"
    assert out["a"]["n_removed"] == 1
    # comma delimiter keeps the ', ' joiner (oracle parity)
    out2 = {r["doc_id"]: r for r in line_dedup(
        spark.createDataFrame(
            [("a", "BANNER, one, two"), ("b", "BANNER, three"), ("c", "BANNER, four")],
            "doc_id string, text string",
        ),
        delimiter=",", min_repeats=3,
    ).collect()}
    assert out2["a"]["clean_text"] == "one, two"


def test_release_caches_frees_persisted_intermediates(spark):
    """Operators persist frames consumed by several subplans; a long-lived
    session must be able to release them between invocations instead of
    accumulating pinned storage until LRU eviction."""
    from nreadspark.ops import dedup

    dedup.release_caches()  # clear anything registered by earlier tests
    sc = spark.sparkContext

    docs = spark.createDataFrame(
        [(i, f"some words number {i} plus shared tail of tokens") for i in range(50)],
        "doc_id bigint, text string",
    )
    n_before = len(sc._jsc.sc().getRDDStorageInfo())
    pairs = dedup.minhash_lsh_candidates(docs)
    pairs.count()  # materializes -> the banded frame's cache fills
    assert len(dedup._scope_stack()[-1]) >= 1  # registered in this thread's scope
    released = dedup.release_caches()
    assert released >= 1 and not dedup._scope_stack()[-1]
    assert len(sc._jsc.sc().getRDDStorageInfo()) <= n_before


def test_release_local_checkpoint_frees_blocks(spark):
    """DataFrame.unpersist does NOT free localCheckpoint blocks (only
    persist()-registered plans); the helper must reach the underlying RDD.
    connected_components relies on this to avoid pinning O(rounds) label
    frames."""
    from pyspark.storagelevel import StorageLevel

    from nreadspark.ops.dedup import _release_local_checkpoint, connected_components

    sc = spark.sparkContext
    df = spark.range(500).localCheckpoint()
    names_with_blocks = lambda: sum(  # noqa: E731
        1 for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0
    )
    n_with = names_with_blocks()
    assert n_with >= 1
    _release_local_checkpoint(df)
    assert names_with_blocks() < n_with
    # non-checkpointed input: helper is a silent no-op (GC fallback)
    _release_local_checkpoint(spark.range(3))

    # end-to-end: components over a 200-node chain (several pointer-jump
    # rounds) leaves at most the final labels checkpoint pinned
    base = names_with_blocks()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_id_a bigint, doc_id_b bigint"
    )
    labels = connected_components(pairs)
    assert labels.filter("component <> 0").count() == 0
    assert names_with_blocks() <= base + 1


def test_embedding_quantization_contract(spark):
    """int8 symmetric quantization: codes in [-127,127], per-element
    reconstruction error <= scale/2, cosine preserved to ~1e-4, zero
    vectors get scale 0 / zero codes."""
    from nreadspark.ops.similarity import quantization_error_stats, quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [1e-5, 2e-5, -3e-5, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [100.0, -50.0, 25.0, 12.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert all(-127 <= c <= 127 for r in q.values() for c in r["qvec"])
    assert q[1]["qvec"] == [64, -127, 32, 16]  # round(x*127/1.0)
    assert q[3]["scale"] == 0.0 and q[3]["qvec"] == [0, 0, 0, 0]
    assert abs(q[4]["scale"] - 100.0 / 127) < 1e-9

    stats = {r["vec_id"]: r for r in quantization_error_stats(df).collect()}
    for vid, r in stats.items():
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9, vid
        if vid != 3:
            assert r["cosine_kept"] >= 0.9999, vid


def test_dedup_against_reference_snapshot(spark):
    """Cross-snapshot dedup: corpus docs whose NORMALIZED content already
    exists in a reference snapshot are flagged/stripped; normalization
    (case + whitespace) is load-bearing; broadcast and shuffle paths
    agree."""
    from nreadspark.ops.dedup import dedup_against_reference, strip_reference_duplicates

    corpus = spark.createDataFrame(
        [(1, "the same old document"), (2, "a genuinely new document"),
         (3, "Another   Known Text"), (4, None)],
        "doc_id long, text string",
    )
    reference = spark.createDataFrame(
        [(100, "  THE SAME  OLD   DOCUMENT "), (101, "another known text"),
         (102, "something else entirely")],
        "doc_id long, text string",
    )
    for bc in (False, True):
        flags = {r["doc_id"]: r["in_reference"]
                 for r in dedup_against_reference(corpus, reference, broadcast=bc).collect()}
        assert flags == {1: True, 2: False, 3: True, 4: False}
        kept = {r["doc_id"] for r in
                strip_reference_duplicates(corpus, reference, broadcast=bc).collect()}
        assert kept == {2, 4}


def test_minhash_near_dups_against_reference(spark):
    """Incremental near-dedup: re-crawled docs with small edits are flagged
    against the previous snapshot; genuinely novel docs survive; ref x ref
    pairs are never emitted (every output doc_id belongs to the NEW side)."""
    from nreadspark.ops.dedup import (
        minhash_near_dups_against_reference,
        strip_reference_near_duplicates,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    reference = spark.createDataFrame(
        [(100, base), (101, base + " lambda mu nu xi"),
         (102, "totally unrelated reference text about other things entirely")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, base + " extra"),                       # near-dup of 100 (and 101)
         (2, "a genuinely new document about fresh topics never seen before"),
         (3, base)],                                 # exact re-crawl of 100
        "doc_id long, text string",
    )
    pairs = minhash_near_dups_against_reference(corpus, reference).collect()
    flagged = {r["doc_id"] for r in pairs}
    assert flagged == {1, 3}
    assert all(r["ref_doc_id"] >= 100 for r in pairs)
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in pairs)
    exact = [r for r in pairs if r["doc_id"] == 3 and r["ref_doc_id"] == 100]
    assert exact and exact[0]["jaccard"] == 1.0

    kept = {r["doc_id"] for r in
            strip_reference_near_duplicates(corpus, reference).collect()}
    assert kept == {2}


def test_minhash_reference_hot_bucket_guard(spark):
    """A hot reference bucket (many near-identical ref docs sharing band
    keys) collapses to its canonical member: the new doc is still flagged,
    and the candidate fan-out is bounded by the guard."""
    from nreadspark.ops.dedup import minhash_near_dups_against_reference

    base = "one two three four five six seven eight nine ten"
    # 12 identical reference docs -> every band bucket has 12 members
    reference = spark.createDataFrame(
        [(100 + i, base) for i in range(12)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame([(1, base + " extra")], "doc_id long, text string")
    pairs = minhash_near_dups_against_reference(
        corpus, reference, max_ref_bucket_size=4
    ).collect()
    # representative-only: flagged once, against the canonical min ref id
    assert {(r["doc_id"], r["ref_doc_id"]) for r in pairs} == {(1, 100)}
    # exact mode restores all-pairs
    pairs_all = minhash_near_dups_against_reference(
        corpus, reference, max_ref_bucket_size=None
    ).collect()
    assert {r["ref_doc_id"] for r in pairs_all} == set(range(100, 112))


# ---------------------------------------------------------------------------
# within-document line dedup (keep-first self-repetition scrub)
# ---------------------------------------------------------------------------

_WD_ROWS = [
    # repeated promo line kept once, blank structural lines always kept
    (0, "intro\npromo\nbody text\npromo\n\npromo\noutro"),
    (1, "a\na\na"),                      # total repetition -> one line
    (2, "unique one\nunique two"),        # nothing removed
    (3, ""),                               # one empty line, kept
    (4, "\n\n"),                         # blanks only: all kept
    (5, None),                             # NULL passthrough
    (6, "x\n\nx\n\nx"),                # blanks kept, both repeats dropped
]

_WD_WANT = {
    0: ("intro\npromo\nbody text\n\noutro", 7, 2),
    1: ("a", 3, 2),
    2: ("unique one\nunique two", 2, 0),
    3: ("", 1, 0),
    4: ("\n\n", 3, 0),
    5: (None, 0, 0),
    6: ("x\n\n", 5, 2),
}


@pytest.mark.parametrize("method", ["scan", "window"])
def test_dedup_lines_within_doc_semantics(spark, method):
    from nreadspark.ops.dedup import dedup_lines_within_doc

    df = spark.createDataFrame(_WD_ROWS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in dedup_lines_within_doc(df, method=method).collect()
    }
    assert got == _WD_WANT


def test_dedup_lines_within_doc_min_chars(spark):
    from nreadspark.ops.dedup import dedup_lines_within_doc

    # min_chars=3 exempts short lines ('--' separators) from dedup
    df = spark.createDataFrame(
        [(0, "alpha\n--\nbeta\n--\nalpha")], "doc_id long, text string"
    )
    r = dedup_lines_within_doc(df, min_chars=3).collect()[0]
    assert r["clean_text"] == "alpha\n--\nbeta\n--"
    assert (r["n_lines"], r["n_removed"]) == (5, 1)
    with pytest.raises(ValueError):
        dedup_lines_within_doc(df, method="nope")


def test_dedup_lines_within_doc_scan_plan_zero_shuffle(spark):
    from nreadspark.ops.dedup import dedup_lines_within_doc

    df = spark.createDataFrame([(1, "x\ny")], "doc_id long, text string")
    plan = (
        dedup_lines_within_doc(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_dedup_lines_within_doc_methods_agree_on_fuzz(spark):
    """scan and window must be byte-identical on a messy generated corpus
    (repeats, blanks, short lines, trailing newlines)."""
    import random

    from nreadspark.ops.dedup import dedup_lines_within_doc

    rng = random.Random(64)
    pool = ["promo", "", "a", "body text", "share this", "x y z", " "]
    rows = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randrange(0, 12))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: tuple(r) for r in dedup_lines_within_doc(df, method="scan").collect()}
    b = {r["doc_id"]: tuple(r) for r in dedup_lines_within_doc(df, method="window").collect()}
    assert a == b


def test_stratified_repeat_semantics(spark):
    from nreadspark.ops.sampling import stratified_repeat

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_repeat(
        df, {"a": 2.0, "b": 2.5, "c": 0.0}, "lang", salt="ep"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    langs = dict(rows)
    for doc_id, copies in by_doc.items():
        # copy ids are exactly 0..k-1
        assert sorted(copies) == list(range(len(copies)))
        lang = langs[doc_id]
        if lang == "a":
            assert len(copies) == 2
        elif lang == "b":
            assert len(copies) in (2, 3)
        elif lang == "d":   # unlisted stratum passes through once
            assert len(copies) == 1
    # factor 0 drops the stratum entirely
    assert not any(langs[d] == "c" for d in by_doc)
    # fractional part lands between floor and ceil in expectation
    b_counts = [len(c) for d, c in by_doc.items() if langs[d] == "b"]
    assert 0.2 < sum(n == 3 for n in b_counts) / len(b_counts) < 0.8


def test_stratified_repeat_deterministic_and_validates(spark):
    from nreadspark.ops.sampling import stratified_repeat

    rows = [(i, "x" if i % 2 else "y") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = sorted(map(tuple, stratified_repeat(df, {"x": 1.3}, "lang").collect()))
    b = sorted(
        map(tuple, stratified_repeat(df.repartition(7), {"x": 1.3}, "lang").collect())
    )
    assert a == b
    with pytest.raises(ValueError):
        stratified_repeat(df, {"x": -0.5}, "lang")


def test_stratified_repeat_plan_zero_shuffle(spark):
    from nreadspark.ops.sampling import stratified_repeat

    df = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
    plan = (
        stratified_repeat(df, {"x": 2.5}, "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_plan_epoch_factors_and_repeat_roundtrip(spark):
    """Mixture planning: factors hit the token targets, the cap binds on
    tiny sources, and plan -> stratified_repeat composes to roughly the
    planned mixture."""
    from pyspark.sql import functions as F

    from nreadspark.ops.sampling import plan_epoch_factors, stratified_repeat

    rows = (
        [(i, "en", "one two three four five six seven eight") for i in range(200)]
        + [(1000 + i, "de", "eins zwei drei vier") for i in range(100)]
        + [(2000, "la", "lorem ipsum")]          # tiny source: cap must bind
        + [(3000 + i, "xx", "spam spam spam") for i in range(10)]  # unlisted
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    plan = {r["stratum"]: r for r in plan_epoch_factors(
        df, {"en": 0.5, "de": 0.4, "la": 0.1}, token_budget=4000, max_epochs=3.0
    ).collect()}
    assert set(plan) == {"en", "de", "la", "xx"}
    # en: 200 docs x 8 tokens = 1600; target 2000 -> factor 1.25
    assert plan["en"]["total_tokens"] == 1600 and plan["en"]["factor"] == 1.25
    # de: 100 x 4 = 400; target 1600 -> raw 4.0, capped at 3.0
    assert plan["de"]["factor_raw"] == 4.0 and plan["de"]["factor"] == 3.0
    # unlisted stratum: weight 0, factor 0 (dropped from the mix)
    assert plan["xx"]["weight"] == 0.0 and plan["xx"]["factor"] == 0.0

    factors = {s: r["factor"] for s, r in plan.items()}
    out = stratified_repeat(df.select("doc_id", "lang"), factors, "lang")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # integral factor exact; fractional factor within hash-bucket noise
    assert counts["de"] == 300
    assert 225 <= counts["en"] <= 275
    assert "xx" not in counts

    with pytest.raises(ValueError):
        plan_epoch_factors(df, {"en": 1.0}, token_budget=0)
    with pytest.raises(ValueError):
        plan_epoch_factors(df, {"en": -0.1}, token_budget=100)


def test_keep_canonical_exact_matches_pair_form(spark):
    """keep_canonical_exact over equality keys must equal keep_canonical
    over the explicit equality-pair graph (hamming-0 contract), including
    NULL-key rows surviving untouched."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import keep_canonical, keep_canonical_exact

    rows = [
        ("a", 1, 1), ("b", 1, 1), ("c", 1, 1),      # triple cluster -> keep a
        ("d", 2, 5), ("e", 2, 5),                   # pair -> keep d
        ("f", 3, 7),                                # singleton
        ("g", None, 9), ("h", None, 9),             # NULL key: never pairs
        ("i", 4, None),                             # NULL half: never pairs
    ]
    df = spark.createDataFrame(rows, "ref string, hi bigint, lo bigint")
    keyed = df.filter(F.col("hi").isNotNull() & F.col("lo").isNotNull())
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.hi") == F.col("b.hi"))
        & (F.col("a.lo") == F.col("b.lo"))
        & (F.col("a.ref") < F.col("b.ref")),
    ).select(F.col("a.ref").alias("ref_a"), F.col("b.ref").alias("ref_b"))
    want = sorted(
        r["ref"]
        for r in keep_canonical(
            df.select("ref"), pairs, id_col="ref", src_col="ref_a", dst_col="ref_b"
        ).collect()
    )
    got = sorted(
        r["ref"]
        for r in keep_canonical_exact(df, ["hi", "lo"], id_col="ref")
        .select("ref")
        .collect()
    )
    assert got == want == ["a", "d", "f", "g", "h", "i"]
