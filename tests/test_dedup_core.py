"""The near-duplicate core of ``ops.dedup``: the reference MinHash join is
the cross half of banding the union of corpus and reference, and every
caller of the shared hot-bucket split behaves the same with its bucket
size forced small and unguarded."""

import random

import pytest

pyspark = pytest.importorskip("pyspark")

VOCAB = [f"w{i}" for i in range(300)]
BOILER = "home about contact privacy terms login signup cart search help faq news"


def _edited(words, n_edits, rng):
    out = list(words)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(VOCAB)
    return " ".join(out)


def _corpus_and_reference(spark):
    """Corpus ids 0.., reference ids 1000..: near-copies across the two,
    near-copies inside each side, unrelated documents, and a boilerplate
    cluster of 6 identical texts on each side."""
    rng = random.Random(11)
    corpus, reference = [], []
    for i in range(24):
        base = rng.sample(VOCAB, 25)
        reference.append((1000 + i, " ".join(base)))
        corpus.append((i, _edited(base, i % 6, rng)))
    for i in range(24, 36, 2):
        base = rng.sample(VOCAB, 25)
        corpus += [(i, " ".join(base)), (i + 1, _edited(base, 2, rng))]
        reference += [(1000 + i, _edited(base, 9, rng)), (1001 + i, _edited(base, 3, rng))]
    corpus += [(36 + i, " ".join(rng.sample(VOCAB, 20))) for i in range(10)]
    corpus += [(50 + i, BOILER) for i in range(6)]
    reference += [(1050 + i, BOILER) for i in range(6)]
    schema = "doc_id long, text string"
    return spark.createDataFrame(corpus, schema), spark.createDataFrame(reference, schema)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_reference_near_dups_are_the_cross_pairs_of_the_union(spark, hash_fn):
    """Unguarded, ``minhash_near_dups_against_reference(C, R)`` equals the
    corpus x reference pairs of ``minhash_lsh_candidates(C u R)`` verified
    by ``verify_jaccard`` at the same threshold."""
    from nreadspark.ops.dedup import (
        minhash_lsh_candidates,
        minhash_near_dups_against_reference,
        verify_jaccard,
    )

    corpus, reference = _corpus_and_reference(spark)
    union = corpus.unionByName(reference)
    cands = minhash_lsh_candidates(union, hash_fn=hash_fn, max_bucket_size=None)
    want = {
        tuple(r)
        for r in verify_jaccard(union, cands, threshold=0.5).collect()
        if r["doc_id_a"] < 1000 <= r["doc_id_b"]
    }
    got = {
        tuple(r)
        for r in minhash_near_dups_against_reference(
            corpus, reference, hash_fn=hash_fn, threshold=0.5, max_ref_bucket_size=None
        ).collect()
    }
    assert got == want
    assert len(want) > 24 and {(50, 1050, 1.0), (55, 1055, 1.0)} <= want


def test_hot_split_callers_forced_small_and_unguarded(spark):
    """With a bucket size of 4, the 12 identical boilerplate documents
    overflow every band: candidates pair each with the canonical member,
    the reference join keeps the canonical reference row, the overflow
    metric reports the 4 bands; unguarded, every pair is back."""
    from nreadspark.ops.dedup import (
        lsh_bucket_overflow,
        minhash_lsh_candidates,
        minhash_near_dups_against_reference,
    )

    corpus, reference = _corpus_and_reference(spark)
    union = corpus.unionByName(reference)
    boiler = set(range(50, 56)) | set(range(1050, 1056))

    def boiler_pairs(rows):
        return {(a, b) for a, b in rows if a in boiler and b in boiler}

    star = {tuple(r) for r in minhash_lsh_candidates(union, max_bucket_size=4).collect()}
    full = {tuple(r) for r in minhash_lsh_candidates(union, max_bucket_size=None).collect()}
    assert boiler_pairs(star) == {(50, b) for b in boiler - {50}}
    assert len(boiler_pairs(full)) == 66 and star - boiler_pairs(star) <= full

    overflow = lsh_bucket_overflow(union, max_bucket_size=4).collect()
    assert sorted(r["n_docs"] for r in overflow) == [12] * 4
    assert lsh_bucket_overflow(union).isEmpty()

    def ref_pairs(max_ref):
        return {
            (r["doc_id"], r["ref_doc_id"])
            for r in minhash_near_dups_against_reference(
                corpus, reference, threshold=0.5, max_ref_bucket_size=max_ref
            ).collect()
        }

    guarded, unguarded = ref_pairs(4), ref_pairs(None)
    assert {p for p in guarded if p[0] in boiler} == {(d, 1050) for d in range(50, 56)}
    assert {p for p in unguarded if p[0] in boiler} == {
        (d, r) for d in range(50, 56) for r in range(1050, 1056)
    }
    assert guarded <= unguarded


def test_embedding_bucket_callers_forced_small_and_unguarded(spark):
    """The embedding LSH and IVF verifications share the split: 8 identical
    vectors in a bucket of at most 4 pair with their canonical member on
    the star path (or raise with ``on_oversized='error'``); unguarded,
    all 28 pairs come back."""
    from nreadspark.ops.dedup import dedup_semantic, embedding_near_duplicates_lsh

    rng = random.Random(5)
    same = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(i, same) for i in range(8)] + [
        (100 + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect() if r["id_b"] < 8}

    lsh = dict(threshold=0.99, dim=8, n_bits=4, n_bands=2)
    assert pairs(embedding_near_duplicates_lsh(emb, max_bucket_size=4, **lsh)) == {
        (0, i) for i in range(1, 8)
    }
    everything = {(a, b) for a in range(8) for b in range(a + 1, 8)}
    assert pairs(embedding_near_duplicates_lsh(emb, max_bucket_size=4096, **lsh)) == everything

    ivf = dict(n_lists=2, threshold=0.99)
    with pytest.raises(ValueError, match="exceed max_bucket_size=4"):
        dedup_semantic(emb, 8, max_cluster_size=4, on_oversized="error", **ivf).collect()
    assert pairs(dedup_semantic(emb, 8, max_cluster_size=4, on_oversized="star", **ivf)) == {
        (0, i) for i in range(1, 8)
    }
    assert pairs(dedup_semantic(emb, 8, max_cluster_size=4096, **ivf)) == everything
