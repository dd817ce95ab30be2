"""Bigram LM familiarity: integer-exact log2 bucketing, training counts,
unseen-gram behavior, short/NULL document handling, plan shape."""

import pytest

pyspark = pytest.importorskip("pyspark")


from nreadspark.ops.lm import (  # noqa: E402
    filter_unfamiliar,
    lm_familiarity,
    train_bigram_counts,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_bigram_counts(spark):
    df = _docs(spark, [(1, "the cat sat"), (2, "The cat ran")])
    got = {(r["gram"], r["n"]) for r in train_bigram_counts(df).collect()}
    # lowercased; "the cat" appears in both docs
    assert got == {("the cat", 2), ("cat sat", 1), ("cat ran", 1)}


def test_min_count_prunes_tail(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "x y")])
    got = {r["gram"] for r in train_bigram_counts(df, min_count=2).collect()}
    assert got == {"a b"}  # "b a" and "x y" are hapax


def test_familiarity_integer_log2(spark):
    ref = _docs(spark, [(i, "the cat sat") for i in range(7)])
    counts = train_bigram_counts(ref)  # "the cat"=7, "cat sat"=7
    score = lm_familiarity(_docs(spark, [(1, "the cat sat")]), counts).collect()[0]
    # floor(log2(8)) = 3 per bigram, 2 bigrams
    assert score["n_bigrams"] == 2
    assert score["fam_sum"] == 6
    assert score["familiarity"] == 3.0


def test_unseen_grams_score_zero(spark):
    counts = train_bigram_counts(_docs(spark, [(1, "the cat sat")]))
    out = {
        r["doc_id"]: r
        for r in lm_familiarity(
            _docs(spark, [(1, "the cat sat"), (2, "zx qv wk")]), counts
        ).collect()
    }
    assert out[1]["fam_sum"] == 2  # floor(log2(2)) = 1 per seen bigram
    assert out[2]["fam_sum"] == 0 and out[2]["familiarity"] == 0.0


def test_short_and_null_docs_null_familiarity(spark):
    counts = train_bigram_counts(_docs(spark, [(1, "a b")]))
    out = {
        r["doc_id"]: r
        for r in lm_familiarity(
            _docs(spark, [(1, "word"), (2, None), (3, "")]), counts
        ).collect()
    }
    for i in (1, 2, 3):
        assert out[i]["n_bigrams"] == 0
        assert out[i]["familiarity"] is None


def test_filter_unfamiliar_survivors(spark):
    ref = _docs(spark, [(i, "good common words") for i in range(8)])
    counts = train_bigram_counts(ref)
    df = _docs(spark, [(1, "good common words"), (2, "zx qv wk"), (3, "x")])
    kept = sorted(r["doc_id"] for r in filter_unfamiliar(df, counts, 1.0).collect())
    # doc 1 scores high, doc 2 scores 0, doc 3 is too short (kept by convention)
    assert kept == [1, 3]


def test_no_python_in_plan(spark):
    counts = train_bigram_counts(_docs(spark, [(1, "a b c")]))
    plan = (
        lm_familiarity(_docs(spark, [(1, "a b c")]), counts)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
