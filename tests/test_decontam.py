"""Benchmark/eval-set decontamination (ops/dedup.py decontaminate /
strip_contaminated): planted-contamination recall, zero false positives on
clean documents, short-document and short-eval-row contracts, and
hashed-vs-exact key agreement."""

import pytest

pyspark = pytest.importorskip("pyspark")


EVAL_SENT = "the quick brown fox jumps over the lazy sleeping dog tonight"  # 11 words


def _corpus(spark, n=120, contaminated_every=6):
    """Word-soup docs; every ``contaminated_every``-th doc carries the
    eval sentence verbatim in the middle (the planted leak)."""
    rows = []
    for i in range(n):
        soup = " ".join(f"w{(i * 31 + j) % 97}" for j in range(25))
        if i % contaminated_every == 0:
            text = f"{soup} {EVAL_SENT} {soup}"
        else:
            text = f"{soup} tail{i}"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _eval_df(spark):
    return spark.createDataFrame(
        [("bench-1", f"question: {EVAL_SENT} answer: yes"),
         ("bench-2", "a totally unrelated benchmark prompt about arithmetic sums only")],
        "eval_id string, text string",
    )


def test_planted_contamination_recall_and_precision(spark):
    from nreadspark.ops.dedup import decontaminate

    corpus = _corpus(spark)
    out = {r["doc_id"]: r for r in decontaminate(corpus, _eval_df(spark), n=8).collect()}

    planted = {i for i in range(120) if i % 6 == 0}
    flagged = {i for i, r in out.items() if r["contaminated"]}
    assert flagged == planted  # 100% recall, zero false positives
    assert len(out) == 120  # flagging pass keeps every corpus row
    # the 11-word eval sentence yields 4 shared 8-grams; planted docs embed
    # it verbatim so they share AT LEAST those (boundary grams may add more)
    assert all(out[i]["n_contaminated_ngrams"] >= 4 for i in planted)
    assert all(out[i]["n_contaminated_ngrams"] == 0 for i in set(out) - planted)


def test_strip_variant_removes_exactly_flagged_docs(spark):
    from nreadspark.ops.dedup import strip_contaminated

    corpus = _corpus(spark)
    kept = {r["doc_id"] for r in strip_contaminated(corpus, _eval_df(spark), n=8).collect()}
    assert kept == {i for i in range(120) if i % 6 != 0}


def test_short_docs_and_short_eval_rows(spark):
    """Docs with < n words keep a zero-count row; eval rows with < n words
    contribute no grams (and so can never flag anything)."""
    from nreadspark.ops.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "tiny doc"), (2, " "), (3, " ".join(f"x{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [("e1", "x1 x2 x3"), ("e2", "")], "eval_id string, text string"
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, eval_df, n=8).collect()}
    assert set(out) == {1, 2, 3}
    assert all(not r["contaminated"] for r in out.values())
    assert out[1]["n_ngrams"] == 0 and out[2]["n_ngrams"] == 0
    assert out[3]["n_ngrams"] == 13  # 20 - 8 + 1


def test_exact_mode_matches_hashed_mode(spark):
    from nreadspark.ops.dedup import decontaminate

    corpus = _corpus(spark, n=60)
    eval_df = _eval_df(spark)
    hashed = sorted(decontaminate(corpus, eval_df, n=8).collect())
    exact = sorted(decontaminate(corpus, eval_df, n=8, exact=True).collect())
    assert hashed == exact


def test_shuffle_join_fallback_matches_broadcast(spark):
    from nreadspark.ops.dedup import decontaminate

    corpus = _corpus(spark, n=60)
    eval_df = _eval_df(spark)
    bcast = sorted(decontaminate(corpus, eval_df, n=8).collect())
    shuffled = sorted(decontaminate(corpus, eval_df, n=8, broadcast=False).collect())
    assert bcast == shuffled
