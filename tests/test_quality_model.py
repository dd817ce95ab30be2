"""Trainable quality classifier (ops/quality_model.py): held-out accuracy
on a clean-vs-spam corpus, training determinism, scoring-path equivalence
with a numpy reference, model persistence round-trip, and empty/no-token
document contracts."""

import pytest

pyspark = pytest.importorskip("pyspark")


CLEAN = [
    "the committee published its annual report on regional water quality today",
    "researchers described a new method for measuring glacier thickness over time",
    "the library extended its opening hours after requests from local students",
    "a detailed review of the evidence supports the original conclusion",
    "the museum opened a new exhibition about early printing techniques",
    "city officials approved the plan to renovate the old railway station",
    "the study compared reading habits across several age groups",
    "volunteers planted hundreds of trees along the river bank this spring",
]
SPAM = [
    "BUY NOW cheap pills casino bonus click here winner winner",
    "free free free money casino jackpot click subscribe now now",
    "hot singles click here bonus code casino deal deal deal",
    "winner claim prize now click click subscribe cheap cheap",
    "casino bonus casino bonus click now free spins jackpot",
    "cheap pills discount click winner free bonus subscribe now",
    "claim your prize now now now click here free casino",
    "jackpot winner bonus spins click subscribe free deal now",
]


def _labeled(spark, hold_out=2):
    rows = []
    i = 0
    for t in CLEAN[:-hold_out]:
        rows.append((i, t, 1)); i += 1
    for t in SPAM[:-hold_out]:
        rows.append((i, t, 0)); i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_train_and_heldout_accuracy(spark):
    from nreadspark.ops.quality_model import score_quality, train_quality_model

    model = train_quality_model(_labeled(spark), n_buckets=256)
    held = spark.createDataFrame(
        [(100, CLEAN[-2]), (101, CLEAN[-1]), (102, SPAM[-2]), (103, SPAM[-1])],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in score_quality(held, model).collect()}
    assert out[100]["keep"] and out[101]["keep"]
    assert not out[102]["keep"] and not out[103]["keep"]


def test_training_is_deterministic(spark):
    from nreadspark.ops.quality_model import train_quality_model

    m1 = train_quality_model(_labeled(spark), n_buckets=128)
    m2 = train_quality_model(_labeled(spark), n_buckets=128)
    assert m1.weights == m2.weights and m1.bias == m2.bias


def test_score_matches_numpy_reference(spark):
    """The JVM scoring plan (explode -> broadcast weights join -> per-doc
    agg) must equal the definition: bias + sum(w[bucket]*cnt)/n_tokens."""
    import numpy as np

    from nreadspark.ops.quality_model import QualityModel, featurize, score_quality

    weights = [((b * 97) % 41 - 20) / 10.0 for b in range(64)]
    model = QualityModel(weights, bias=0.25, n_buckets=64, hash_fn="md5")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CLEAN + SPAM)], "doc_id long, text string"
    )
    feats = featurize(docs, n_buckets=64, hash_fn="md5").collect()
    ref = {}
    for r in feats:
        ref.setdefault(r["doc_id"], 0.25)
        ref[r["doc_id"]] += weights[r["bucket"]] * r["cnt"] / r["n_tokens"]
    got = {r["doc_id"]: r["logit"] for r in score_quality(docs, model).collect()}
    for d, z in ref.items():
        assert abs(got[d] - round(z, 6)) < 1e-6


def test_model_persistence_round_trip(spark, tmp_path):
    from nreadspark.ops.quality_model import QualityModel, score_quality, train_quality_model

    model = train_quality_model(_labeled(spark), n_buckets=64)
    path = str(tmp_path / "model")
    model.to_df(spark).write.parquet(path)
    reloaded = QualityModel.from_df(spark.read.parquet(path))
    assert reloaded.n_buckets == model.n_buckets
    assert reloaded.bias == pytest.approx(model.bias)
    docs = spark.createDataFrame([(1, CLEAN[0]), (2, SPAM[0])], "doc_id long, text string")
    a = sorted(score_quality(docs, model).collect())
    b = sorted(score_quality(docs, reloaded).collect())
    assert a == b


def test_empty_and_null_docs_score_the_bias(spark):
    from nreadspark.ops.quality_model import QualityModel, score_quality

    model = QualityModel([1.0] * 16, bias=-0.5, n_buckets=16)
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "word")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in score_quality(docs, model).collect()}
    assert len(out) == 4  # scoring keeps every row
    for i in (1, 2, 3):
        assert out[i]["logit"] == -0.5 and not out[i]["keep"]
    assert out[4]["logit"] == 0.5 and out[4]["keep"]


def test_persistence_preserves_hash_fn(spark, tmp_path):
    """An md5-trained model must reload as an md5 model: the hash_fn is
    part of the model (scoring under the wrong hash is silent noise), so
    it persists in the table and from_df refuses tables without it."""
    from nreadspark.ops.quality_model import QualityModel, score_quality

    model = QualityModel([0.5] * 32, bias=-0.1, n_buckets=32, hash_fn="md5")
    path = str(tmp_path / "md5model")
    model.to_df(spark).write.parquet(path)
    reloaded = QualityModel.from_df(spark.read.parquet(path))
    assert reloaded.hash_fn == "md5"
    docs = spark.createDataFrame([(1, "some words here")], "doc_id long, text string")
    assert score_quality(docs, model).collect() == score_quality(docs, reloaded).collect()
    # a legacy table without the column must fail loudly, not default
    legacy = spark.createDataFrame([(0, 1.0), (-1, 0.0)], "bucket int, weight double")
    with pytest.raises(ValueError, match="hash_fn"):
        QualityModel.from_df(legacy)
    m = QualityModel.from_df(legacy, hash_fn="xxhash64", n_buckets=8)
    assert m.hash_fn == "xxhash64" and m.n_buckets == 8


def test_persistence_preserves_n_buckets(spark, tmp_path):
    """A sparsely-rewritten weights table (zero-weight rows pruned) must
    NOT silently shrink the hash modulus: n_buckets persists in the table,
    from_df validates it, and tables without it are refused (the same
    fail-loud contract as hash_fn)."""
    from nreadspark.ops.quality_model import QualityModel, score_quality

    model = QualityModel([0.0, 0.0, 0.7, 0.0] * 8, bias=0.1, n_buckets=32)
    path = str(tmp_path / "sparse")
    # adversarial persistence: prune the zero-weight rows, as a
    # storage-optimizing rewrite would
    model.to_df(spark).filter("weight != 0.0 or bucket = -1").write.parquet(path)
    reloaded = QualityModel.from_df(spark.read.parquet(path))
    assert reloaded.n_buckets == 32  # NOT max(bucket)+1 of the sparse rows
    docs = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    assert score_quality(docs, model).collect() == score_quality(docs, reloaded).collect()
    # no n_buckets column and none passed -> refuse
    legacy = spark.createDataFrame(
        [(0, 1.0, "xxhash64"), (-1, 0.0, "xxhash64")],
        "bucket int, weight double, hash_fn string",
    )
    with pytest.raises(ValueError, match="n_buckets"):
        QualityModel.from_df(legacy)
    # a bucket id outside the declared modulus is corruption -> refuse
    bad = spark.createDataFrame(
        [(40, 1.0, "xxhash64", 32), (-1, 0.0, "xxhash64", 32)],
        "bucket int, weight double, hash_fn string, n_buckets int",
    )
    with pytest.raises(ValueError, match="bucket 40"):
        QualityModel.from_df(bad)


def test_training_counts_tokenless_docs_in_bias(spark):
    """Empty/null-text labeled docs must still train (bias gradient), not
    silently vanish from the training set."""
    from nreadspark.ops.quality_model import train_quality_model

    with_empty = spark.createDataFrame(
        [(1, "good words here", 1), (2, "", 0), (3, None, 0), (4, "more good words", 1)],
        "doc_id long, text string, label int",
    )
    without = with_empty.filter("doc_id in (1, 4)")
    m_with = train_quality_model(with_empty, n_buckets=32, epochs=50)
    m_without = train_quality_model(without, n_buckets=32, epochs=50)
    # the empty negatives must pull the bias DOWN relative to all-positive
    assert m_with.bias < m_without.bias
