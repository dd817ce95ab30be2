"""Trainable document-quality classifier: logistic regression over hashed
bag-of-token features -- the model-based filter stage (fasttext-style, as
used by the public CCNet / GPT-3-era CommonCrawl pipelines to keep
wiki/book-like text) that complements the rule-based
:func:`..textstats.c4_quality_filter`.

Design for the fleet:

* **Features** are hashed token buckets computed JVM-side
  (``pmod(hash(token), n_buckets)``): featurization is the same explode +
  map-side-combined aggregation shape as the dedup operators, and the
  SAME Spark code featurizes training rows and scoring rows -- no
  Python/JVM hash-parity problem to maintain.
* **Training** is driver-side numpy (full-batch gradient descent, fixed
  epochs, rows sorted by id -- fully deterministic): quality-filter
  training sets are small (10^3-10^5 labeled docs) and the collected
  sparse features are MBs.  The model is ``n_buckets`` doubles + a bias.
* **Scoring** never leaves the JVM data path: tokens explode inside the
  scan, buckets join against the BROADCAST weights table, and one
  map-side-combined aggregation per doc yields the logit.  Output is the
  raw ``logit`` (linear -- exactly reproducible in SQL, unlike a sigmoid)
  plus the thresholded ``keep``; callers wanting probabilities apply
  ``1/(1+exp(-logit))``.

``hash_fn``: 'xxhash64' (JVM-native, production default) or 'md5' (first
8 md5 hex chars -- SQL-replicable, the oracle convention shared with
MinHash/bucketing).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from .sampling import md5_bucket


def _bucket_col(token, n_buckets: int, hash_fn: str):
    if hash_fn == "md5":
        return md5_bucket(token, n_buckets)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(token), F.lit(n_buckets))
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def featurize(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, bucket, cnt, n_tokens): hashed bag-of-token counts, one row
    per (doc, bucket).  Tokens are the whitespace words lowercased --
    deliberately simple; the hashing absorbs vocabulary growth.  One
    explode + one map-side-combined aggregation; no Python."""
    toks = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__t"),
    ).filter(F.length("__t") > 0)
    return (
        toks.select("doc_id", _bucket_col(F.col("__t"), n_buckets, hash_fn).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("n_tokens", F.sum("cnt").over(Window.partitionBy("doc_id")))
    )


@dataclass(frozen=True)
class QualityModel:
    """A trained model: bucket weights + bias.  ``to_df``/``from_df`` make
    it an ordinary tiny table (persist as parquet next to the corpus)."""

    weights: list[float]
    bias: float
    n_buckets: int
    hash_fn: str = "xxhash64"

    def to_df(self, spark) -> DataFrame:
        rows = [
            (i, float(w), self.hash_fn, self.n_buckets)
            for i, w in enumerate(self.weights)
        ]
        rows.append((-1, float(self.bias), self.hash_fn, self.n_buckets))  # bias
        # hash_fn AND n_buckets are part of the model (a weights table
        # scored under the wrong hash -- or a sparsely-rewritten table whose
        # max(bucket) undershoots the true modulus -- maps every token to
        # the wrong bucket: silent noise), so both persist as constant
        # columns, not caller-remembered facts
        return spark.createDataFrame(
            rows, "bucket int, weight double, hash_fn string, n_buckets int"
        )

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        hash_fn: str | None = None,
        n_buckets: int | None = None,
    ) -> "QualityModel":
        collected = df.collect()
        if hash_fn is None:
            if "hash_fn" in df.columns and collected:
                fns = {r["hash_fn"] for r in collected}
                if len(fns) != 1:
                    raise ValueError(f"inconsistent hash_fn values in model table: {fns}")
                (hash_fn,) = fns
            else:
                raise ValueError(
                    "model table carries no hash_fn column; pass hash_fn= "
                    "explicitly (scoring under the wrong hash is silent noise)"
                )
        rows = {r["bucket"]: r["weight"] for r in collected}
        bias = rows.pop(-1, 0.0)
        if n_buckets is None:
            if "n_buckets" in df.columns and collected:
                ns = {r["n_buckets"] for r in collected}
                if len(ns) != 1:
                    raise ValueError(f"inconsistent n_buckets values in model table: {ns}")
                (n_buckets,) = ns
            else:
                raise ValueError(
                    "model table carries no n_buckets column; pass n_buckets= "
                    "explicitly (inferring the modulus from max(bucket) on a "
                    "sparsely-written table remaps every token -- silent noise)"
                )
        if rows and max(rows) >= n_buckets:
            raise ValueError(
                f"model table has bucket {max(rows)} >= n_buckets {n_buckets}"
            )
        return cls([rows.get(i, 0.0) for i in range(n_buckets)], bias, n_buckets, hash_fn)


def train_quality_model(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = 4096,
    hash_fn: str = "xxhash64",
    epochs: int = 200,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> QualityModel:
    """Train on ``(doc_id, text, label in {0,1})``: featurize with the SAME
    Spark path used at scoring time, collect the (small) sparse features,
    run full-batch logistic-regression gradient descent driver-side.

    The per-epoch pass is fully vectorized sparse matrix algebra in COO
    form (``np.bincount`` segment sums stand in for ``X @ w`` and
    ``X.T @ err`` -- no scipy in the fleet image): ~100x the per-doc
    Python loop, which is what lets a "train on 10^6 labels" request
    stay driver-side instead of dying in the epoch loop.

    Deterministic: fixed epochs, features sorted by (doc_id, bucket)
    before the COO arrays are built, no RNG.  Token-less labeled docs
    (empty/null text) still train: they carry no bucket features but DO
    contribute to the bias gradient -- silently dropping them would shift
    the class prior without warning."""
    import numpy as np

    feats = featurize(labeled, text_col, n_buckets, hash_fn).collect()
    labels = {r["doc_id"]: r[label_col] for r in labeled.select("doc_id", label_col).collect()}
    doc_ids = sorted(labels)
    n = len(doc_ids)
    if n == 0:
        raise ValueError("training set produced no token features")
    index = {d: i for i, d in enumerate(doc_ids)}
    feats.sort(key=lambda r: (r["doc_id"], r["bucket"]))
    rows = np.array([index[r["doc_id"]] for r in feats], dtype=np.int64)
    cols = np.array([r["bucket"] for r in feats], dtype=np.int64)
    vals = np.array([r["cnt"] / r["n_tokens"] for r in feats])
    y = np.array([float(labels[d]) for d in doc_ids])
    w = np.zeros(n_buckets)
    b = 0.0
    for _ in range(epochs):
        z = b + np.bincount(rows, weights=vals * w[cols], minlength=n)
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        gw = np.bincount(cols, weights=vals * err[rows], minlength=n_buckets)
        w -= lr * (gw / n + l2 * w)
        b -= lr * float(err.sum()) / n
    return QualityModel([float(x) for x in w], float(b), n_buckets, hash_fn)


def score_quality(
    df: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """(doc_id, logit, keep): the scoring pass.  Weights broadcast (KBs --
    n_buckets doubles); featurization + weighted sum are one explode, one
    broadcast join and one map-side-combined aggregation -- the corpus
    never shuffles raw tokens.  Documents with NO tokens score exactly the
    bias.  ``keep = logit > threshold`` (threshold in logit space; 0 is
    p > 0.5)."""
    spark = df.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(model.weights)],
            "bucket bigint, weight double",
        )
    )
    feats = featurize(df, text_col, model.n_buckets, model.hash_fn)
    scored = (
        feats.join(wdf, "bucket", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.lit(model.bias)
                + F.sum(F.coalesce("weight", F.lit(0.0)) * F.col("cnt") / F.col("n_tokens"))
            ).alias("logit")
        )
    )
    return (
        df.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            # round 9, not 6: consumers recovering the exact rational
            # numerator (see the driver oracle) multiply the rounding
            # error by 1000*n_tokens -- 5e-10*1000*n_tokens stays < 0.5
            # up to ~10^6-token documents (5e-7 broke past 1000 tokens).
            # Past ~10^6 tokens (a ~4 MB single doc) the recovery could
            # be off by one ulp of the numerator; raise to round(...,12)
            # in BOTH this projection and the oracle SQL if such
            # documents ever matter
            F.round(F.coalesce("logit", F.lit(model.bias)), 9).alias("logit"),
        )
        .withColumn("keep", F.col("logit") > threshold)
    )
