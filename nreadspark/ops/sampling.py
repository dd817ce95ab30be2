"""Deterministic sampling / splitting / source mixing for training-data
pipelines.

``df.sample()`` is seed-dependent but NOT stable under repartitioning or
retries (per-partition RNG streams), which is unacceptable for a training
corpus: the same document must land in the same split on every run, on any
cluster layout, forever.  These operators derive membership from a hash of
the DOCUMENT ID instead -- pure codegen expressions, no shuffle, no RNG
state, identical output for any partitioning.

The hash is the first 8 hex chars of md5(salt || doc_id) taken mod 10^6
(uniform on [0, 10^6)); md5 keeps every decision reproducible by ANY engine
(the DuckDB oracles replicate it bit-for-bit), unlike xxhash64 which is
Spark-private.  Rate thresholds are ``round(rate * 10^6)`` -- plain int()
would float-truncate e.g. 0.000249*10^6 = 248.99999... to 248 and diverge
from a decimal-arithmetic twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_BUCKETS = 1_000_000


def md5_bucket(col: Column, n: int) -> Column:
    """Bigint bucket in [0, n) from the first 8 md5 hex chars of ``col``:
    the engine-portable hash bucket (DuckDB:
    ``('0x'||substring(md5(x),1,8))::BIGINT % n``) of sampling, the md5
    modes of MinHash and the quality model, and lineage's md5 bucketing."""
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"), F.lit(n))


def _hash_bucket(id_col: str, salt: str):
    """Uniform bucket in [0, 10^6) from md5(salt || id) -- engine-portable."""
    return md5_bucket(F.concat(F.lit(salt), F.col(id_col).cast("string")), _BUCKETS)


def deterministic_sample(
    df: DataFrame, rate: float, salt: str = "sample", id_col: str = "doc_id"
) -> DataFrame:
    """Keep ~``rate`` of rows, decided per-document by hash -- stable across
    runs, retries and repartitioning.  ``salt`` decouples independent
    samples (different salts give independent subsets)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(_hash_bucket(id_col, salt) < int(round(rate * _BUCKETS)))


def train_val_split(
    df: DataFrame, val_rate: float = 0.01, salt: str = "split", id_col: str = "doc_id"
) -> DataFrame:
    """Add a ``split`` column ('train' / 'val'): the same document is in the
    same split in every run of every job that uses the same salt -- the
    property that prevents train/val leakage across pipeline re-runs."""
    bucket = _hash_bucket(id_col, salt)
    return df.withColumn(
        "split",
        F.when(bucket < int(round(val_rate * _BUCKETS)), F.lit("val")).otherwise(
            F.lit("train")
        ),
    )


def stratified_repeat(
    df: DataFrame,
    factors: dict[str, float],
    stratum_col: str,
    salt: str = "repeat",
    id_col: str = "doc_id",
) -> DataFrame:
    """Source-weighted UPSAMPLING: emit each document of stratum ``s``
    ``factors[s]`` times in expectation -- the epochs-per-source half of
    training-mix assembly (multiple passes over a small high-quality
    source while the crawl gets one), complementing
    :func:`stratified_mix`'s downsampling half.

    A factor ``f`` emits ``floor(f)`` copies always, plus one more for the
    documents whose hash bucket falls under ``frac(f)`` -- per-document
    deterministic (hash of the id, not RNG), so reruns, retries and any
    partitioning produce the SAME corpus.  Strata absent from ``factors``
    keep factor 1.0 (pass through); factor 0.0 drops the stratum.  Output
    adds a ``copy`` column (0-based repeat index) so downstream shuffles /
    shard packing can distinguish copies; dedup must run BEFORE this
    operator, for the obvious reason.

    Scale shape: one codegen projection computes n_copies, one
    ``posexplode(sequence(...))`` emits the copies map-side -- ZERO
    shuffles; the expansion happens inside the scan stage like
    chunk_documents.  Skew note: factors are small constants (1-10x), so
    the expansion cannot create a hot key by itself.
    """
    for s, f in factors.items():
        if f < 0:
            raise ValueError(f"factor for stratum {s!r} must be >= 0, got {f}")
    bucket = _hash_bucket(id_col, salt)
    n_copies = F.lit(1)  # default: strata not listed pass through once
    for s, f in factors.items():
        base = int(f)
        frac_thresh = int(round((f - base) * _BUCKETS))
        n_copies = F.when(
            F.col(stratum_col) == s,
            F.lit(base) + F.when(bucket < frac_thresh, F.lit(1)).otherwise(F.lit(0)),
        ).otherwise(n_copies)
    d = df.withColumn("__n_copies", n_copies)
    return (
        d.filter(F.col("__n_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)))
        .drop("__n_copies")
        .withColumn("copy", F.col("copy").cast("int"))
    )


def plan_epoch_factors(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: float,
    stratum_col: str = "lang",
    text_col: str = "text",
    token_col: str | None = None,
    max_epochs: float = 10.0,
) -> DataFrame:
    """Training-mix planning: per stratum, the epoch factor that hits a
    target token mixture -- ``factor = budget * weight / stratum_tokens``
    -- the number :func:`stratified_repeat` consumes.  Public mixture
    recipes (Pile / Doremi-style) express the corpus as (source, weight,
    epochs); this op derives the epochs from the measured token counts so
    the mix survives re-crawls that change source sizes.

    Output (one row per stratum, #strata rows total): n_docs,
    total_tokens (exact integer sum of whitespace tokens, or of
    ``token_col`` when a production tokenizer's counts are precomputed),
    weight (0.0 for strata absent from ``weights`` -- i.e. dropped),
    target_tokens, factor_raw, and factor capped at ``max_epochs``
    (repeating a tiny source dozens of times memorizes it; the cap makes
    the shortfall visible as factor < factor_raw instead of silent).

    Shape: ONE map-side-combined hash agg on the stratum; every input
    token count is an integer sum so any engine reproduces the division
    bit-for-bit.  Collect the (tiny) result and feed
    ``{r['stratum']: r['factor']}`` to :func:`stratified_repeat`.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be > 0, got {token_budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    toks = (
        F.col(token_col).cast("bigint")
        if token_col
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("bigint")
    )
    agg = (
        df.select(F.col(stratum_col).alias("stratum"), toks.alias("__t"))
        .groupBy("stratum")
        .agg(F.count("*").alias("n_docs"), F.sum("__t").alias("total_tokens"))
    )
    weight = F.lit(0.0)
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for stratum {s!r} must be >= 0, got {w}")
        weight = F.when(F.col("stratum") == s, F.lit(float(w))).otherwise(weight)
    raw = F.lit(float(token_budget)) * F.col("weight") / F.col("total_tokens")
    return (
        agg.withColumn("weight", weight)
        .select(
            "stratum",
            "n_docs",
            "total_tokens",
            "weight",
            F.round(F.lit(float(token_budget)) * F.col("weight"), 2).alias(
                "target_tokens"
            ),
            F.round(raw, 6).alias("factor_raw"),
            F.round(F.least(raw, F.lit(float(max_epochs))), 6).alias("factor"),
        )
    )


def stratified_mix(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    salt: str = "mix",
    id_col: str = "doc_id",
) -> DataFrame:
    """Source-weighted corpus mixing: keep stratum ``s`` at ``rates[s]``
    (strata absent from ``rates`` are dropped).  One codegen filter, no
    shuffle -- the standard way to hit a target source distribution when
    assembling a training mix."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {s!r} must be in [0, 1], got {r}")
    bucket = _hash_bucket(id_col, salt)
    # one CASE expression over strata; unmatched strata -> threshold 0
    expr = F.lit(0)
    for s, r in rates.items():
        expr = F.when(F.col(stratum_col) == s, F.lit(int(round(r * _BUCKETS)))).otherwise(expr)
    return df.filter(bucket < expr)
