"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk``: exact cosine top-k -- query set broadcast against the
  corpus, dot products via JVM ``zip_with``/``aggregate`` (whole-stage
  codegen; no Python).  Fine for verification and for small query sets.
* ``lsh_topk``: random-hyperplane LSH -- sign-bit signatures bucket the
  corpus; only same-bucket (or near-bucket) pairs are scored.  This is the
  100TB path: the shuffle is on short bucket keys, candidate scoring touches
  a tiny corpus fraction, and recall is tunable by bands/bits.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import map_batches, rows_to_batch


def _as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine(vec_a, vec_b):
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(vec_a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(vec_b, F.lit(0.0), lambda acc, x: acc + x * x))
    # floored as in ops.dedup._norms: a zero vector scores 0.0, not a
    # DIVIDE_BY_ZERO under ANSI mode
    return dot / F.greatest(na * nb, F.lit(1e-300))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The ranking tail of every top-k search: exact cosine over candidate
    ``(query_id, corpus_id, query_vec, corpus_vec)`` pairs minus self
    pairs, rounded to 6 places, and the first ``k`` per query by (cosine
    desc, corpus_id asc)."""
    scored = pairs.filter(F.col("corpus_id") != F.col("query_id")).select(
        "query_id",
        "corpus_id",
        F.round(_cosine(F.col("query_vec"), F.col("corpus_vec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break (cosine desc, id asc).
    The query side is broadcast: no shuffle of the corpus."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double_vec(F.col(vec_col)).alias("corpus_vec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_vec(F.col(vec_col)).alias("query_vec")
    )
    return _top_k(c.crossJoin(F.broadcast(q)), k)


def _hyperplanes(dim: int, n_bits: int, seed: int = 7):
    """Deterministic pseudo-random hyperplanes (LCG; no numpy needed on the
    driver, broadcast as literals)."""
    state = seed * 6364136223846793005 + 1442695040888963407
    planes = []
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
            row.append(((state >> 20) % 2001 - 1000) / 1000.0)  # [-1, 1]
        planes.append(row)
    return planes


def _map_vectors(
    df: DataFrame, id_col: str, vec_col: str, value: StructField, dim: int, values
) -> DataFrame:
    """The one vector-cleaning pass of the ANN and embedding-dedup kernels:
    one Arrow pass over ``df``'s ``(id as string, vec as array<double>)``
    that drops every row whose vector is NULL, not ``dim`` long or holds a
    NULL (it can neither hash nor score, and must not fail the stage),
    stacks the rest into one ``(n, dim)`` float64 matrix ``X`` and emits
    an ``(id, vec, <value>)`` row for each entry of ``values(X)[i]``."""
    schema = StructType(
        [StructField("id", StringType()), StructField("vec", ArrayType(DoubleType())), value]
    )

    def batches(iterator):
        import numpy as np
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for batch in iterator:
            ids = batch.column(0).to_pylist()
            vecs = batch.column(1).to_pylist()
            keep = [
                i for i, v in enumerate(vecs) if v is not None and len(v) == dim and None not in v
            ]
            if not keep:
                continue
            X = np.asarray([vecs[i] for i in keep], dtype=np.float64)
            yield rows_to_batch(
                [(ids[i], vecs[i], v) for i, row in zip(keep, values(X)) for v in row],
                arrow_schema,
            )

    prepared = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return map_batches(prepared, schema, batches)


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: str = "random",
) -> DataFrame:
    """Random-hyperplane sign bits grouped into OR-amplified bands: one
    output row per (vector, band) with a short string bucket key.  A pair is
    a candidate if ANY band key collides -- the standard recall amplifier.

    All n_bits dot products happen in ONE Arrow-batched float64 GEMM
    (vectors x planes^T) instead of n_bits codegen'd ``aggregate`` passes
    over the array column -- the expression-tree form compiled to a
    multi-second whole-stage-codegen unit and rescanned the vector per bit.

    ``planes``: 'random' (default, LCG-seeded hyperplanes) or 'axis' --
    bit j is the sign of coordinate j.  Axis planes are a degenerate but
    valid member of the same LSH family whose buckets involve NO float
    arithmetic, so an external SQL engine can replicate the exact candidate
    sets for correctness oracles.

    Null or wrong-length vectors are dropped (they can neither hash nor
    score); a production pipeline should count them upstream."""
    plane_rows = None if planes == "axis" else _hyperplanes(dim, n_bits)
    rows_per_band = n_bits // n_bands
    bc = df.sparkSession.sparkContext.broadcast(plane_rows)

    def band_keys(X):
        import numpy as np

        if bc.value is None:
            bits = X[:, :n_bits] >= 0  # axis planes: pure sign reads
        else:
            bits = (X @ np.asarray(bc.value, dtype=np.float64).T) >= 0  # (n, n_bits)
        return [
            [
                f"{b}:"
                + "".join(
                    "1" if row[j] else "0"
                    for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                )
                for b in range(n_bands)
            ]
            for row in bits
        ]

    return _map_vectors(df, id_col, vec_col, StructField("bucket", StringType()), dim, band_keys)


def _train_ivf_centroids(corpus, n_lists, sample_size, id_col, vec_col, iters=8):
    """Deterministic spherical k-means on a hash-ordered sample (driver-side
    numpy; the sample is tiny).  Farthest-point init from the first sample
    vector, fixed iteration count -- fully reproducible, no RNG."""
    import numpy as np
    from pyspark.sql import functions as F

    # Arrow-path collect (r9): .collect() ships 2048x64 doubles through
    # the py4j pickle socket (~0.2 s of pure serialization); toPandas
    # rides the session's Arrow transfer instead
    sample = (
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        )
        .where(F.col("v").isNotNull())
        .orderBy("h")
        .limit(sample_size)
        .toPandas()["v"]
        .tolist()
    )
    # guard against ragged/corrupt vectors: train on the MODAL dimension
    # (max() would let a single over-long garbage vector discard every
    # valid one and empty the downstream results)
    from collections import Counter

    dim_counts = Counter(len(v) for v in sample)
    modal_dim = dim_counts.most_common(1)[0][0] if dim_counts else 0
    vecs = [v for v in sample if len(v) == modal_dim and modal_dim > 0]
    if not vecs:
        raise ValueError(
            "IVF centroid training needs a non-empty corpus sample with "
            "non-null embedding vectors"
        )
    X = np.asarray(vecs, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    # farthest-point (maximin) init
    cents = [X[0]]
    for _ in range(min(n_lists, len(X)) - 1):
        sims = np.max(np.stack([X @ c for c in cents]), axis=0)
        cents.append(X[int(np.argmin(sims))])
    C = np.stack(cents)

    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    C[j] = m / n
    return C


def _ivf_probe(df: DataFrame, cents: list, n_probe: int, id_col: str, vec_col: str) -> DataFrame:
    """IVF list assignment: ``(id, vec, list_id)``, each vector once per
    one of its ``n_probe`` nearest centroids (1 for corpus rows, n_probe
    for queries and multi-probe dedup), ONE GEMM per Arrow batch."""
    bc = df.sparkSession.sparkContext.broadcast(cents)

    def nearest(X):
        import numpy as np

        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ np.asarray(bc.value, dtype=np.float64).T
        # stable: tied centroid similarities probe the lowest list id,
        # deterministically, instead of quicksort's arbitrary pick
        return np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].tolist()

    list_id = StructField("list_id", IntegerType())
    return _map_vectors(df, id_col, vec_col, list_id, len(cents[0]), nearest)


@dataclass(frozen=True)
class IvfIndex:
    """A built IVF index: both halves are plain DataFrames, so the corpus
    GEMM pass is paid ONCE and the index persists as ordinary tables --
    write ``assignments`` parquet-partitioned by list_id and ``centroids``
    as a tiny side table, read them back, and query forever.

    ``centroid_list`` is a driver-side cache of the centroid matrix (KBs):
    ivf_build fills it so same-session queries skip the collect of the
    centroids table; an index reloaded from disk leaves it None and
    :meth:`centroid_rows` collects the table instead."""

    assignments: DataFrame  # (corpus_id, corpus_vec, list_id)
    centroids: DataFrame  # (list_id, centroid)
    centroid_list: list | None = None

    def centroid_rows(self) -> list:
        """The centroid matrix as lists, in list_id order."""
        if self.centroid_list is not None:  # same-session: skip the collect
            return self.centroid_list
        rows = self.centroids.orderBy("list_id").collect()  # n_lists rows, KBs
        return [list(r["centroid"]) for r in rows]


def ivf_build(
    corpus: DataFrame,
    dim: int,
    n_lists: int = 16,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Train the coarse quantizer and assign every corpus vector to its
    nearest inverted list -- the expensive, ONCE-per-corpus half of IVF.

    Centroids train driver-side on a deterministic ``sample_size``-row
    sample (KB-scale collect, documented tradeoff); assignment is one
    Arrow-batched GEMM pass over the corpus.
    """
    centroid_list = _train_ivf_centroids(corpus, n_lists, sample_size, id_col, vec_col).tolist()
    assignments = _ivf_probe(corpus, centroid_list, 1, id_col, vec_col).select(
        F.col("id").alias("corpus_id"), F.col("vec").alias("corpus_vec"), "list_id"
    )
    centroids = corpus.sparkSession.createDataFrame(
        list(enumerate(centroid_list)), "list_id int, centroid array<double>"
    )
    return IvfIndex(
        assignments=assignments, centroids=centroids, centroid_list=centroid_list
    )


def ivf_query(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a built :class:`IvfIndex`: queries probe their n_probe nearest
    lists, exact cosine rerank inside the probed lists.  The per-query cost
    is n_probe/n_lists of the corpus; the corpus itself is never re-assigned
    (that GEMM was paid in :func:`ivf_build`)."""
    q = _ivf_probe(queries, index.centroid_rows(), n_probe, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_vec"), "list_id"
    )
    pairs = (
        index.assignments.join(F.broadcast(q), "list_id")
        .select("query_id", "corpus_id", "query_vec", "corpus_vec")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    return _top_k(pairs, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: spherical-k-means coarse quantizer, corpus
    partitioned into n_lists inverted lists, queries probe their n_probe
    nearest lists, exact cosine rerank inside the probed lists.

    The 100TB shape: centroids are a driver-side broadcast (KBs), list
    assignment is one Arrow-batched GEMM pass over the corpus, and each
    query touches n_probe/n_lists of the data.  Recall is tunable via
    n_probe.  One-shot convenience over :func:`ivf_build` +
    :func:`ivf_query`; use those directly to pay the corpus pass once
    across many query batches.
    """
    index = ivf_build(corpus, dim, n_lists, sample_size, id_col, vec_col)
    return ivf_query(index, queries, k, n_probe, id_col, vec_col)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: str = "random",
) -> DataFrame:
    """Banded ANN: score only candidates sharing at least one band bucket.
    Recall < 1 by design (tunable via n_bands/n_bits); tests measure it
    against brute_force_topk.  See ``lsh_signatures`` for ``planes``."""

    def signed(df, side):
        return lsh_signatures(df, dim, n_bits, n_bands, id_col, vec_col, planes).select(
            F.col("id").alias(f"{side}_id"), F.col("vec").alias(f"{side}_vec"), "bucket"
        )

    pairs = (
        signed(corpus, "corpus")
        .join(F.broadcast(signed(queries, "query")), "bucket")
        .select("query_id", "corpus_id", "query_vec", "corpus_vec")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    return _top_k(pairs, k)


def quantize_embeddings(
    emb_df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: the storage/bandwidth lever
    for 100 TB embedding tables (float32 -> int8 is a 4x shuffle/scan
    reduction; ANN rerank reads the quantized table and dequantizes only
    candidate rows).

    Output: ``(vec_id, scale, qvec array<int>)`` with
    ``scale = max(|x|)/127`` and ``q_i = round(x_i / scale)`` in
    [-127, 127]; an all-zero vector gets scale 0 and zero codes.
    Dequantization ``q_i * scale`` has per-element error <= scale/2.

    Entirely JVM-side higher-order functions (one pass per row, no
    shuffle, no Python), and integer-exact across engines -- the round
    mode (half away from zero) matches DuckDB, so the driver oracle
    reproduces the exact codes.
    """
    # vec/amax staged as child-projection columns: amax is referenced 3x
    # (guard, lambda capture, scale) and vec 3x.  Measured ~10% at
    # 100k x 256-dim -- NOT the r5 per-lambda-inlining blowup (an outer
    # expression captured by a transform lambda evaluates per ROW, unlike
    # the per-slice re-inlining that hit the gram windows) -- but staging
    # keeps the multi-ref rule uniform and the plan readable.
    d = emb_df.withColumn("__qe_vec", _as_double_vec(F.col(vec_col))).withColumn(
        "__qe_amax",
        F.array_max(F.transform(F.col("__qe_vec"), lambda x: F.abs(x))),
    )
    vec = F.col("__qe_vec")
    amax = F.col("__qe_amax")
    qvec = F.when(
        amax > 0.0,
        F.transform(vec, lambda x: F.round(x * F.lit(127.0) / amax).cast("int")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    # scale is exact (callers dequantize with it; rounding it would leak
    # up to |q|*round_err into the reconstruction bound) -- display/oracle
    # layers round for representation stability
    return d.select(
        F.col(id_col), (amax / F.lit(127.0)).alias("scale"), qvec.alias("qvec")
    )


def quantization_error_stats(
    emb_df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One row per vector with the reconstruction quality of
    :func:`quantize_embeddings`: max |x - q*scale| must be <= scale/2 and
    the cosine between original and dequantized vectors ~1.  The
    monitoring twin a pipeline runs before committing to int8 storage."""
    q = quantize_embeddings(emb_df, id_col, vec_col)
    joined = emb_df.select(
        F.col(id_col), _as_double_vec(F.col(vec_col)).alias("vec")
    ).join(q, id_col)
    deq = F.transform("qvec", lambda x: x * F.col("scale"))
    abs_err = F.array_max(
        F.zip_with("vec", deq, lambda a, b: F.abs(a - b))
    )
    # an all-zero vector has no direction to keep: cosine is 1.0 by
    # convention (and dividing by its zero norm would throw under ANSI)
    cos = F.when(F.col("scale") > 0.0, F.round(_cosine(F.col("vec"), deq), 6)).otherwise(
        F.lit(1.0)
    )
    return joined.select(
        id_col,
        "scale",
        F.round(abs_err, 9).alias("max_abs_err"),
        cos.alias("cosine_kept"),
    )
