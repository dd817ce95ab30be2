"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale notes (the point of doing this in Spark):
* exact dedup is a single hash aggregation with map-side combine;
* MinHash signatures are computed entirely JVM-side (higher-order array
  functions over shingles -- no Python), then LSH banding turns the O(n^2)
  pair problem into an explode + groupBy on band keys: only docs sharing a
  band bucket are ever compared;
* candidate verification joins back to token sets and computes exact Jaccard
  with array_intersect/array_union (still JVM);
* embedding near-dup brute force is for small/verification scale -- the LSH
  path in similarity.py is the 100TB route.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import pandas as pd  # module-level: pandas_udf type hints resolve in globals

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

# -- persisted-intermediate registry ----------------------------------------
# Several operators persist frames consumed by 2+ downstream subplans (band
# self-joins, token sets on both join sides).  Those frames are only safe to
# unpersist AFTER the caller materializes the returned lazy DataFrame, so the
# operator cannot release them internally; each persist is registered and
# long-lived sessions (bench loops, notebooks) call release_caches() between
# invocations.  Without that, pinned storage accumulates until LRU eviction
# or session end.
#
# Scoping: the registry is a THREAD-LOCAL stack of scopes, not one global
# list -- release_caches() drains only the calling thread's innermost open
# :func:`cache_scope` (or that thread's default scope).  A composite job
# wraps each of its stages in ``with cache_scope():`` (``lineage.StageRunner``
# does, for the curation jobs) so its releases can never unpersist frames
# registered by another in-flight caller (e.g. a bench loop driving other
# operators in the same session), and concurrent threads never see each
# other's registries.
_TLS = threading.local()
# Every scope currently holding frames, across all threads (guarded by
# _ALL_LOCK): the escape hatch for multi-threaded drivers where a worker
# thread registered persists and exited without draining -- its frames
# would otherwise be unreleasable from any other thread (thread-local
# registries).  Registration is lazy (a scope is added when it first
# receives a frame, identity-checked) and release_all_caches prunes
# drained scopes, so thread churn cannot grow the registry unboundedly.
_ALL_LOCK = threading.Lock()
_ALL_SCOPES: list[list[DataFrame]] = []


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_TLS, "stack", None)
    if stack is None:
        stack = [[]]  # the thread's default (always-open) scope
        _TLS.stack = stack
    return stack


def _persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    df = df.persist(level)
    scope = _scope_stack()[-1]
    with _ALL_LOCK:
        # identity check, not `in`: empty lists compare EQUAL to each other
        if not any(s is scope for s in _ALL_SCOPES):
            _ALL_SCOPES.append(scope)
    scope.append(df)
    return df


def _drain(scope: list[DataFrame]) -> int:
    n = 0
    while True:
        # pop-with-catch, not check-then-pop: release_all_caches may drain
        # a scope concurrently with its owner thread's cache_scope exit,
        # and list.pop is atomic under the GIL while `while scope: pop()`
        # races to IndexError
        try:
            df = scope.pop()
        except IndexError:
            break
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already torn down; nothing to release
            pass
    return n


@contextmanager
def cache_scope():
    """Open a fresh persisted-intermediate scope on this thread: persists
    registered inside the ``with`` block (including by nested operator
    calls) are released on exit, and ``release_caches()`` calls inside the
    block only ever drain this scope -- never a caller's."""
    stack = _scope_stack()
    scope: list[DataFrame] = []
    stack.append(scope)
    try:
        yield
    finally:
        stack.pop()
        _drain(scope)
        with _ALL_LOCK:
            for i, s in enumerate(_ALL_SCOPES):
                if s is scope:
                    del _ALL_SCOPES[i]
                    break


def release_caches() -> int:
    """Unpersist every intermediate frame this module's operators registered
    in the calling thread's current :func:`cache_scope` (or its default
    scope) since the last call.  Call only after the returned DataFrames are
    materialized (collected / written / counted); returns the number of
    frames released."""
    return _drain(_scope_stack()[-1])


def release_all_caches() -> int:
    """Drain EVERY live scope across all threads -- the teardown hook for
    multi-threaded drivers (ThreadPoolExecutor job fan-out) where a worker
    thread registered persists and exited without calling
    :func:`release_caches`; thread-local scoping makes those frames
    invisible to other threads' release calls.  Safe to call whenever no
    operator results are still pending materialization anywhere.  Drained
    scopes are pruned from the registry (a later persist re-registers
    them), bounding it by the number of scopes currently holding
    frames."""
    with _ALL_LOCK:
        scopes = list(_ALL_SCOPES)
    n = sum(_drain(s) for s in scopes)
    with _ALL_LOCK:
        _ALL_SCOPES[:] = [s for s in _ALL_SCOPES if s]
    return n


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a localCheckpoint'd DataFrame's RDD blocks.

    ``DataFrame.unpersist`` only uncaches plans registered via
    ``persist()``; a localCheckpoint's blocks are normally freed only when
    the ContextCleaner garbage-collects the underlying RDD, which on large
    graphs can leave O(rounds) label-frame copies pinned in executor
    storage non-deterministically.  The checkpointed Dataset's analyzed
    plan is a ``LogicalRDD`` holding that RDD, so reach it through py4j and
    unpersist it directly; when the plan shape differs (non-checkpointed
    input) fall back to GC."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best-effort: ContextCleaner reclaims via GC eventually

# MinHash parameters: h_j(x) = (a_j * x + b_j) mod p over 31-bit base
# hashes.  p MUST be close to the base-hash range (Mersenne prime 2^31-1):
# with a much larger modulus (an earlier build used 2^61-1) the affine map
# wraps at most twice over the 2^31-value domain, making every h_j
# piecewise-MONOTONIC in the base hash -- all "independent" signature rows
# then pick their minima from nearly the same elements, the rows correlate,
# and banding recall goes config-insensitive (measured: ~0.82 planted-pair
# recall at Jaccard 0.7 regardless of (n_hashes, n_bands); theory and the
# fixed build separate the configs properly -- see COVERAGE.md calibration
# table).  With p = 2^31-1 the map wraps ~a times: proper 2-universal
# mixing, and a*h+b still fits signed 64-bit on every engine.
_MINHASH_PRIME = (1 << 31) - 1
_N_HASHES = 16
_N_BANDS = 4  # 4 rows per band


def _seeds(n: int, salt: int):
    """Deterministic hash-family coefficients (no RNG at plan-build time)."""
    out = []
    a, b = 0x9E3779B97F4A7C15, salt * 0x517CC1B727220A95 + 1
    for i in range(n):
        a = (a * 6364136223846793005 + 1442695040888963407) % _MINHASH_PRIME
        b = (b * 2862933555777941757 + 3037000493) % _MINHASH_PRIME
        out.append((a | 1, b))
    return out


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalized-text md5: returns one row per duplicate
    group (hash, group size, canonical doc_id = min)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.md5(normalized).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        )
    )


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("__tokens", F.split(F.trim(F.col(text_col)), r"\s+"))


def shingles_col(tokens_col: str, k: int = 3):
    """k-token shingles via JVM higher-order functions: for each start
    position, slice k tokens and join."""
    return F.when(
        F.size(F.col(tokens_col)) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col(tokens_col)) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col(tokens_col), i, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col(tokens_col))))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = _N_HASHES,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, signature array<bigint>): MinHash over k-token shingles,
    all JVM-side (shingle hash + aggregate over the shingle array).

    ``hash_fn``: 'xxhash64' (default -- fastest, JVM-native) or 'md5'
    (first 8 hex chars of md5, SQL-replicable so an external engine like
    DuckDB can reproduce the exact signatures for correctness oracles).
    Both fold to 31 bits so a*h+b stays inside a signed 64-bit long."""
    from ..colmemo import memo_cols

    with_shingles = tokenize(df, text_col).withColumn(
        "__shingles", shingles_col("__tokens", k)
    )

    def build():
        # hash each shingle ONCE (folded to 31 bits so a*h+b stays inside
        # a signed 64-bit long under ANSI mode), then take the min of each
        # affine permutation over the precomputed hash array: one pass of
        # expensive hashing + n_hashes cheap passes, instead of
        # n_hashes * hashing
        seeds = _seeds(n_hashes, salt=k)
        if hash_fn == "md5":
            hashed = F.transform(
                "__shingles",
                lambda s: F.pmod(
                    F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
                    F.lit(1 << 31),
                ),
            )
        else:
            hashed = F.transform(
                "__shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 31))
            )

        def perm(a: int, b: int):
            # closure factory: pyspark introspects lambda arity, so the
            # coefficients must be captured here, not as default args.
            # a, b are already reduced into [1, p) / [0, p) by _seeds; the
            # product is < 2^62, safely inside a signed 64-bit long
            return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MINHASH_PRIME))

        sig = F.array(
            *[F.array_min(F.transform("__h31", perm(a, b))) for (a, b) in seeds]
        )
        return hashed, sig

    # the (hashed, sig) pair is a pure function of (k, n_hashes, hash_fn)
    # over the fixed staged names __shingles/__h31 -- ~0.3 s of py4j tree
    # construction per build, memoized per SparkContext (colmemo)
    hashed, sig = memo_cols(("minhash_sig", k, n_hashes, hash_fn), build)
    return with_shingles.withColumn("__h31", hashed).select(
        "doc_id", sig.alias("signature")
    )


def _banded_signatures(
    df: DataFrame, text_col: str, k: int, n_hashes: int, n_bands: int, hash_fn: str
) -> DataFrame:
    """(doc_id, band, band_key): one row per (doc, band)."""
    from ..colmemo import memo_cols

    sigs = minhash_signatures(df, text_col, k, n_hashes, hash_fn)

    def build():
        rows_per_band = n_hashes // n_bands
        return F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.col("signature")[i]
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        )

    banded = memo_cols(("minhash_bands", n_hashes, n_bands), build)
    return sigs.select("doc_id", banded.alias("band", "band_key"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = _N_HASHES,
    n_bands: int = _N_BANDS,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 256,
    persist_bands: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: docs sharing any band
    bucket.  Returns (doc_id_a, doc_id_b) with a < b, distinct.

    ``persist_bands`` (default True) materializes the banded-signature frame
    once (MEMORY_AND_DISK): the band self-join consumes it from BOTH sides
    and the hot-bucket guard counts it a third time, so without persistence
    the expensive signature pass (shingle hashing + n_hashes min-reductions)
    runs ~3x.  Measured at sf0.1: candidates 3.3s -> ~1.3s.  Pass False to
    trade CPU for storage on corpora too large to spill.

    Skew guard: a boilerplate-heavy web corpus puts millions of
    near-identical docs into ONE band bucket, and a naive self-join makes
    O(k^2) candidate pairs on that key.  Buckets larger than
    ``max_bucket_size`` therefore switch from all-pairs to a *star* pattern:
    every member is paired with the bucket's canonical (minimum) doc_id only
    -- O(k) pairs, and every member still gets verified against a
    near-identical representative, so dedup coverage survives.  Recall
    tradeoff to know about: two NON-canonical members whose only shared
    bucket is a hot one are no longer emitted as a direct pair (each is
    paired with the canonical instead); pass ``max_bucket_size=None`` to
    restore exact all-pairs banding when k^2 blowup is acceptable.  Use
    ``lsh_bucket_overflow`` for the monitoring metric.
    """
    banded = _banded_signatures(df, text_col, k, n_hashes, n_bands, hash_fn)
    if persist_bands:
        banded = _persist(banded)

    if max_bucket_size is not None:
        # per-bucket size + canonical doc: partial-aggregated (map-side
        # combine), so the hot key never concentrates raw rows anywhere
        counts = banded.groupBy("band", "band_key").agg(
            F.count("*").alias("__n"), F.min("doc_id").alias("__canon")
        )
        hot = counts.filter(F.col("__n") > max_bucket_size)
        # hot-bucket list is tiny by construction -> broadcast both uses
        normal = banded.join(
            F.broadcast(hot.select("band", "band_key")), ["band", "band_key"], "left_anti"
        )
        star = (
            banded.join(F.broadcast(hot), ["band", "band_key"])
            .filter(F.col("doc_id") != F.col("__canon"))
            .select(
                F.col("__canon").alias("doc_id_a"), F.col("doc_id").alias("doc_id_b")
            )
        )
    else:
        normal, star = banded, None

    left = normal.select(F.col("doc_id").alias("doc_id_a"), "band", "band_key")
    right = normal.select(F.col("doc_id").alias("doc_id_b"), "band", "band_key")
    pairs = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def lsh_bucket_overflow(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = _N_HASHES,
    n_bands: int = _N_BANDS,
    hash_fn: str = "xxhash64",
    max_bucket_size: int = 256,
) -> DataFrame:
    """Monitoring metric for the hot-bucket guard: one row per oversized
    band bucket with its member count (empty when no bucket overflows)."""
    banded = _banded_signatures(df, text_col, k, n_hashes, n_bands, hash_fn)
    return (
        banded.groupBy("band", "band_key")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def verify_jaccard(
    df: DataFrame, candidates: DataFrame, text_col: str = "text", threshold: float = 0.7,
    persist_tokens: bool = True,
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs (JVM set functions).

    The token-set frame is consumed by BOTH join sides; ``persist_tokens``
    (default True) materializes it once instead of re-tokenizing the corpus
    per side."""
    toks = tokenize(df, text_col).select(
        "doc_id", F.array_distinct("__tokens").alias("token_set")
    )
    if persist_tokens:
        toks = _persist(toks)
    a = toks.select(F.col("doc_id").alias("doc_id_a"), F.col("token_set").alias("set_a"))
    b = toks.select(F.col("doc_id").alias("doc_id_b"), F.col("token_set").alias("set_b"))
    joined = candidates.join(a, "doc_id_a").join(b, "doc_id_b")
    jaccard = F.size(F.array_intersect("set_a", "set_b")) / F.size(
        F.array_union("set_a", "set_b")
    )
    return (
        joined.select("doc_id_a", "doc_id_b", F.round(jaccard, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_adjacent(df: DataFrame, text_col: str = "text") -> DataFrame:
    """SQL-checkable n-gram Jaccard: similarity of each doc with its
    successor (doc_id + 1) over distinct token sets."""
    toks = tokenize(df, text_col).select(
        "doc_id", F.array_distinct("__tokens").alias("token_set")
    )
    a = toks.select(F.col("doc_id").alias("doc_id_a"), F.col("token_set").alias("set_a"))
    b = toks.select(
        (F.col("doc_id") - 1).alias("doc_id_a"), F.col("token_set").alias("set_b")
    )
    jaccard = F.size(F.array_intersect("set_a", "set_b")) / F.size(
        F.array_union("set_a", "set_b")
    )
    return (
        a.join(b, "doc_id_a")
        .select(
            F.col("doc_id_a").cast("bigint").alias("doc_id"),
            F.round(jaccard, 6).alias("jaccard_next"),
        )
    )


def _simhash_token_hashes(df: DataFrame, text_col: str, hash_fn: str) -> DataFrame:
    """(doc_id, __h array<bigint>): per-token hashes computed ONCE, JVM-side."""
    if hash_fn == "md5":
        # 60-bit md5 prefix: SQL-replicable (('0x'||substring(md5(t),1,15))
        # in DuckDB), always non-negative
        h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    else:
        h = lambda t: F.xxhash64(t)  # noqa: E731
    return tokenize(df, text_col).select(
        "doc_id", F.transform("__tokens", h).alias("__h")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
    engine: str = "arrow",
) -> DataFrame:
    """SimHash over tokens: per bit, the sign of the sum of ±1 contributions
    decided by that bit of hash(token).

    Token hashing is one JVM pass (xxhash64 default; 'md5' = 60-bit md5
    prefix, SQL-replicable for oracles -- use bits<=60 with it).  The bit
    math then runs either as

    * ``engine='arrow'`` (default): ONE vectorized numpy pass inside
      ``mapInArrow`` -- (tokens x bits) sign matrix + segment-sum per doc.
      The expression form below compiles a 64-aggregate Catalyst tree whose
      whole-stage-codegen unit takes seconds to JIT and rescans the hash
      array per bit; the GEMM-shaped kernel replaces that with Arrow batch
      transfer + O(tokens*bits) SIMD work.
    * ``engine='expr'``: the all-JVM expression form (no Python workers
      needed; useful where Arrow transfer is undesirable).
    """
    toks = _simhash_token_hashes(df, text_col, hash_fn)
    if engine == "arrow":
        return _simhash_arrow(toks, bits)

    def bit_merge(i: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    bit_cols = []
    for i in range(bits):
        contrib = F.aggregate("__h", F.lit(0).cast("bigint"), bit_merge(i))
        # shiftleft wraps bit 63 into the sign bit instead of overflowing
        bit_cols.append(
            F.when(contrib > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    value = bit_cols[0]
    for c in bit_cols[1:]:
        value = value + c
    return toks.select("doc_id", value.alias("simhash"))


def _simhash_arrow(toks: DataFrame, bits: int) -> DataFrame:
    """Vectorized SimHash bit math over pre-hashed tokens."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = toks.schema["doc_id"]
    out_schema = StructType(
        [StructField("doc_id", id_field.dataType), StructField("simhash", LongType())]
    )

    def batches(iterator):
        import numpy as np
        import pyarrow.compute as pc

        shifts = np.arange(bits, dtype=np.uint64)
        for batch in iterator:
            doc_ids = batch.column(0)
            harr = batch.column(1)
            n = len(doc_ids)
            if n == 0:
                continue
            lengths_arr = pc.list_value_length(harr)
            # NULL text -> NULL token list: those rows get a NULL simhash
            # (the expression engine's behavior); list_flatten skips null
            # lists, so `values` stays aligned with the non-null segments
            null_mask = pc.is_null(lengths_arr).to_numpy(zero_copy_only=False)
            lengths = (
                pc.fill_null(lengths_arr, 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            values = (
                pc.list_flatten(harr)
                .to_numpy(zero_copy_only=False)
                .astype(np.uint64, copy=False)
            )
            # (tokens, bits) sign matrix; tokenize() never yields an EMPTY
            # token list (split of '' is ['']), so every non-null segment is
            # non-empty and reduceat start indices are strictly increasing
            signs = (((values[:, None] >> shifts) & 1).astype(np.int64) * 2) - 1
            value = np.zeros(n, dtype=np.uint64)
            nz = lengths > 0
            if nz.any():
                nz_lengths = lengths[nz]
                starts = np.zeros(len(nz_lengths), dtype=np.int64)
                np.cumsum(nz_lengths[:-1], out=starts[1:])
                totals = np.add.reduceat(signs, starts, axis=0)
                value[nz] = ((totals > 0).astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64
                )
            yield pa.RecordBatch.from_arrays(
                [doc_ids, pa.array(value.view(np.int64), mask=null_mask)],
                names=["doc_id", "simhash"],
            )

    return toks.mapInArrow(batches, out_schema)


def embedding_near_duplicates_lsh(
    emb_df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 16,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: str = "random",
    max_bucket_size: int = 4096,
    persist_signatures: bool = True,
) -> DataFrame:
    """The 100 TB embedding near-dup route: LSH banding prunes candidates,
    then each bucket is verified with ONE numpy float64 GEMM.

    Composition of ``similarity.lsh_signatures`` (sign-bit bands bucket the
    vectors; only same-bucket pairs are ever scored) with the blocked-GEMM
    verification of :func:`embedding_near_duplicates` -- no all-pairs tiles,
    no driver-side ``count()``; total work is sum over buckets of k_b^2
    instead of n^2.

    Skew guard (pre-split, memory-bounded): bucket sizes are counted with a
    partially-aggregated ``groupBy`` FIRST, mirroring
    :func:`minhash_lsh_candidates`.  Buckets larger than ``max_bucket_size``
    (embedding-space boilerplate -- e.g. millions of identical template
    vectors) NEVER reach ``collect_list``: their members are joined against
    a broadcast (bucket -> canonical minimum-id member + its vector) frame
    and verified row-wise with a vectorized cosine -- O(k) pairs AND O(1)
    per-row memory, so a hot bucket can no longer concentrate multi-GB of
    vectors into one grouped row.  Only buckets <= max_bucket_size are
    packed for the per-bucket GEMM kernel, bounding the largest grouped row
    at max_bucket_size * dim * 8 bytes by construction.
    """
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        StructField,
        StructType,
    )

    from .similarity import lsh_signatures

    # ids pass through with their natural type: numeric ids stay bigint,
    # anything else (e.g. 'doc-123') rides as string -- ordering for the
    # canonical member / pair normalization is the type's natural order
    numeric_ids = isinstance(
        emb_df.schema[id_col].dataType, (LongType, IntegerType, ShortType, ByteType)
    )

    sigs = lsh_signatures(emb_df, dim, n_bits, n_bands, id_col, vec_col, planes)
    if persist_signatures:
        # the pre-split consumes sigs from several subplans (bucket counts,
        # the anti-joined normal path, and -- when hot buckets exist -- the
        # canonical-vector and star-member joins); without persistence each
        # consumer would re-run the signature GEMM over the corpus.  One
        # spill-to-disk materialization beats 2-4 recomputes; pass False to
        # trade CPU for storage on corpora too large to spill.
        sigs = _persist(sigs)
    return _verify_bucketed_pairs(sigs, threshold, max_bucket_size, numeric_ids)


def _verify_bucketed_pairs(
    sigs: DataFrame, threshold: float, max_bucket_size: int, numeric_ids: bool,
    on_oversized: str = "star",
) -> DataFrame:
    """Hot-bucket-guarded pairwise cosine verification over a bucketed
    embedding frame ``(id string, vec array<double>, bucket)`` -- the
    shared verification half of :func:`embedding_near_duplicates_lsh`
    (buckets = LSH bands) and :func:`dedup_semantic` (buckets = IVF
    cluster ids).  Returns ``(id_a, id_b, cosine)`` with cosine >=
    threshold, one row per pair.

    ``on_oversized``: what to do with buckets larger than
    ``max_bucket_size`` -- ``'star'`` (pair every member with the bucket
    minimum only: right for LSH hot buckets, which are hash-identical
    boilerplate blobs) or ``'error'`` (raise eagerly with the offending
    sizes: right when buckets are arbitrary partitions -- IVF cells --
    where the star would silently drop non-canonical pairs)."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    if on_oversized not in ("star", "error"):
        raise ValueError(f"on_oversized must be 'star' or 'error', got {on_oversized!r}")
    id_type = LongType() if numeric_ids else StringType()
    _coerce = int if numeric_ids else str

    # -- hot-bucket pre-split: count first (map-side combine), so oversized
    # buckets are routed to the star path BEFORE any collect_list sees them
    key = F.col("id").cast("long") if numeric_ids else F.col("id")
    counts = sigs.groupBy("bucket").agg(
        F.count("*").alias("__n"), F.min(key).alias("__canon")
    )
    hot = counts.filter(F.col("__n") > max_bucket_size)
    if on_oversized == "error":
        # eager check (one pass over the persisted sigs): failing loudly
        # beats silently losing every non-canonical pair in the bucket
        top = hot.orderBy(F.desc("__n")).limit(3).collect()
        if top:
            sizes = ", ".join(f"{r['bucket']}={r['__n']}" for r in top)
            raise ValueError(
                f"bucket(s) exceed max_bucket_size={max_bucket_size}: {sizes}. "
                "Raise n_lists (target cluster size well under max_cluster_size), "
                "raise max_cluster_size (memory: largest grouped row is "
                "size*dim*8 bytes), or pass on_oversized='star' to accept "
                "canonical-member-only pairing for oversized buckets."
            )
    # one row per hot bucket (tiny by construction): its canonical member's
    # id + vector, broadcast to every member for the row-wise star cosine
    canon_vecs = (
        sigs.join(F.broadcast(hot), ["bucket"])
        .filter(key == F.col("__canon"))
        .select(
            "bucket",
            F.col("__canon").alias("canon_id"),
            F.col("vec").alias("canon_vec"),
        )
        .dropDuplicates(["bucket"])
    )
    star_members = (
        sigs.join(F.broadcast(canon_vecs), ["bucket"])
        .filter(key != F.col("canon_id"))
        .select(F.col("canon_id"), key.alias("member_id"), "vec", "canon_vec")
    )
    normal = sigs.join(F.broadcast(hot.select("bucket")), ["bucket"], "left_anti")
    packed = normal.groupBy("bucket").agg(
        F.collect_list("id").alias("ids"), F.collect_list("vec").alias("vecs")
    )

    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def star_cosines(iterator):
        import numpy as np
        import pandas as pd

        for pdf in iterator:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]], dtype=np.float64
            )
            C = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["canon_vec"]],
                dtype=np.float64,
            )
            nx = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
            nc = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
            sim = np.einsum("ij,ij->i", X, C) / (nx * nc)
            np.round(sim, 6, out=sim)
            m = sim >= threshold
            # canon_id is the bucket minimum, so (canon, member) is already
            # the normalized (lo, hi) pair orientation
            yield pd.DataFrame(
                {
                    "id_a": pdf["canon_id"].to_numpy()[m],
                    "id_b": pdf["member_id"].to_numpy()[m],
                    "cosine": sim[m],
                }
            )

    star_scored = star_members.mapInPandas(star_cosines, out_schema)

    def score_buckets(iterator):
        import numpy as np
        import pandas as pd

        for pdf in iterator:
            ids_a, ids_b, cos = [], [], []
            for row in pdf.itertuples(index=False):
                ids = [_coerce(i) for i in row.ids]
                if len(ids) < 2:
                    continue
                # buckets here are <= max_bucket_size by construction (the
                # pre-split routed oversized ones to the star path upstream)
                X = np.asarray([np.asarray(v) for v in row.vecs], dtype=np.float64)
                norms = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
                sim = (X @ X.T) / np.outer(norms, norms)
                np.round(sim, 6, out=sim)
                ii, jj = np.nonzero(np.triu(sim >= threshold, k=1))
                for i, j in zip(ii, jj):
                    lo, hi = sorted((ids[int(i)], ids[int(j)]))
                    ids_a.append(lo)
                    ids_b.append(hi)
                    cos.append(float(sim[i, j]))
            yield pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "cosine": cos})

    scored = packed.mapInPandas(score_buckets, out_schema).unionByName(star_scored)
    # a pair can collide in several bands: keep one row (cosines agree to
    # 1e-6 by construction; max() makes the reduction associative anyway)
    return (
        scored.groupBy("id_a", "id_b")
        .agg(F.round(F.max("cosine"), 6).alias("cosine"))
    )


def embedding_near_duplicates(
    emb_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 512,
    n_blocks: int | None = None,
    persist_blocks: bool = True,
) -> DataFrame:
    """All-pairs cosine near-dup via blocked matrix multiply.

    Row-at-a-time ``zip_with``/``aggregate`` cosine over an exploded n^2 join
    is O(n^2 * d) scalar ops in codegen -- unusable past a few thousand rows.
    Instead we tile: pack vectors into ~block_size blocks (bigint-hash of the
    id => deterministic, uniform), cross-join the upper-triangular block
    pairs, and compute each tile's full cosine matrix with one numpy float64
    GEMM inside an Arrow-batched ``mapInPandas``.  Shuffle volume is one copy
    of the packed table per block-pair side.

    This is the *verification-scale* kernel (tiles are O(n^2/B^2) by
    design): at 100TB use :func:`embedding_near_duplicates_lsh`, which
    prunes candidates with banding first and has no quadratic term.  Pass
    ``n_blocks`` explicitly to avoid the sizing ``count()`` job.
    """
    import math

    if n_blocks is None:
        n = emb_df.count()  # sizing fallback; pass n_blocks to skip this job
        n_blocks = max(1, math.ceil(n / block_size))
    packed = (
        emb_df.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            F.pmod(F.xxhash64(F.col(id_col).cast("bigint")), F.lit(n_blocks)).alias("blk"),
        )
        .groupBy("blk")
        .agg(
            F.collect_list("id").alias("ids"),
            F.collect_list("vec").alias("vecs"),
        )
    )
    if persist_blocks:
        # both tile sides consume the packed frame: materialize the
        # block-pack (scan + collect_list) once instead of twice.  The cache
        # is session-scoped (Spark pins it until the session ends or the
        # LRU evicts; release_caches() frees it explicitly) -- pass False
        # on frames too large to spill.
        packed = _persist(packed)
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a")
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b")
    )
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score_tiles(iterator):
        import numpy as np
        import pandas as pd

        for pdf in iterator:
            ids_a_out, ids_b_out, cos_out = [], [], []
            for row in pdf.itertuples(index=False):
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.asarray([np.asarray(v) for v in row.vecs_a], dtype=np.float64)
                mb = np.asarray([np.asarray(v) for v in row.vecs_b], dtype=np.float64)
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                sim = (ma @ mb.T) / np.outer(na, nb)
                np.round(sim, 6, out=sim)
                ii, jj = np.nonzero(sim >= threshold)
                pa, pb = ia[ii], ib[jj]
                # canonical orientation + strict upper triangle by id
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                keep = lo < hi
                pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
                if len(pairs) == 0:
                    continue
                # recover cosines for the deduped canonical pairs
                cmap = {}
                for x, y, c in zip(pa, pb, sim[ii, jj]):
                    key = (min(x, y), max(x, y))
                    cmap[key] = c
                for x, y in pairs:
                    ids_a_out.append(int(x))
                    ids_b_out.append(int(y))
                    cos_out.append(float(cmap[(x, y)]))
            yield pd.DataFrame({"id_a": ids_a_out, "id_b": ids_b_out, "cosine": cos_out})

    return tiles.mapInPandas(score_tiles, out_schema).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def dedup_semantic(
    emb_df: DataFrame,
    dim: int,
    n_lists: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    max_cluster_size: int = 4096,
    on_oversized: str = "error",
    n_probe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    'SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication'): cluster embeddings with a k-means coarse quantizer,
    then flag near-identical pairs WITHIN each cluster only.

    This is the cluster-then-prune path that scales where pairwise LSH
    recall is tuned too low: random-hyperplane banding must trade recall
    against candidate volume globally, while clustering concentrates the
    comparisons where semantic duplicates actually live -- each vector is
    compared only against its own cluster (n_probe=1 assignment), total
    work sum over clusters of k_c^2 with k_c ~ n/n_lists.

    Composition of :func:`..similarity.ivf_build` (centroids trained on a
    deterministic driver-side sample, assignment in ONE Arrow-batched GEMM
    pass -- the same index a caller may already have built for ANN search)
    with the hot-bucket-guarded per-cluster GEMM verification shared with
    :func:`embedding_near_duplicates_lsh`.

    Oversized clusters FAIL LOUDLY by default (``on_oversized='error'``):
    unlike an LSH hot bucket (hash-identical boilerplate, where pairing
    every member with the canonical is the content), an IVF cell is an
    arbitrary spatial partition -- the star path would silently skip any
    duplicate pair whose members are both non-canonical.  Size ``n_lists``
    so expected cluster size (n/n_lists) sits well under
    ``max_cluster_size`` (SemDeDup-scale corpora use n_lists ~ sqrt(n));
    the error message carries the offending sizes.  Opt into the star
    trade with ``on_oversized='star'`` for boilerplate-blob corpora.

    Returns ``(id_a, id_b, cosine)`` near-duplicate pairs (cosine >=
    threshold); compose with :func:`keep_canonical` (``src_col='id_a'``,
    ``dst_col='id_b'``) to drop every non-canonical cluster member.

    Boundary caveat and ``n_probe``: at ``n_probe=1`` a near-duplicate
    pair split across two clusters (both members near a centroid
    boundary) is missed -- the standard SemDeDup trade.  ``n_probe=2``
    closes it for the dedup pass: each vector joins its TWO nearest
    lists, so a boundary-straddling pair shares the list either member's
    second probe lands in whenever their nearest-two sets intersect
    (the near-boundary geometry that causes the miss).  Cost: each list
    roughly doubles in membership (size the ``max_cluster_size`` /
    ``n_lists`` budget accordingly) and comparison volume scales ~2x --
    still sum(k_c^2), nothing quadratic in n.  The pair output is
    deduplicated across probes, so results are a superset of n_probe=1.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from .similarity import ivf_build

    numeric_ids = isinstance(
        emb_df.schema[id_col].dataType, (LongType, IntegerType, ShortType, ByteType)
    )
    if n_probe > 1:
        # multi-probe dedup wants every vector in n_probe lists; assign
        # ONCE with the multi-probe GEMM instead of reusing the index's
        # single-probe assignment and re-probing (one corpus pass, not two)
        from .similarity import (
            _ivf_assign_fn,
            _ivf_assign_schema,
            _ivf_prep,
            _train_ivf_centroids,
        )

        C = _train_ivf_centroids(emb_df, n_lists, sample_size, id_col, vec_col)
        bc = emb_df.sparkSession.sparkContext.broadcast(C.tolist())
        probes = _ivf_prep(emb_df, id_col, vec_col).mapInArrow(
            _ivf_assign_fn(bc, n_probe), _ivf_assign_schema()
        )
        sigs = _persist(
            probes.select("id", "vec", F.col("list_id").cast("string").alias("bucket"))
        )
        return _verify_bucketed_pairs(
            sigs, threshold, max_cluster_size, numeric_ids, on_oversized=on_oversized
        )
    index = ivf_build(emb_df, dim, n_lists, sample_size, id_col, vec_col)
    return dedup_semantic_from_index(
        index, threshold, max_cluster_size, numeric_ids=numeric_ids,
        on_oversized=on_oversized,
    )


def dedup_semantic_from_index(
    index,
    threshold: float = 0.95,
    max_cluster_size: int = 4096,
    numeric_ids: bool = True,
    on_oversized: str = "error",
    n_probe: int = 1,
) -> DataFrame:
    """:func:`dedup_semantic` over a PREBUILT :class:`..similarity.IvfIndex`
    -- the corpus assignment GEMM is the expensive half and an ANN caller
    has often already paid it (``ivf_build`` once, then ``ivf_query`` for
    search and this for dedup, off the same persisted/parquet-round-tripped
    index).  ``numeric_ids=True`` (default) returns bigint pair ids; pass
    False when the original id column was non-numeric (ids ride as
    strings inside the index either way).

    ``n_probe=2`` adds boundary-pair recall (see :func:`dedup_semantic`);
    since the stored assignment is single-probe, this re-probes the
    stored corpus vectors against the index centroids -- one extra
    corpus GEMM, the price of reusing a prebuilt index."""
    if n_probe > 1:
        from .similarity import _ivf_assign_fn, _ivf_assign_schema

        if index.centroid_list is not None:
            cents = index.centroid_list
        else:
            rows = index.centroids.orderBy("list_id").collect()
            cents = [list(r["centroid"]) for r in rows]
        corpus = index.assignments.select(
            F.col("corpus_id").alias("id"), F.col("corpus_vec").alias("vec")
        )
        bc = corpus.sparkSession.sparkContext.broadcast(cents)
        probes = corpus.mapInArrow(_ivf_assign_fn(bc, n_probe), _ivf_assign_schema())
        sigs = _persist(
            probes.select("id", "vec", F.col("list_id").cast("string").alias("bucket"))
        )
        return _verify_bucketed_pairs(
            sigs, threshold, max_cluster_size, numeric_ids, on_oversized=on_oversized
        )
    sigs = index.assignments.select(
        F.col("corpus_id").alias("id"),
        F.col("corpus_vec").alias("vec"),
        F.col("list_id").cast("string").alias("bucket"),
    )
    # the assignment frame feeds bucket counts + the normal/star joins, the
    # same multi-consumer shape as the LSH signatures
    sigs = _persist(sigs)
    return _verify_bucketed_pairs(
        sigs, threshold, max_cluster_size, numeric_ids, on_oversized=on_oversized
    )


# ---------------------------------------------------------------------------
# Line/paragraph-level dedup (C4 / CCNet-style boilerplate removal):
# a line that repeats across >= min_repeats documents is boilerplate
# (nav text, cookie banners, footers) and is dropped from every document.
# ---------------------------------------------------------------------------


def _line_explode(df: DataFrame, text_col: str, delimiter: str) -> DataFrame:
    """(doc_id, pos, line): position-tagged non-empty trimmed lines."""
    return df.select(
        "doc_id",
        F.posexplode(
            # \Q...\E: the delimiter is a LITERAL (F.split takes a Java
            # regex; an unquoted '.' or '|' would split on every character)
            F.transform(F.split(F.col(text_col), "\\Q" + delimiter + "\\E"), lambda s: F.trim(s))
        ).alias("pos", "line"),
    ).filter(F.length("line") > 0)


def line_boilerplate_set_size(
    df: DataFrame,
    text_col: str = "text",
    delimiter: str = ",",
    min_repeats: int = 2,
) -> DataFrame:
    """Monitoring metric for :func:`line_dedup`'s broadcast assumption: ONE
    row ``(boilerplate_set_size bigint)`` = number of distinct lines repeated
    across >= min_repeats documents.  Run it (or let line_dedup's ``auto``
    mode measure it) before trusting the broadcast membership join on a new
    corpus."""
    lines = _line_explode(df, text_col, delimiter)
    boiler = (
        lines.groupBy(F.xxhash64("line").alias("line_key"))
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_repeats)
    )
    return boiler.agg(F.count("*").cast("bigint").alias("boilerplate_set_size"))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    delimiter: str = ",",
    min_repeats: int = 2,
    exact: bool = False,
    broadcast: bool | str = "auto",
    broadcast_limit: int = 4_000_000,
    keep_all_docs: bool = False,
) -> DataFrame:
    """Remove cross-document repeated lines; return per-doc cleaned text.

    Output: (doc_id, clean_text, n_lines, n_removed).

    Per-doc contract: documents with NO non-empty lines (empty/whitespace
    text) produce NO output row -- they have no line statistics to report
    and the SQL twin mirrors this.  Pass ``keep_all_docs=True`` to left-join
    the result back to the input doc_ids, emitting
    ``(doc_id, '', 0, 0)`` for such documents, when callers re-join on
    doc_id and must not lose rows.

    Collision caveat: membership is keyed on xxhash64(line) by default; a
    64-bit birthday collision between an innocent line and a boilerplate
    line silently deletes unrelated content (expected once the corpus nears
    ~2^32 distinct lines).  Pass ``exact=True`` to key on the line STRING --
    exact at any scale, at the cost of wider join keys and a bigger
    membership set.

    Scale shape: ONE posexplode pass over the corpus (position-tagged, no
    window), the boilerplate set is a hash aggregation with map-side
    combine (count distinct docs per line), and membership is a BROADCAST
    left join on the line key -- the boilerplate set is tiny relative to
    the corpus (lines repeated across >=k docs).  Totals and reassembly
    happen in the SAME groupBy(doc_id): ``collect_list`` skips the NULL
    structs of removed lines, so kept-lines, n_lines and n_removed all come
    from one exchange on doc_id.

    Broadcast fallback: a pathological corpus (min_repeats=1, or a mirror
    farm where most lines repeat) can make the membership set too large to
    broadcast.  ``broadcast='auto'`` (default) persists the set, measures it
    (the measured size is the ``boilerplate_set_size`` metric -- see
    :func:`line_boilerplate_set_size`), and degrades to a shuffle join when
    it exceeds ``broadcast_limit`` keys; ``True``/``False`` force either
    path without the measuring action.
    """
    lines = _line_explode(df, text_col, delimiter)

    # boilerplate = lines appearing in >= min_repeats DISTINCT documents;
    # key on the 64-bit hash by default (smaller broadcast), or the string
    # itself in exact mode
    key_of = (lambda c: F.col(c)) if exact else (lambda c: F.xxhash64(c))
    boiler = (
        lines.groupBy(key_of("line").alias("line_key"))
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_repeats)
        .select("line_key")
    )

    use_broadcast = broadcast
    if broadcast == "auto":
        # measure-then-choose: the set is persisted so the measuring count
        # and the membership join share one corpus aggregation pass
        # (registered: release_caches() frees it after the caller
        # materializes the result)
        boiler = _persist(boiler)
        use_broadcast = boiler.count() <= broadcast_limit
    right = F.broadcast(boiler) if use_broadcast else boiler

    flagged = lines.join(right, key_of("line") == boiler["line_key"], "left")

    # collect_list drops NULLs: removed lines contribute to n_lines but not
    # to the kept-struct list, so one aggregation yields everything
    kept_struct = F.when(F.col("line_key").isNull(), F.struct("pos", "line"))
    # reassembly joiner: lines are trim()'d at explode, so single-character
    # punctuation delimiters (',') read back naturally as ', '; for every
    # other delimiter -- newline above all -- join with the BARE delimiter,
    # or the curated text gains a space at the start of every line
    joiner = delimiter + " " if len(delimiter) == 1 and not delimiter.isspace() and not delimiter.isalnum() else delimiter
    out = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(kept_struct)), lambda s: s["line"]),
            joiner,
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_lines"),
        F.count("line_key").cast("bigint").alias("n_removed"),
    )
    if keep_all_docs:
        out = df.select("doc_id").join(out, "doc_id", "left").select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
    return out


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    min_chars: int = 1,
    method: str = "scan",
) -> DataFrame:
    """WITHIN-document exact line dedup: keep the FIRST occurrence of each
    repeated line inside a document, preserving order (the self-repetition
    scrub run after extraction on pages whose template repeats nav blocks,
    share bars, or cookie text several times in one page -- the within-doc
    complement of :func:`line_dedup`'s cross-document boilerplate removal;
    repetition-HEAVY docs are better dropped outright via
    ``textstats.repetition_stats``, this trims the light cases).

    Output: (doc_id, clean_text, n_lines, n_removed).  Lines shorter than
    ``min_chars`` (default 1 = empty lines, i.e. paragraph breaks) are
    ALWAYS kept -- deduping structural blanks would collapse paragraph
    layout.  NULL text passes through as (NULL, 0, 0).  Lines are split on
    '\\n' exactly (run :func:`nreadspark.ops.normalize.normalize_text`
    first to fold CRLF and space-hugged newlines).

    Scale shape -- two equivalent methods:

    * ``method='scan'`` (default): the whole operator is ONE codegen
      projection -- split, then a higher-order ``filter`` keeping element i
      iff ``array_position(lines, x) == i+1`` (the first occurrence), then
      re-join.  ZERO shuffles; at 100 TB this rides the scan like the rest
      of the normalization tier.  ``array_position`` rescans the array per
      element, so the per-document cost is O(lines^2) COMPARISONS -- flat
      until ~10^4 lines/doc, which is orders beyond a real extracted page.
    * ``method='window'``: posexplode -> ``row_number() OVER (doc, line
      ORDER BY pos)`` -> re-assemble.  Two exchanges, but per-task memory
      is one line not one document -- the mega-document escape hatch (the
      same reasoning as chunk-then-pack), and the shape whose equality the
      tests pin against 'scan'.
    """
    if method not in ("scan", "window"):
        raise ValueError(f"method must be 'scan' or 'window', got {method!r}")
    if method == "window":
        from pyspark.sql import Window

        lines = df.select(
            "doc_id",
            F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
        )
        w = Window.partitionBy("doc_id", "line").orderBy("pos")
        kept = lines.withColumn("rn", F.row_number().over(w)).filter(
            (F.col("rn") == 1) | (F.length("line") < min_chars)
        )
        agg = kept.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
        n_lines = df.select(
            "doc_id",
            F.coalesce(F.size(F.split(F.col(text_col), "\n", -1)), F.lit(0))
            .cast("bigint")
            .alias("n_lines"),
        )
        # NULL-text docs vanish at explode; restore them via the left join
        return n_lines.join(agg, "doc_id", "left").select(
            "doc_id",
            "clean_text",
            F.greatest("n_lines", F.lit(0)).alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )

    # scan method: stage the split ONCE as a child-projection column (it is
    # referenced by the filter lambda, the n_lines count AND the kept-size
    # delta -- the round-6 multi-ref staging rule), then keep first
    # occurrences with array_position (1-based first index)
    d = df.withColumn("__ld_lines", F.split(F.col(text_col), "\n", -1))
    d = d.withColumn(
        "__ld_kept",
        F.expr(
            "filter(transform(__ld_lines, (x, i) -> struct(x, i)), "
            f"s -> length(s.x) < {int(min_chars)} "
            "OR array_position(__ld_lines, s.x) == s.i + 1)"
        ),
    )
    return d.select(
        "doc_id",
        F.array_join(F.transform("__ld_kept", lambda s: s["x"]), "\n").alias(
            "clean_text"
        ),
        F.coalesce(F.size("__ld_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
        (
            F.coalesce(F.size("__ld_lines"), F.lit(0))
            - F.coalesce(F.size("__ld_kept"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_removed"),
    )


def ngram_duplicate_stats(
    df: DataFrame, text_col: str = "text", n: int = 8, exact: bool = False,
    persist_ngrams: bool = True,
) -> DataFrame:
    """Corpus-wide exact-substring duplication signal (Lee et al. 2021,
    'Deduplicating Training Data Makes Language Models Better'): for each
    document, how many of its word n-grams also occur in OTHER documents.
    Complements MinHash (whole-doc near-dup) by catching long verbatim
    passages shared across otherwise-different documents.

    Output: (doc_id, n_ngrams, n_dup_ngrams) -- integer counts; callers
    threshold (e.g. drop docs with n_dup_ngrams/n_ngrams > 0.5).

    Per-doc contract: documents too short to form ANY n-gram (< n words)
    produce NO output row (the SQL twin mirrors this); callers joining back
    on doc_id should left-join and treat absence as zero counts.

    Scale shape: n-grams are built JVM-side (sequence + slice + concat_ws)
    and exploded as 64-bit hashes (fixed-width shuffle keys, not strings);
    the document-frequency aggregation has map-side combine; the join back
    is a plain shuffle join on the hash -- the duplicated-ngram set is NOT
    assumed small (it is the whole point of the operator), so no broadcast.

    Collision caveat: keying on xxhash64(gram) means a 64-bit birthday
    collision counts two unrelated n-grams as one (expected once the corpus
    nears ~2^32 distinct n-grams).  Pass ``exact=True`` to key on the gram
    STRING instead -- exact at any scale, at the cost of wide shuffle keys.
    """
    if exact:
        gram_key = lambda g: g  # noqa: E731
    else:
        gram_key = F.xxhash64  # fixed-width shuffle keys
    exploded = _exploded_grams(df.select("doc_id", text_col), text_col, n, gram_key, "h")
    if persist_ngrams:
        # the exploded n-gram frame feeds the doc-frequency aggregation AND
        # the join back -- materialize once instead of rebuilding the
        # (slice + concat_ws + hash) n-gram construction per consumer
        exploded = _persist(exploded)

    docfreq = exploded.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        exploded.join(docfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ngrams"),
            F.sum((F.col("nd") > 1).cast("int")).cast("bigint").alias("n_dup_ngrams"),
        )
    )


def _exploded_grams(df: DataFrame, text_col: str, n: int, gram_key, out_col: str) -> DataFrame:
    """(doc_id?, <out_col>): one row per word n-gram of ``text_col``
    (JVM-side: split -> sequence of starts -> slice -> concat_ws -> key),
    no rows for docs with < n words.  Shared by
    :func:`ngram_duplicate_stats` and :func:`decontaminate`.

    The word array is materialized in a CHILD projection on purpose: an
    expression referenced inside a higher-order-function lambda is inlined
    into every lambda evaluation by codegen, so building grams directly
    over ``split(text)`` re-runs the regex split once PER GRAM (~word-count
    times per document; measured 6x slower at sf0.1).  A column reference
    is evaluated once per row."""
    keep = [c for c in df.columns if c != text_col]
    with_words = df.select(*keep, F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"))
    words = F.col("__w")
    # guard: F.sequence(1, 0) yields the DESCENDING [1, 0], not empty
    starts = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts, lambda i: gram_key(F.concat_ws(" ", F.slice(words, i, n)))
    )
    return with_words.select(*keep, F.explode(grams).alias(out_col))


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    exact: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark/eval-set decontamination: flag every corpus document that
    shares at least one word ``n``-gram with a held-out evaluation set --
    the standard pre-training hygiene step (Brown et al. 2020 appendix C
    use 13-gram overlap; Lee et al. 2021 §6 the same n-gram machinery this
    module's :func:`ngram_duplicate_stats` builds on).  No reference
    counterpart (the reference is a per-page HTML library).

    Output: one row per corpus document --
    ``(doc_id, n_ngrams, n_contaminated_ngrams, contaminated)``; documents
    too short to form any n-gram keep a row with zero counts (a flagging
    pass must not lose rows).  Thresholding is the caller's: the default
    policy ``contaminated = n_contaminated_ngrams > 0`` is the strict
    any-overlap rule; use the raw counts for ratio policies.

    Scale shape: eval sets are small relative to a pre-training corpus
    (10^3-10^6 documents), so the DISTINCT eval-gram set is broadcast
    (default) -- corpus n-grams are built JVM-side as 64-bit hashes
    (fixed-width keys) inside the scan stage, membership is a broadcast
    left join (no corpus shuffle), and the per-doc counts aggregate with
    map-side combine on doc_id.  Pass ``broadcast=False`` for a
    pathologically large eval set (degrades to a shuffle join).

    Collision caveat: hashed grams can (64-bit birthday, ~2^32 distinct
    grams) flag an innocent document; ``exact=True`` keys on the gram
    STRING -- exact at any scale, wider join keys.
    """
    eval_text_col = eval_text_col or text_col
    gram_key = (lambda g: g) if exact else F.xxhash64
    eval_grams = _exploded_grams(
        eval_df.select(eval_text_col), eval_text_col, n, gram_key, "__eval_g"
    ).distinct()
    right = F.broadcast(eval_grams) if broadcast else eval_grams
    exploded = _exploded_grams(
        corpus.select("doc_id", text_col), text_col, n, gram_key, "__g"
    )
    counts = (
        exploded.join(right, exploded["__g"] == right["__eval_g"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ngrams"),
            F.count("__eval_g").cast("bigint").alias("n_contaminated_ngrams"),
        )
    )
    return (
        corpus.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_ngrams"),
        )
        .withColumn("contaminated", F.col("n_contaminated_ngrams") > 0)
    )


def strip_contaminated(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    exact: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """The strip variant of :func:`decontaminate`: return the corpus with
    every flagged document removed (anti-join on the flagged ids -- clean
    documents' payloads shuffle only on the id join)."""
    flagged = decontaminate(
        corpus, eval_df, text_col, eval_text_col, n, exact, broadcast
    ).filter(F.col("contaminated")).select("doc_id")
    return corpus.join(flagged, "doc_id", "left_anti")


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Group duplicate PAIRS into clusters: ``(id, component)`` where
    component is the minimum id reachable through the pair graph.  This is
    the step every dedup pipeline needs after candidate generation --
    pairwise output alone cannot answer "which documents do I keep".

    Algorithm (r9, opt guide §2.4 "do fewer shuffle rounds"): iterated
    PARTITION-LOCAL CONTRACTION.  Each round a ``mapInPandas`` pass runs a
    union-find over every edge partition and emits ``(id, local_root)``
    with the root the MINIMUM member of the partition-local component; a
    min-aggregation makes the mapping functional across partitions, both
    edge endpoints are relabeled through it, and self-loops are dropped.
    Every edge that lands in a partition is contracted within it, so the
    quotient graph shrinks by whole partition-local components per round
    -- the round count is bounded by the cross-partition hop depth (1 when
    an AQE-coalesced graph fits one partition; 2-3 in practice at scale),
    not by the graph diameter that bounded the previous min-label/pointer-
    jump loop to O(log d) join rounds (measured 9 rounds x 7 jobs on the
    image-pair graph; this form does it in 1 round + 1 empty-check).
    Relabeling only ever maps an endpoint to a node PROVEN connected to it
    (the chain id -> partition-local root), so quotient edges never merge
    distinct components, and every round's local roots are the minima of
    the member sets they absorb -- the fixpoint labels are exactly the
    reachable minima.

    Per-partition state is one dict over the partition's node set --
    bounded by edge-partition sizing exactly like every other
    ``mapInPandas`` kernel in this module; no driver-side data beyond the
    per-round emptiness count.

    ``strict=True`` (default) raises RuntimeError if max_iter rounds did
    not converge -- silently returning partial labels would split real
    clusters; pass ``strict=False`` to accept the partial refinement.
    """
    from pyspark.sql.types import StructField, StructType

    id_type = pairs.schema[src_col].dataType
    uf_schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )

    def _local_uf(iterator):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in iterator:
            for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min keeps the root the smallest member seen
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            ids = list(parent)
            yield pd.DataFrame({"id": ids, "component": [find(x) for x in ids]})

    g = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    total = None
    round_frames: list[DataFrame] = []
    converged = False
    for _ in range(max_iter):
        mapping = (
            g.mapInPandas(_local_uf, uf_schema)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        round_frames.append(mapping)
        if total is None:
            total = mapping
        else:
            # compose: previous roots that merged again follow the new
            # mapping; roots with no remaining edges keep their label
            total = total.join(
                mapping.select(
                    F.col("id").alias("__m_id"),
                    F.col("component").alias("__m_comp"),
                ),
                total["component"] == F.col("__m_id"),
                "left",
            ).select(
                "id", F.coalesce("__m_comp", "component").alias("component")
            )
        m_src = mapping.select(F.col("id").alias("src"), F.col("component").alias("__rs"))
        m_dst = mapping.select(F.col("id").alias("dst"), F.col("component").alias("__rd"))
        g2 = (
            g.join(m_src, "src")
            .join(m_dst, "dst")
            .select(F.col("__rs").alias("src"), F.col("__rd").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)  # the emptiness count materializes it
        )
        round_frames.append(g2)
        if g2.count() == 0:
            converged = True
            break
        g = g2
    if not converged and strict:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pathological graph?); raise max_iter or pass strict=False"
        )
    if len(round_frames) == 2:
        # single-round convergence (the common case: the graph fit one
        # AQE-coalesced partition): `total` IS the round's mapping, which
        # is already an eager checkpoint -- re-materializing it would only
        # copy the blocks.  Release the (empty) quotient check frame.
        _release_local_checkpoint(round_frames[1])
        return total
    # materialize the composed labels so every per-round checkpoint can be
    # released now (the caller gets a self-contained frame, same contract
    # as before)
    labels = total.localCheckpoint(eager=True)
    for df in round_frames:
        _release_local_checkpoint(df)
    return labels


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
) -> DataFrame:
    """Drop every document that belongs to a duplicate cluster but is not
    its canonical (minimum-id) member -- the terminal step of the dedup
    pipeline: candidate pairs -> components -> surviving corpus.

    Documents that appear in no pair survive untouched (anti-join, no
    shuffle of their payloads beyond the join on id)."""
    comps = connected_components(pairs, src_col, dst_col)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def keep_canonical_exact(
    df: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`keep_canonical` specialized to EXACT-KEY duplicates (r9):
    when candidate pairs are defined by equality on ``key_cols`` (a
    perceptual hash compared at hamming 0, an exact fingerprint), the
    pair graph's transitive closure IS the key's equality class, so the
    pairs -> connected-components -> anti-join chain collapses to one
    window: canonical = min ``id_col`` per key group, everything else in
    the group is dropped.  Rows with any NULL key column never pair
    (matching the NULL-hash exclusion of every pair emitter here) and
    survive untouched.

    Provably identical output to ``keep_canonical(df, equality_pairs)``
    (pinned by test); the win is structural -- ONE window shuffle and one
    pass over ``df`` instead of the pair join + per-round component loop
    (an anti-join formulation would also re-run the upstream decode on
    both sides of its diamond), at any scale."""
    import functools

    from pyspark.sql import Window

    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must name at least one column")
    any_null = functools.reduce(
        lambda a, b: a | b, [F.col(k).isNull() for k in keys]
    )
    # NULL-key rows must not share one window partition (at corpus scale
    # the undecodable tier is a plurality of rows -- a single (NULL, ...)
    # group would be a skew bomb): they get their own id as a singleton
    # disambiguator key, keyed rows a constant.  The null arm of the
    # keep-condition still short-circuits them to survival.
    disamb = F.when(any_null, F.col(id_col).cast("string")).otherwise(F.lit(None))
    w = Window.partitionBy(*keys, disamb)
    return (
        df.withColumn("__canon", F.min(id_col).over(w))
        .filter(any_null | (F.col(id_col) == F.col("__canon")))
        .drop("__canon")
    )


# ---------------------------------------------------------------------------
# Cross-snapshot dedup: flag documents already present in a REFERENCE
# corpus (the previous training snapshot, a licensed set that must not be
# re-ingested, a partner's delivery) -- the between-dataset twin of
# exact_duplicates, run before any within-corpus stage so known content
# never re-enters the pipeline.
# ---------------------------------------------------------------------------


def _normalized_fingerprint(text_col: str):
    """md5 of the case-folded, whitespace-normalized text -- the
    :func:`..textstats.fingerprint` definition, shared so the cross-
    snapshot join and the single-corpus fingerprint agree byte-for-byte
    (and the DuckDB oracle can reproduce both)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))


def dedup_against_reference(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    broadcast: bool = False,
) -> DataFrame:
    """(doc_id, in_reference): True where the corpus document's normalized
    fingerprint already exists in ``reference``.

    Scale shape: both sides reduce to 16-byte md5 keys IN the scan
    projection; the reference side is made distinct (map-side combined)
    and the membership check is a left-semi-shaped join on the hash --
    at snapshot scale (reference ~ previous training set, i.e. as large
    as the corpus) this is ONE fixed-width shuffle per side, never a
    payload shuffle.  ``broadcast=True`` opts small references (eval
    sets, licensed lists; MBs of hashes) into a broadcast join with zero
    corpus shuffle."""
    ref_fp = (
        reference.select(
            _normalized_fingerprint(ref_text_col or text_col).alias("__fp")
        )
        .distinct()
        .withColumn("__in_ref", F.lit(True))
    )
    if broadcast:
        ref_fp = F.broadcast(ref_fp)
    return (
        corpus.select("doc_id", _normalized_fingerprint(text_col).alias("__fp"))
        .join(ref_fp, "__fp", "left")
        .select(
            "doc_id", F.coalesce("__in_ref", F.lit(False)).alias("in_reference")
        )
    )


def dedup_against_reference_bloom(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    bits_per_key: int = 10,
    n_probes: int = 7,
    expected_ref_count: int | None = None,
) -> DataFrame:
    """:func:`dedup_against_reference` with a Bloom-filter pre-filter --
    IDENTICAL output (exact; Bloom false positives only route a few extra
    rows through the exact join, never flip a flag), different shuffle
    profile:

    the reference's distinct fingerprints build a Bloom bitset (Bloom
    1970: ``n_probes`` positions per key via seeded xxhash64 into an
    ``m``-bit array, ``m`` = next power of two >= ``n * bits_per_key``;
    10 bits/key + 7 probes ~ 1% false positives).  The bitset is
    ``m/8`` BYTES -- ~8x smaller than broadcasting the 64-bit hash set
    itself and ~30x smaller than the md5 strings, which is what makes it
    broadcastable at reference sizes where the exact set is not (10^9
    keys -> 1.25 GB of bitset vs 10+ GB of hashes).  Corpus rows that
    miss the Bloom are DEFINITELY new: they take ``in_reference=False``
    in the scan projection with ZERO shuffle.  Only the hit fraction
    (true dups + ~1% FP) flows through the exact fingerprint join, so
    the corpus-side shuffle shrinks from |corpus| to ~|dup fraction| --
    at a monthly-crawl 10-30% re-crawl rate, a 3-10x corpus shuffle
    reduction for one extra reference pass.

    Scale shape: bitset assembly is distributed (explode positions ->
    per-word ``bit_or`` hash agg, map-side combined); only the finished
    ``m/64``-word table is collected (driver holds m/8 bytes -- the same
    object every executor must hold anyway).  The membership test is an
    Arrow-batched pandas UDF over JVM-computed positions (vectorized
    numpy gather; no per-row Python).  Driver/executor memory budget is
    the explicit knob: ``bits_per_key * n / 8`` bytes.

    Spark note: SQL exposes no ``bloom_filter_agg`` in this build (it is
    an internal runtime-filter expression), hence the DataFrame-native
    assembly."""
    import numpy as np
    from pyspark.sql.types import BooleanType

    ref_fp = (
        reference.select(
            _normalized_fingerprint(ref_text_col or text_col).alias("__fp")
        )
        # NULL reference texts fingerprint to NULL; the exact twin tolerates
        # them via join semantics (NULL never equi-joins), but here a NULL
        # __fp would flow through h1h2/explode into a (__word=NULL,
        # __bits=NULL) group and crash the driver-side bitset gather
        # (bitset[None] = None).  Drop BEFORE the count so the bitset is
        # sized on real keys only.  Corpus-side NULLs stay safe on either
        # branch: a NULL probe set can only send the row to the exact join,
        # where NULL __fp matches nothing -> in_reference=False.
        .filter(F.col("__fp").isNotNull())
        .distinct()
        .withColumn("__in_ref", F.lit(True))
    )
    out_cols = [c for c in corpus.columns if c == "doc_id"] or [corpus.columns[0]]
    if expected_ref_count is None:
        # sized by an UNPERSISTED count: persisting ref_fp here would pin
        # InMemoryRelation's default (huge) stats onto the join input and
        # flip the exact join to a sort-merge even for broadcastable
        # references (measured 13.5 s -> 43 s on the 1M soak).  The cost
        # is one extra reference pass (fingerprints in the scan
        # projection); snapshot-scale callers pass ``expected_ref_count``
        # (any within-2x estimate works -- it only sizes the bitset).
        n = ref_fp.count()
    else:
        n = expected_ref_count
    if n == 0:
        return corpus.select(
            *out_cols, F.lit(False).alias("in_reference")
        )
    m = 1 << max(6, int(n * bits_per_key - 1).bit_length())
    mask = m - 1

    # Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) & mask from
    # TWO seeded xxhash64 values (h2 forced odd so all probes differ on a
    # power-of-two table) -- asymptotically as good as i independent
    # hashes, and crucially it lets the corpus-side Python kernel derive
    # positions from just (h1, h2), so the expensive md5(regexp_replace)
    # fingerprint is evaluated ONCE per row.  The naive xxhash64(fp, i)
    # formulation re-inlines the fingerprint expression into every probe
    # when Catalyst extracts the Python UDF args (measured 8x recompute
    # in the physical plan -- the multiply-referenced-expression trap
    # BENCH/BASELINE.md documents for canonical_url / registrable_domain).
    def h1h2(col):
        # h1/h2 come from the md5 HEX ITSELF (first/second 15 nibbles =
        # 60-bit values), not from further hashing: the md5 is already
        # uniform, and deriving from the string means the corpus-side
        # Python kernel can recompute the probes from the fingerprint
        # alone -- the expensive md5(regexp_replace(text)) is then
        # evaluated ONCE per corpus row (Catalyst re-inlines UDF argument
        # expressions, so every extra column derived from __fp would
        # re-run the fingerprint; measured 8x with per-probe xxhash64).
        # Pre-masked: mod-2^k is a ring homomorphism from mod-2^64, so
        # ((h1&mask) + i*(h2&mask)) & mask probes the same slots, and the
        # masked form never overflows ANSI long arithmetic (<= 7 * m);
        # |1 keeps h2 odd (invertible mod 2^k -> all probes distinct).
        return (
            F.conv(F.substring(col, 1, 15), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit(mask))
            .alias("__h1"),
            F.conv(F.substring(col, 17, 15), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
            .bitwiseAND(F.lit(mask))
            .alias("__h2"),
        )

    pos = F.explode(
        F.array(
            *[
                (F.col("__h1") + F.lit(i) * F.col("__h2")).bitwiseAND(F.lit(mask))
                for i in range(n_probes)
            ]
        )
    ).alias("__pos")
    words = (
        ref_fp.select(*h1h2(F.col("__fp")))
        .select(pos)
        # SQL form: the classic-API shiftleft only takes a LITERAL bit
        # count; SQL's accepts a column.  Bit 63 wraps into the sign bit
        # (simhash precedent) -- bit_or and the numpy gather don't care.
        .selectExpr(
            "shiftright(__pos, 6) AS __word",
            "shiftleft(CAST(1 AS BIGINT), CAST(__pos & 63 AS INT)) AS __bit",
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
        .collect()
    )
    bitset = np.zeros(m // 64, dtype=np.int64)
    for row in words:
        bitset[row["__word"]] = row["__bits"]
    bc = corpus.sparkSession.sparkContext.broadcast(bitset)

    @F.pandas_udf(BooleanType())
    def bloom_maybe(fp: pd.Series) -> pd.Series:
        import numpy as _np

        w = bc.value
        if len(fp) == 0:
            return pd.Series([], dtype=bool)
        # vectorized nibble math over the md5 hex: the exact twin of the
        # JVM conv(substring(fp, 1|17, 15), 16, 10) derivation
        codes = _np.frombuffer(
            fp.to_numpy(dtype="U32").tobytes(), dtype=_np.uint32
        ).reshape(-1, 32)
        nib = _np.where(codes >= 97, codes - 87, codes - 48).astype(_np.int64)
        a = _np.zeros(len(fp), dtype=_np.int64)
        b = _np.zeros(len(fp), dtype=_np.int64)
        for j in range(15):  # 15 columns, each step vectorized across rows
            a = (a << 4) | nib[:, j]
            b = (b << 4) | nib[:, 16 + j]
        a = (a & mask)[:, None]
        b = ((b | 1) & mask)[:, None]
        pos = (a + _np.arange(n_probes, dtype=_np.int64) * b) & mask
        # arithmetic >> preserves the masked bit for any word sign
        hits = (w[pos >> 6] >> (pos & 63)) & 1
        return pd.Series(hits.all(axis=1))

    tagged = corpus.select(
        *out_cols,
        _normalized_fingerprint(text_col).alias("__fp"),
    ).withColumn("__maybe", bloom_maybe("__fp"))
    # definite-new branch: scan-only, zero shuffle
    definite = tagged.filter(~F.col("__maybe")).select(
        *out_cols, F.lit(False).alias("in_reference")
    )
    # maybe branch (dups + ~1% FP): exact join on the surviving fraction
    maybes = (
        tagged.filter(F.col("__maybe"))
        .join(ref_fp, "__fp", "left")
        .select(
            *out_cols, F.coalesce("__in_ref", F.lit(False)).alias("in_reference")
        )
    )
    return definite.unionByName(maybes)


def minhash_near_dups_against_reference(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    k: int = 3,
    n_hashes: int = _N_HASHES,
    n_bands: int = _N_BANDS,
    hash_fn: str = "xxhash64",
    threshold: float = 0.7,
    max_ref_bucket_size: int | None = 256,
    persist: bool = True,
) -> DataFrame:
    """(doc_id, ref_doc_id, jaccard): NEW-snapshot documents whose exact
    token-set Jaccard against some PREVIOUS-snapshot document clears
    ``threshold`` -- the crawl-over-crawl *incremental* near-dedup.
    :func:`dedup_against_reference` catches byte-identical re-crawls; this
    catches the rest of what a monthly crawl actually contains (same page,
    updated timestamp/footer/ad markup).

    Why a dedicated op instead of union + :func:`minhash_lsh_candidates`:
    the reference snapshot was already deduped when IT was built, so
    ref x ref pairs are pure waste -- at snapshot scale (reference as
    large as the corpus) the union self-join generates ~half its
    candidates inside the reference.  Banding both sides and joining
    new-bands AGAINST ref-bands emits only new x ref candidates.

    Scale shape: each side reduces to (doc_id, band, band_key) rows in its
    own scan stage; ONE shuffle join on (band, band_key); exact-Jaccard
    verification touches only candidate pairs.  Hot REFERENCE buckets
    (boilerplate band keys shared by >``max_ref_bucket_size`` ref docs)
    collapse to their canonical (minimum doc_id) member, bounding per-key
    fan-out at ``max_ref_bucket_size``: the worst join key holds
    new_bucket x max_ref rows, and a hot NEW bucket is a plain
    skewed-left-side shuffle join that AQE skew splitting handles (the
    per-new-doc candidate count stays <= n_bands * max_ref_bucket_size
    regardless).  Recall note: a new doc whose only shared bucket with a
    ref doc is a hot one is verified against that bucket's canonical
    member instead -- near-identical by construction; pass
    ``max_ref_bucket_size=None`` for exact all-pairs banding.
    """
    ref = reference.select(
        F.col("doc_id").alias("ref_doc_id"),
        F.col(ref_text_col or text_col).alias(text_col),
    )
    new_bands = _banded_signatures(corpus, text_col, k, n_hashes, n_bands, hash_fn)
    ref_bands = _banded_signatures(
        ref.withColumnRenamed("ref_doc_id", "doc_id"), text_col, k, n_hashes, n_bands, hash_fn
    ).withColumnRenamed("doc_id", "ref_doc_id")
    if persist:
        # ref bands feed the hot-bucket count AND the join; new bands feed
        # the join once but the signature pass is the expensive part
        ref_bands = _persist(ref_bands)

    if max_ref_bucket_size is not None:
        counts = ref_bands.groupBy("band", "band_key").agg(
            F.count("*").alias("__n"), F.min("ref_doc_id").alias("__canon")
        )
        hot = counts.filter(F.col("__n") > max_ref_bucket_size)
        ref_side = ref_bands.join(
            F.broadcast(hot.select("band", "band_key")), ["band", "band_key"], "left_anti"
        ).unionByName(
            # representative-only rows for hot buckets (canon was removed
            # by the anti-join above, so no duplicate row)
            hot.select("band", "band_key", F.col("__canon").alias("ref_doc_id"))
        )
    else:
        ref_side = ref_bands

    cand = (
        new_bands.join(ref_side, ["band", "band_key"])
        .select("doc_id", "ref_doc_id")
        .distinct()
    )

    toks_new = tokenize(corpus, text_col).select(
        "doc_id", F.array_distinct("__tokens").alias("set_a")
    )
    toks_ref = tokenize(ref.withColumnRenamed("ref_doc_id", "doc_id"), text_col).select(
        F.col("doc_id").alias("ref_doc_id"), F.array_distinct("__tokens").alias("set_b")
    )
    jaccard = F.size(F.array_intersect("set_a", "set_b")) / F.size(
        F.array_union("set_a", "set_b")
    )
    return (
        cand.join(toks_new, "doc_id")
        .join(toks_ref, "ref_doc_id")
        .select("doc_id", "ref_doc_id", F.round(jaccard, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def strip_reference_near_duplicates(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Survivor composition for the incremental crawl: corpus rows with no
    near-duplicate in the reference snapshot (anti-join on the flagged
    ids).  Run :func:`strip_reference_duplicates` (exact) first if the
    corpus is re-crawl-heavy -- exact membership is one fixed-width
    shuffle vs banding's signature pass."""
    flagged = minhash_near_dups_against_reference(
        corpus, reference, text_col, ref_text_col, threshold=threshold, **kwargs
    ).select("doc_id").distinct()
    return corpus.join(flagged, "doc_id", "left_anti")


def strip_reference_duplicates(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    broadcast: bool = False,
) -> DataFrame:
    """Survivor composition: corpus rows whose content is NOT already in
    the reference snapshot (anti-join on the fingerprint keys)."""
    flags = dedup_against_reference(
        corpus, reference, text_col, ref_text_col, broadcast
    )
    keep = flags.filter(~F.col("in_reference")).select("doc_id")
    return corpus.join(keep, "doc_id", "left_semi")
