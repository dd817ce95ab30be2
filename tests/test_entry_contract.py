"""Local mirror of the driver's correctness gate: run every queries() entry
on sf0.001 and compare against its oracle_sql() twin through DuckDB
(row-count + column names + order-insensitive values)."""

import decimal
import math
import os

import pytest

pyspark = pytest.importorskip("pyspark")
duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm(v):
    # DuckDB returns DECIMAL for decimal-literal arithmetic via fetchall;
    # the driver's pandas path coerces those to float64, so mirror that
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(row[i]) for i in order) for row in rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(10).collect()
    assert df.count() >= 0
    assert {"doc_id", "title", "content_extracted"} <= set(df.columns)
    assert rows


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    assert name in ALL_QUERIES, f"oracle without query: {name}"
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} != {len(duck_rows)}"
    )
    canon_spark = _canon(spark_rows, spark_cols)
    canon_duck = _canon(duck_rows, duck_cols)
    if canon_spark != canon_duck:
        diffs = [
            (a, b) for a, b in zip(canon_spark, canon_duck) if a != b
        ][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_rows_only_queries_run(spark):
    """Queries without a SQL twin (none today -- every entry is
    oracle-checked) must still at least execute; a plain loop rather than a
    parametrize so the empty set passes instead of skipping."""
    for name in sorted(set(ALL_QUERIES.keys()) - set(ORACLES.keys())):
        assert ALL_QUERIES[name](spark, SF_DIR).count() >= 0


def test_minhash_finds_planted_near_dups(spark):
    """The planted near-duplicates (text + ' extra') must be recovered."""
    df = ALL_QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in df.collect()}
    planted = {(i, i + 1000000) for i in range(50)}
    found = planted & pairs
    assert len(found) >= 45, f"minhash LSH recall too low: {len(found)}/50"


def test_ann_lsh_recall_against_bruteforce(spark):
    bf = ALL_QUERIES["ann_bruteforce_topk"](spark, SF_DIR).collect()
    lsh = ALL_QUERIES["ann_lsh_topk"](spark, SF_DIR).collect()
    bf_pairs = {(r["query_id"], r["corpus_id"]) for r in bf}
    lsh_pairs = {(r["query_id"], r["corpus_id"]) for r in lsh}
    # LSH with 8 bits on 500 vectors: expect some overlap, full recall not required
    assert lsh_pairs, "LSH returned nothing"
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    assert recall > 0.05, f"suspiciously low LSH recall: {recall}"


def test_ann_ivf_recall_against_bruteforce(spark):
    bf = ALL_QUERIES["ann_bruteforce_topk"](spark, SF_DIR).collect()
    ivf = ALL_QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()
    bf_pairs = {(r["query_id"], r["corpus_id"]) for r in bf}
    ivf_pairs = {(r["query_id"], r["corpus_id"]) for r in ivf}
    assert ivf_pairs, "IVF returned nothing"
    recall = len(bf_pairs & ivf_pairs) / len(bf_pairs)
    # 4/16 lists probed: decent recall expected on clustered synthetic data
    assert recall > 0.3, f"suspiciously low IVF recall: {recall}"


def test_ann_ivf_deterministic(spark):
    a = sorted(map(tuple, ALL_QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, ALL_QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()))
    assert a == b


def test_ann_lsh_random_planes_recall(spark):
    """The production config (random hyperplanes, pruned candidates) keeps
    useful recall vs brute force -- the driver query runs axis planes for
    oracle exactness, so the random-plane family is tested here."""
    from pyspark.sql import functions as F

    from nreadspark.ops.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 8)
    bf = {(r["query_id"], r["corpus_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    lsh = lsh_topk(emb, queries, dim=64, k=5, n_bits=16, n_bands=8, planes="random").collect()
    pairs = {(int(r["query_id"]), int(r["corpus_id"])) for r in lsh}
    bf = {(int(a), int(b)) for a, b in bf}
    assert pairs, "random-plane LSH returned nothing"
    recall = len(bf & pairs) / len(bf)
    assert recall > 0.05, f"suspiciously low random-plane LSH recall: {recall}"


def test_ann_ivf_pruned_probe_recall(spark):
    """n_probe < n_lists (the actual ANN speedup) retains decent recall."""
    from pyspark.sql import functions as F

    from nreadspark.ops.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 8)
    bf = {(int(r["query_id"]), int(r["corpus_id"])) for r in brute_force_topk(emb, queries, k=5).collect()}
    ivf = ivf_topk(emb, queries, dim=64, k=5, n_lists=16, n_probe=4).collect()
    pairs = {(int(r["query_id"]), int(r["corpus_id"])) for r in ivf}
    assert pairs, "pruned IVF returned nothing"
    recall = len(bf & pairs) / len(bf)
    assert recall > 0.3, f"suspiciously low pruned-IVF recall: {recall}"


def test_ivf_build_once_query_many(spark, tmp_path):
    """The build/query split: one ivf_build feeding two ivf_query calls must
    equal two independent ivf_topk runs -- and the index must survive a
    parquet round-trip (write assignments+centroids, read back, same
    results), proving the corpus GEMM pass is paid once and reused."""
    from pyspark.sql import functions as F

    from nreadspark.ops.similarity import IvfIndex, ivf_build, ivf_query, ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q1 = emb.filter(F.col("vec_id") < 4)
    q2 = emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8))

    index = ivf_build(emb, dim=64, n_lists=16)
    for queries in (q1, q2):
        split = sorted(map(tuple, ivf_query(index, queries, k=5, n_probe=4).collect()))
        oneshot = sorted(map(tuple, ivf_topk(emb, queries, dim=64, k=5, n_lists=16, n_probe=4).collect()))
        assert split == oneshot

    # persistence: the index is plain tables; a reloaded index answers the same
    index.assignments.write.partitionBy("list_id").parquet(str(tmp_path / "assign"))
    index.centroids.write.parquet(str(tmp_path / "cents"))
    loaded = IvfIndex(
        assignments=spark.read.parquet(str(tmp_path / "assign")),
        centroids=spark.read.parquet(str(tmp_path / "cents")),
    )
    again = sorted(map(tuple, ivf_query(loaded, q1, k=5, n_probe=4).collect()))
    assert again == sorted(map(tuple, ivf_query(index, q1, k=5, n_probe=4).collect()))


def test_ann_null_and_ragged_vectors_skipped(spark):
    """Null / wrong-length embeddings must be dropped, not fail the stage."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from nreadspark.ops.similarity import ivf_topk, lsh_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).limit(100)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    bad = spark.createDataFrame(
        [(990001, None), (990002, [1.0, 2.0]), (990003, [None] * 64)], schema
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(bad)
    queries = corpus.filter(F.col("vec_id") < 4)
    out_lsh = lsh_topk(corpus, queries, dim=64, k=3).collect()
    out_ivf = ivf_topk(corpus, queries, dim=64, k=3, n_lists=4, n_probe=2).collect()
    bad_ids = {990001, 990002, 990003}
    assert out_lsh and out_ivf
    assert not bad_ids & {int(r["corpus_id"]) for r in out_lsh}
    assert not bad_ids & {int(r["corpus_id"]) for r in out_ivf}


def test_ivf_empty_corpus_raises(spark):
    from nreadspark.ops.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).filter("vec_id < 0")
    with pytest.raises(ValueError, match="non-empty corpus sample"):
        ivf_topk(emb, emb, dim=64, k=3)
