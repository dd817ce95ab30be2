"""SemDeDup-style semantic dedup (ops/dedup.py dedup_semantic): planted
near-identical pairs inside well-separated clusters must be recovered with
no cross-cluster false positives, keep_canonical composes to the surviving
corpus, the hot-cluster star guard stays on the bounded path, and the
refactored LSH verification helper still matches its pre-split behavior."""

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

DIM = 16
SEED = 1234


def _clustered_corpus(n_clusters=5, per_cluster=24, n_dups=6):
    """Deterministic corpus: orthogonal-ish cluster centroids, members =
    centroid + noise small enough that intra-cluster non-dup cosines stay
    well under 0.97, plus n_dups planted near-identical copies per cluster
    (cosine > 0.995 to their source)."""
    rng = np.random.RandomState(SEED)
    cents = rng.randn(n_clusters, DIM)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows, planted = [], []
    vid = 0
    for c in range(n_clusters):
        base_ids = []
        for _ in range(per_cluster):
            v = cents[c] + 0.35 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            base_ids.append(vid)
            vid += 1
        for k in range(n_dups):
            src = base_ids[k]
            v = np.asarray(rows[src][1]) + 0.004 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            planted.append((src, vid))
            vid += 1
    return rows, planted


def test_planted_cluster_recall_and_no_cross_cluster_pairs(spark):
    from nreadspark.ops.dedup import dedup_semantic

    rows, planted = _clustered_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup_semantic(df, dim=DIM, n_lists=5, threshold=0.97, sample_size=256)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    want = {(min(a, b), max(a, b)) for a, b in planted}
    missed = want - got
    assert not missed, f"planted near-dups missed: {missed}"
    # no pair may join two different source clusters (ids are laid out in
    # cluster blocks of 30 = 24 base + 6 dups)
    def cluster_of(vid):
        return vid // 30

    assert all(cluster_of(a) == cluster_of(b) for a, b in got)
    # precision: everything flagged really is cosine >= threshold
    vecs = {i: np.asarray(v) for i, v in rows}
    for a, b in got:
        cos = vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        assert cos >= 0.97 - 1e-6


def test_keep_canonical_composition_drops_duplicate_members(spark):
    from nreadspark.ops.dedup import dedup_semantic, keep_canonical

    rows, planted = _clustered_corpus(n_clusters=3, per_cluster=12, n_dups=4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup_semantic(df, dim=DIM, n_lists=3, threshold=0.97, sample_size=256)
    kept = keep_canonical(df, pairs, id_col="vec_id", src_col="id_a", dst_col="id_b")
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    # every planted duplicate (higher id of its pair) is gone, sources stay
    for src, dup in planted:
        assert src in kept_ids and dup not in kept_ids


def test_oversized_cluster_fails_loudly_by_default(spark):
    """IVF cells are arbitrary spatial partitions: the star path would
    silently drop duplicate pairs whose members are both non-canonical, so
    oversized clusters raise by default with actionable sizing guidance."""
    from nreadspark.ops.dedup import dedup_semantic, release_caches

    rng = np.random.RandomState(7)
    base = rng.randn(DIM)
    base /= np.linalg.norm(base)
    rows = [(i, [float(x) for x in base + 0.002 * rng.randn(DIM)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_bucket_size|n_lists"):
        dedup_semantic(
            df, dim=DIM, n_lists=2, threshold=0.97, sample_size=64, max_cluster_size=16
        )
    release_caches()


def test_hot_cluster_guard_routes_to_star_path(spark):
    """With the explicit on_oversized='star' opt-in, a cluster bigger than
    max_cluster_size still produces pairs (via the broadcast star path)
    without a packed collect_list row."""
    from nreadspark.ops.dedup import dedup_semantic

    rng = np.random.RandomState(7)
    base = rng.randn(DIM)
    base /= np.linalg.norm(base)
    # one giant near-duplicate blob: 80 copies of the same direction
    rows = [(i, [float(x) for x in base + 0.002 * rng.randn(DIM)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup_semantic(
        df, dim=DIM, n_lists=2, threshold=0.97, sample_size=64, max_cluster_size=16,
        on_oversized="star",
    )
    got = pairs.collect()
    # star path: every member pairs with ITS cluster's minimum only ->
    # O(k) pairs total and at most n_lists distinct canonical left ids
    # (k-means may split the near-identical blob across both lists)
    assert 0 < len(got) <= 80
    canons = {r["id_a"] for r in got}
    assert len(canons) <= 2
    assert all(r["id_a"] < r["id_b"] for r in got)
    # O(k), not O(k^2): a packed all-pairs path would emit ~3160 pairs
    assert len(got) < 160


def test_lsh_path_unchanged_by_refactor(spark):
    """embedding_near_duplicates_lsh (now delegating to the shared
    verification helper) must still find planted near-dups end to end."""
    from pyspark.sql import functions as F

    from nreadspark.ops.dedup import embedding_near_duplicates_lsh, release_caches

    rng = np.random.RandomState(99)
    rows = [(i, [float(x) for x in rng.randn(DIM)]) for i in range(60)]
    rows += [(1000 + i, [float(x) for x in np.asarray(rows[i][1]) * 1.01]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_duplicates_lsh(
        df, threshold=0.999, dim=DIM, n_bits=8, n_bands=8
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(i, 1000 + i) for i in range(10)}
    release_caches()


def test_from_index_reuses_built_index_and_matches_one_shot(spark):
    """The build-once path: ivf_build once, then ANN query AND semantic
    dedup off the same index -- pair output must match the one-shot
    dedup_semantic exactly (same centroids: both train on the same
    deterministic sample)."""
    from nreadspark.ops.dedup import dedup_semantic, dedup_semantic_from_index
    from nreadspark.ops.similarity import ivf_build, ivf_query

    rows, planted = _clustered_corpus(n_clusters=3, per_cluster=12, n_dups=4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    index = ivf_build(df, dim=DIM, n_lists=3, sample_size=256)
    via_index = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup_semantic_from_index(index, threshold=0.97).collect()
    )
    one_shot = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup_semantic(df, dim=DIM, n_lists=3, threshold=0.97, sample_size=256).collect()
    )
    assert via_index == one_shot
    assert {(min(a, b), max(a, b)) for a, b in planted} <= set(via_index)
    # the same index still answers ANN queries
    q = df.limit(2)
    hits = ivf_query(index, q, k=3, n_probe=3).count()
    assert hits == 6


def test_n_probe_2_recovers_boundary_pair(spark):
    """The documented n_probe=1 miss case, planted: a near-duplicate pair
    straddling the trained centroid boundary (each member nearest a
    DIFFERENT centroid) is invisible at n_probe=1 and found at n_probe=2;
    away-from-boundary results are unchanged (n_probe=2 is a superset).

    Construction is deterministic: train the same centroids the operator
    will train (placeholder pair on the e0/e1 bisector), then nudge the
    pair off the ACTUAL centroid bisector -- normalize(c0+c1) is exactly
    orthogonal to c0-c1 for unit centroids, so the +/- eps nudge decides
    the assignment sign; a numpy replay of the final corpus asserts the
    split before Spark runs."""
    from nreadspark.ops.dedup import dedup_semantic
    from nreadspark.ops.similarity import _train_ivf_centroids

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for axis in (0, 1):  # two tight bulks around orthogonal axes
        c = np.zeros(DIM)
        c[axis] = 1.0
        for _ in range(40):
            v = c + 0.08 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    ida, idb = vid, vid + 1
    mid = np.zeros(DIM)
    mid[0] = mid[1] = 1 / np.sqrt(2)

    def corpus(a, b):
        return spark.createDataFrame(
            rows + [(ida, [float(x) for x in a]), (idb, [float(x) for x in b])],
            "vec_id long, embedding array<double>",
        )

    # fixed-point placement: the pair's own membership nudges the trained
    # centroids, so re-place it off the RETRAINED bisector until stable --
    # still fully deterministic (no RNG anywhere in the loop)
    a = b = mid
    for _ in range(6):
        C = _train_ivf_centroids(corpus(a, b), 2, 128, "vec_id", "embedding")
        d = C[0] - C[1]
        bis = (C[0] + C[1]) / np.linalg.norm(C[0] + C[1])
        a2 = bis + 0.015 * d
        b2 = bis - 0.015 * d
        a2 /= np.linalg.norm(a2)
        b2 /= np.linalg.norm(b2)
        if np.allclose(a2, a, atol=1e-9) and np.allclose(b2, b, atol=1e-9):
            break
        a, b = a2, b2
    assert float(a @ b) >= 0.9988  # genuinely near-identical

    df = corpus(a, b)
    # deterministic replay: the FINAL corpus's trained centroids must
    # split the pair (the construction premise, asserted not assumed)
    C2 = _train_ivf_centroids(df, 2, 128, "vec_id", "embedding")
    assert int(np.argmax(C2 @ a)) != int(np.argmax(C2 @ b))

    kw = dict(dim=DIM, n_lists=2, threshold=0.998, sample_size=128,
              max_cluster_size=256)
    p1 = {(r["id_a"], r["id_b"]) for r in dedup_semantic(df, **kw).collect()}
    p2 = {(r["id_a"], r["id_b"]) for r in
          dedup_semantic(df, n_probe=2, **kw).collect()}
    assert (ida, idb) not in p1  # the documented miss, reproduced
    assert (ida, idb) in p2      # closed by the second probe
    assert p1 <= p2              # superset: nothing regresses


def test_n_probe_2_from_prebuilt_index_matches_one_shot(spark):
    from nreadspark.ops.dedup import dedup_semantic, dedup_semantic_from_index
    from nreadspark.ops.similarity import ivf_build

    rows, _ = _clustered_corpus(n_clusters=3, per_cluster=16, n_dups=4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one_shot = dedup_semantic(
        df, dim=DIM, n_lists=3, threshold=0.97, sample_size=128,
        max_cluster_size=256, n_probe=2,
    )
    idx = ivf_build(df, DIM, n_lists=3, sample_size=128)
    reused = dedup_semantic_from_index(
        idx, threshold=0.97, max_cluster_size=256, n_probe=2
    )
    assert sorted(map(tuple, one_shot.collect())) == sorted(map(tuple, reused.collect()))
