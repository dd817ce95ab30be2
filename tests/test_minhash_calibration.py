"""MinHash LSH (n_hashes, n_bands) -> recall calibration locks.

Two jobs: (1) map the parameter space so production callers don't ship the
oracle-friendly defaults blind (the COVERAGE.md table); (2) regression-lock
the signature-independence fix -- the old `mod 2^61-1` permutation family
was piecewise-monotonic over the 31-bit base hashes, correlating all
signature rows, which made recall config-INSENSITIVE (~0.82 at s=0.7 for
every banding).  These tests fail against that build: they assert the
configs separate exactly as the banding formula `1-(1-J^r)^b` predicts.
"""

import pytest

pyspark = pytest.importorskip("pyspark")

N_PAIRS = 60
WORDS = 60
# shared 3-shingles m out of 58 per doc -> pair Jaccard m/(116-m)
SHARED = {0.7: 48, 0.8: 52, 0.9: 55}


@pytest.fixture(scope="module")
def planted(spark):
    """(df, truth): per similarity level, the planted (a, b, exact shingle
    Jaccard) pairs.  Pair vocabularies are disjoint, so cross-pair
    candidates are impossible and recall is exact."""
    rows, truth, doc_id = [], {}, 0
    for s, shared in SHARED.items():
        m = shared + 2
        for p in range(N_PAIRS):
            tag = f"s{int(s * 10)}p{p}"
            base = [f"{tag}w{i}" for i in range(WORDS)]
            alt = base[:m] + [f"{tag}x{i}" for i in range(m, WORDS)]

            def sh(ws):
                return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

            j = len(sh(base) & sh(alt)) / len(sh(base) | sh(alt))
            rows.append((doc_id, " ".join(base)))
            rows.append((doc_id + 1, " ".join(alt)))
            truth.setdefault(s, []).append((doc_id, doc_id + 1, j))
            doc_id += 2
    df = spark.createDataFrame(rows, "doc_id bigint, text string").cache()
    df.count()
    yield df, truth
    df.unpersist()


def _recall(df, truth, s, n_hashes, n_bands):
    from nreadspark.ops.dedup import minhash_lsh_candidates, release_caches

    cand = minhash_lsh_candidates(
        df, n_hashes=n_hashes, n_bands=n_bands, max_bucket_size=None
    )
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in cand.collect()}
    release_caches()
    return sum(1 for a, b, _ in truth[s] if (a, b) in got) / N_PAIRS


def _theory(truth, s, n_hashes, n_bands):
    r = n_hashes // n_bands
    return sum(1 - (1 - j**r) ** n_bands for _, _, j in truth[s]) / N_PAIRS


@pytest.mark.parametrize(
    "n_hashes,n_bands,s",
    [
        (16, 4, 0.7), (16, 4, 0.9),
        (16, 8, 0.7),
        (32, 4, 0.7), (32, 4, 0.9),
        (64, 16, 0.7),
    ],
)
def test_recall_tracks_banding_formula(planted, n_hashes, n_bands, s):
    """Measured recall within +-0.17 of the formula at the pairs' exact
    shingle Jaccard (60 Bernoulli trials -> ~3 sigma at worst-case p)."""
    df, truth = planted
    measured = _recall(df, truth, s, n_hashes, n_bands)
    expected = _theory(truth, s, n_hashes, n_bands)
    assert abs(measured - expected) <= 0.17, (
        f"{n_hashes}/{n_bands} @ s={s}: measured {measured:.2f} vs theory {expected:.2f}"
    )


def test_configs_separate(planted):
    """The independence property itself: at s=0.7 more bands must buy real
    recall and r=8 must cost real recall -- a correlated-signature build
    collapses all three to the same number."""
    df, truth = planted
    low = _recall(df, truth, 0.7, 32, 4)     # r=8: theory ~0.22
    mid = _recall(df, truth, 0.7, 16, 4)     # r=4: theory ~0.68
    high = _recall(df, truth, 0.7, 16, 8)    # r=2: theory ~1.00
    assert low < mid < high
    assert high >= 0.95
    assert low <= 0.55
