"""Scoped persisted-intermediate registry (ops/dedup.py): release_caches()
must drain only the calling thread's current cache_scope, so a composite
job's internal release calls can never unpersist frames registered by a
co-resident caller (bench loop, notebook) in the same session."""

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("cache-scope-tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_inner_scope_release_leaves_outer_persists_alone(spark):
    from nreadspark.ops.dedup import _persist, cache_scope, release_caches

    outer = _persist(spark.range(10))
    outer.count()
    assert _is_cached(outer)

    with cache_scope():
        inner = _persist(spark.range(20))
        inner.count()
        assert _is_cached(inner)
        # an inner release (what curate_resumable does between stages) must
        # not touch the outer caller's registered frame
        assert release_caches() == 1
        assert not _is_cached(inner)
        assert _is_cached(outer)

    # draining the default scope still works
    assert release_caches() == 1
    assert not _is_cached(outer)


def test_scope_exit_releases_unreleased_persists(spark):
    from nreadspark.ops.dedup import _persist, cache_scope, release_caches

    with cache_scope():
        inner = _persist(spark.range(30))
        inner.count()
        assert _is_cached(inner)
    # scope exit auto-drains whatever the block did not release itself
    assert not _is_cached(inner)
    # and nothing leaked into the default scope
    assert release_caches() == 0


def test_scopes_are_thread_local(spark):
    """Two threads persisting concurrently never see each other's registry:
    a release on thread A must not unpersist thread B's frame."""
    import threading

    from nreadspark.ops.dedup import _persist, release_caches

    b_frame = {}
    b_registered = threading.Event()
    a_released = threading.Event()

    def thread_b():
        df = _persist(spark.range(40))
        df.count()
        b_frame["df"] = df
        b_registered.set()
        a_released.wait(timeout=30)
        # A's release must not have drained B's (thread-local) registry
        assert release_caches() == 1

    t = threading.Thread(target=thread_b)
    t.start()
    b_registered.wait(timeout=30)
    assert release_caches() == 0  # thread A registered nothing
    assert _is_cached(b_frame["df"])
    a_released.set()
    t.join(timeout=30)
    assert not _is_cached(b_frame["df"])


def test_curate_internal_releases_do_not_drain_caller_cache(spark, tmp_path):
    """The end-to-end guarantee the scoping exists for: curate_resumable's
    internal release_caches() calls leave a caller's pre-registered frame
    cached."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
    )
    from curate import curate_resumable

    from nreadspark.ops.dedup import _persist, release_caches

    mine = _persist(spark.range(50))
    mine.count()

    docs = spark.createDataFrame(
        [("1", "a perfectly reasonable sentence, with some words, ending well."),
         ("2", "another quite reasonable sentence, with other words, also ends.")],
        "doc_id string, text string",
    )
    curate_resumable(spark, docs, str(tmp_path / "out"), min_words=3, n_buckets=2)

    assert _is_cached(mine)
    assert release_caches() == 1


def test_release_all_caches_reaches_other_threads_scopes(spark):
    """A worker thread that persists and exits without draining leaves its
    frames invisible to other threads' release_caches(); the
    release_all_caches() teardown hook must still free them."""
    import threading

    from nreadspark.ops.dedup import _persist, release_all_caches, release_caches

    leaked = {}

    def worker():
        df = _persist(spark.range(60))
        df.count()
        leaked["df"] = df  # exits WITHOUT releasing

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=30)
    assert _is_cached(leaked["df"])
    assert release_caches() == 0  # invisible to this thread's scope
    assert release_all_caches() >= 1
    assert not _is_cached(leaked["df"])


def test_colmemo_memoizes_and_evicts(spark):
    """memo_cols returns the SAME Column object for a key within one
    SparkContext and rebuilds after the app id changes (stale py4j refs
    must never be served across a relaunch -- ADVICE r7 rule)."""
    from pyspark.sql import functions as F

    from nreadspark import colmemo

    calls = []

    def build():
        calls.append(1)
        return F.lit(42)

    a = colmemo.memo_cols(("t_memo",), build)
    b = colmemo.memo_cols(("t_memo",), build)
    assert a is b and len(calls) == 1
    # simulate a relaunched context by forging a stale entry: it must be
    # evicted when a different app id builds
    stale_key = ("app-gone", "t_stale")
    colmemo._MEMO[stale_key] = "stale"
    colmemo.memo_cols(("t_other",), build)
    assert stale_key not in colmemo._MEMO

    # racing first builds of one key (each sweeping stale entries while
    # the others insert) raise nothing and all get the same object
    import sys
    import threading
    import time

    def slow_build():
        time.sleep(0.05)  # a py4j-bound build: every racer misses the memo
        return F.lit(42)

    colmemo._MEMO[("app-gone", "t_race_stale")] = "stale"
    start = threading.Barrier(8)
    got, errors = [], []

    def race():
        try:
            start.wait(timeout=30)
            got.append(colmemo.memo_cols(("t_race",), slow_build))
        except Exception as exc:  # pragma: no cover - the failure mode
            errors.append(exc)

    threads = [threading.Thread(target=race) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == 8
    assert all(g is got[0] for g in got)
