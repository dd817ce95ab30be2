"""Chunking + shard packing: sliding-window chunk contract (coverage,
overlap, final short chunk, empty docs), greedy shard budget packing
(running-offset assignment, determinism under repartitioning)."""

import pytest

pyspark = pytest.importorskip("pyspark")


def test_chunk_windows_cover_and_overlap(spark):
    from nreadspark.ops.chunking import chunk_documents

    words = [f"w{i}" for i in range(100)]
    df = spark.createDataFrame([("d", " ".join(words))], "doc_id string, text string")
    out = sorted(
        chunk_documents(df, max_words=40, overlap=10).collect(),
        key=lambda r: r["chunk_id"],
    )
    # stride 30 over 100 words, starts stop at n - overlap = 90 ->
    # starts 1, 31, 61: a start-91 window (words 91-100) would be fully
    # contained in the start-61 chunk and must NOT be emitted
    assert [r["chunk_id"] for r in out] == [0, 1, 2]
    chunks = [r["chunk_text"].split(" ") for r in out]
    assert chunks[0] == words[0:40]
    assert chunks[1] == words[30:70]   # 10-word overlap with chunk 0
    assert chunks[2] == words[60:100]  # reaches the document end
    assert [r["n_words"] for r in out] == [40, 40, 40]
    # every word appears in at least one chunk (coverage)
    assert set(words) == {w for c in chunks for w in c}

    # a window-sized doc yields exactly ONE chunk (the old stop condition
    # emitted a redundant tail chunk here)
    one = chunk_documents(
        spark.createDataFrame(
            [("d", " ".join(words[:40]))], "doc_id string, text string"
        ),
        max_words=40,
        overlap=10,
    ).collect()
    assert len(one) == 1 and one[0]["n_words"] == 40


def test_chunk_empty_and_short_docs(spark):
    from nreadspark.ops.chunking import chunk_documents

    df = spark.createDataFrame(
        [("empty", ""), ("ws", "   "), ("short", "just three words")],
        "doc_id string, text string",
    )
    out = chunk_documents(df, max_words=64, overlap=16).collect()
    assert {r["doc_id"] for r in out} == {"short"}  # no rows for empty docs
    assert out[0]["chunk_text"] == "just three words" and out[0]["n_words"] == 3


def test_chunk_rejects_bad_overlap(spark):
    from nreadspark.ops.chunking import chunk_documents

    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_words=16, overlap=16)


def test_pack_shards_budget_and_determinism(spark):
    from pyspark.sql import functions as F

    from nreadspark.ops.chunking import pack_shards

    # 50 docs x 100 words, one bucket -> shards of exactly 5 docs (500-word
    # budget, doc starts at multiples of 100)
    rows = [(f"{i:03d}", " ".join(["w"] * 100)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_shards(df, words_per_shard=500, n_buckets=1).collect()
    by_shard: dict = {}
    for r in out:
        assert r["bucket"] == 0 and r["n_words"] == 100
        by_shard.setdefault(r["shard_id"], []).append(r["doc_id"])
    assert {len(v) for v in by_shard.values()} == {5}
    assert sorted(by_shard) == list(range(10))
    # packing follows doc_id order within the bucket
    assert sorted(by_shard[0]) == [f"{i:03d}" for i in range(5)]

    # determinism: partitioning of the input must not change assignments
    again = pack_shards(df.repartition(7), words_per_shard=500, n_buckets=1).collect()
    assert {(r["doc_id"], r["shard_id"]) for r in again} == {
        (r["doc_id"], r["shard_id"]) for r in out
    }

    # greedy overflow contract: a doc STARTING inside a shard's budget
    # belongs to it even if it overflows the budget
    mixed = spark.createDataFrame(
        [("a", " ".join(["w"] * 400)), ("b", " ".join(["w"] * 400)), ("c", "w w")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r["shard_id"] for r in pack_shards(mixed, words_per_shard=500, n_buckets=1).collect()}
    assert got == {"a": 0, "b": 0, "c": 1}  # b starts at offset 400 < 500


def test_pack_shards_md5_mode_buckets(spark):
    """md5 bucket mode is the oracle-portable twin; buckets must spread."""
    from nreadspark.ops.chunking import pack_shards

    rows = [(str(i), "some words here") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_shards(df, words_per_shard=50, n_buckets=8, hash_fn="md5").collect()
    buckets = {r["bucket"] for r in out}
    assert buckets <= set(range(8)) and len(buckets) == 8


def test_chunking_matches_python_reference_on_random_docs(spark):
    """Randomized cross-check: the JVM higher-order-function chunker must
    agree with an independent pure-Python reference on documents of random
    lengths (incl. n < max_words, n == stride multiples, n == 0) across
    several (max_words, overlap) shapes."""
    import random

    from nreadspark.ops.chunking import chunk_documents

    rng = random.Random(42)
    docs = []
    for i in range(40):
        n = rng.choice([0, 1, 2, rng.randrange(3, 150)])
        docs.append((f"d{i:02d}", " ".join(f"t{i}_{j}" for j in range(n))))
    df = spark.createDataFrame(docs, "doc_id string, text string")

    def reference(text, max_words, overlap):
        words = text.split()
        if not words:
            return set()  # contract: empty docs produce no rows
        stride = max_words - overlap
        # starts stop at n - overlap (0-based: max(n - overlap, 1)) so no
        # window is fully contained in its predecessor
        return {
            (k, " ".join(words[s : s + max_words]))
            for k, s in enumerate(range(0, max(len(words) - overlap, 1), stride))
        }

    for max_words, overlap in [(64, 16), (10, 3), (5, 0)]:
        got: dict = {}
        for r in chunk_documents(df, max_words=max_words, overlap=overlap).collect():
            got.setdefault(r["doc_id"], set()).add((r["chunk_id"], r["chunk_text"]))
            assert r["n_words"] == len(r["chunk_text"].split())
        for doc_id, text in docs:
            expected = reference(text, max_words, overlap)
            assert got.get(doc_id, set()) == expected, (doc_id, max_words, overlap)


def test_chunking_whitespace_edges_and_negative_overlap(spark):
    """Tab/newline-edged text must not grow phantom empty 'words': a
    "\\n"-only doc emits no rows, a newline-terminated doc counts its real
    words, and chunk_text never carries trailing separators.  Negative
    overlap (which would silently skip words between windows) is rejected."""
    from nreadspark.ops.chunking import chunk_documents, pack_shards

    df = spark.createDataFrame(
        [("nl", "\n"), ("tabbed", "\thello\tworld\n"), ("crlf", "one two\r\n")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in chunk_documents(df, max_words=64, overlap=16).collect()}
    assert set(out) == {"tabbed", "crlf"}  # whitespace-only doc: no rows
    assert out["tabbed"]["chunk_text"] == "hello world" and out["tabbed"]["n_words"] == 2
    assert out["crlf"]["chunk_text"] == "one two" and out["crlf"]["n_words"] == 2

    packed = {r["doc_id"]: r["n_words"] for r in pack_shards(df, n_buckets=1).collect()}
    assert packed == {"nl": 0, "tabbed": 2, "crlf": 2}

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_words=10, overlap=-10)


def test_pack_shards_rejects_unknown_hash_fn(spark):
    """A hash_fn typo ('MD5', 'xxHash') must raise, not silently fall back
    to xxhash64 and change every bucket/shard assignment."""
    from nreadspark.ops.chunking import pack_shards

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in ("MD5", "xxHash", "sha1"):
        with pytest.raises(ValueError, match="hash_fn"):
            pack_shards(docs, hash_fn=bad)


# ---------------------------------------------------------------------------
# sentence segmentation
# ---------------------------------------------------------------------------


def test_split_sentences_semantics(spark):
    from nreadspark.ops.chunking import split_sentences

    rows = [
        (0, "Alpha beta. Gamma delta! Epsilon?  Zeta eta"),
        (1, "No terminator at all"),
        (2, "Multi!!! Wow... right?!"),
        (3, "... . !"),       # bare terminator runs: nothing extractable
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in split_sentences(df).collect():
        got.setdefault(r["doc_id"], []).append((r["sentence_id"], r["sentence"]))
    for v in got.values():
        v.sort()
    assert got[0] == [
        (0, "Alpha beta."),
        (1, "Gamma delta!"),
        (2, "Epsilon?"),
        (3, "Zeta eta"),
    ]
    assert got[1] == [(0, "No terminator at all")]
    # terminator RUNS stay attached to their sentence
    assert got[2] == [(0, "Multi!!!"), (1, "Wow..."), (2, "right?!")]
    # bare terminators, empty and NULL docs produce no rows
    assert 3 not in got and 4 not in got and 5 not in got


def test_split_sentences_plan_zero_shuffle(spark):
    from nreadspark.ops.chunking import split_sentences

    df = spark.createDataFrame([(1, "a. b.")], "doc_id long, text string")
    plan = split_sentences(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_chunk_documents_by_sentences(spark):
    from nreadspark.ops.chunking import chunk_documents

    text = "One one. Two two! Three three? Four four. Five five."
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    out = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_units"])
        for r in chunk_documents(df, max_words=2, overlap=0, unit="sentences").collect()
    )
    assert out == [
        (0, "One one. Two two!", 2),
        (1, "Three three? Four four.", 2),
        (2, "Five five.", 1),
    ]
