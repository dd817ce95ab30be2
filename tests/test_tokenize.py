"""Byte-level BPE (ops/tokenize.py) + token-budget chunking/packing
(ops/chunking.py unit/budget_unit modes): trainer determinism, encoder
round-trip, Spark counting kernel vs the pure-python reference, and the
word-vs-token shard-size divergence that motivates token budgets."""

import pytest

pyspark = pytest.importorskip("pyspark")


TRAIN = [
    "the lower the newer the lowest level, the newest level.",
    "wider windows lower the newest lowest widest levels.",
    "low lower lowest; new newer newest!",
] * 3


def test_train_bpe_deterministic_and_ordered():
    from nreadspark.ops.tokenize import train_bpe

    m1 = train_bpe(TRAIN, n_merges=40)
    m2 = train_bpe(list(TRAIN), n_merges=40)
    assert m1 == m2 and len(m1) > 10
    # every merge joins two previously-constructible tokens
    known = {bytes([b]) for b in range(256)}
    for a, b in m1:
        assert a in known and b in known
        known.add(a + b)


def test_bpe_encode_round_trips_and_compresses():
    from nreadspark.ops.tokenize import bpe_encode, train_bpe

    merges = train_bpe(TRAIN, n_merges=60)
    for text in TRAIN + ["lowest newest", "", "zzz unseen bytes éé"]:
        toks = bpe_encode(text, merges)
        # byte-level: concatenated tokens == the utf-8 bytes of the regex
        # pieces (whitespace is not content at this layer)
        import re

        from nreadspark.ops.tokenize import _TOKEN_RE

        assert b"".join(toks) == "".join(_TOKEN_RE.findall(text)).encode("utf-8")
    # trained merges actually compress in-domain text
    toks = bpe_encode("the lowest newest level", merges)
    raw_bytes = len("thelowestnewestlevel".encode())
    assert len(toks) < raw_bytes


def test_bpe_merge_order_is_rank_greedy():
    """Inference must apply the LOWEST-RANK merge first, not left-to-right:
    with merges [(l,o), (lo,w)], 'low' becomes [low], and with only (o,w)
    ranked first the l never joins."""
    from nreadspark.ops.tokenize import bpe_encode

    assert bpe_encode("low", [(b"l", b"o"), (b"lo", b"w")]) == [b"low"]
    assert bpe_encode("low", [(b"o", b"w"), (b"l", b"ow")]) == [b"low"]
    assert bpe_encode("low", [(b"l", b"o")]) == [b"lo", b"w"]


def test_count_tokens_bpe_matches_reference(spark):
    from nreadspark.ops.tokenize import bpe_encode, count_tokens_bpe, train_bpe

    merges = train_bpe(TRAIN, n_merges=60)
    rows = [(i, t) for i, t in enumerate(TRAIN)] + [(99, ""), (100, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_tokens"] for r in count_tokens_bpe(df, merges).collect()}
    for i, t in rows:
        assert got[i] == len(bpe_encode(t or "", merges))


def test_est_bpe_estimator_tracks_real_bpe_rate(spark):
    """The closed-form ceil(len/4) estimator must land in the right regime
    (same order, within 2x) of a trained BPE on in-domain text -- it is a
    budget heuristic, not a tokenizer."""
    from pyspark.sql import functions as F

    from nreadspark.ops.tokenize import bpe_encode, est_bpe_tokens_col, train_bpe

    merges = train_bpe(TRAIN, n_merges=60)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRAIN)], "doc_id long, text string")
    est = {r["doc_id"]: r["est"] for r in df.select("doc_id", est_bpe_tokens_col("text").alias("est")).collect()}
    for i, t in enumerate(TRAIN):
        real = len(bpe_encode(t, merges))
        assert real / 2 <= est[i] <= real * 2


def test_chunk_documents_token_mode_counts_punctuation(spark):
    from nreadspark.ops.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "alpha, beta, gamma. delta epsilon!")], "doc_id long, text string"
    )
    words = chunk_documents(df, max_words=10, overlap=0).collect()
    toks = chunk_documents(df, max_words=10, overlap=0, unit="tokens").collect()
    assert words[0]["n_words"] == 5
    # 5 word runs + 4 punctuation marks
    assert toks[0]["n_tokens"] == 9
    assert toks[0]["chunk_text"] == "alpha , beta , gamma . delta epsilon !"


def test_token_window_coverage(spark):
    """Token-mode windows cover every token with the configured overlap,
    mirroring the word-mode contract."""
    from nreadspark.ops.chunking import chunk_documents

    text = " ".join(f"t{i}," for i in range(30))  # 60 tokens (word + comma)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, max_words=16, overlap=4, unit="tokens").collect(),
        key=lambda r: r["chunk_id"],
    )
    # stride 12: starts 1,13,25,37,49 -> last window reaches token 60
    assert [r["chunk_id"] for r in out] == [0, 1, 2, 3, 4]
    assert out[-1]["n_tokens"] == 12  # 60 - 49 + 1
    rebuilt = out[0]["chunk_text"].split(" ")
    assert len(rebuilt) == 16


def test_word_vs_token_budgets_diverge_in_shard_sizes(spark):
    """The reason token budgets exist: on punctuated text with long words,
    word-budget shards pack far more REAL tokens than the budget says --
    the est_bpe mode packs to the token rate instead."""
    from pyspark.sql import functions as F

    from nreadspark.ops.chunking import pack_shards

    # punctuation-heavy, long-word text: ~2 tokens and ~4+ est-bpe tokens
    # per whitespace word
    rows = [
        (i, " ".join(f"hyperparameterization{j}," for j in range(40)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def n_shards(out):
        return out.select("bucket", "shard_id").distinct().count()

    words = pack_shards(df, words_per_shard=500, n_buckets=4)
    est = pack_shards(df, words_per_shard=500, n_buckets=4, budget_unit="est_bpe")
    toks = pack_shards(df, words_per_shard=500, n_buckets=4, budget_unit="tokens")
    nw, nt, ne = n_shards(words), n_shards(toks), n_shards(est)
    # same budget number, very different shard counts: the word mode
    # under-counts cost by >=2x here
    assert nt >= 2 * nw - 4
    assert ne > nt  # subword estimate is denser still (len 22 words -> 6 est)
    # per-shard REAL token mass under word budgeting blows past the budget
    total_tokens = df.select(
        F.sum(F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)))
    ).collect()[0][0]
    # (1.7x not 2x: bucket boundaries fragment shards, diluting the
    # per-shard average below the pure 2x token/word rate)
    assert total_tokens / max(nw, 1) > 1.7 * 500


def test_pack_shards_size_col_exact_budget(spark):
    """The production path: precomputed exact token counts (e.g. from
    count_tokens_bpe) drive the packing via size_col."""
    from nreadspark.ops.chunking import pack_shards
    from nreadspark.ops.tokenize import count_tokens_bpe, train_bpe

    merges = train_bpe(TRAIN, n_merges=40)
    df = spark.createDataFrame(
        [(i, TRAIN[i % len(TRAIN)]) for i in range(30)], "doc_id long, text string"
    )
    counted = df.join(count_tokens_bpe(df, merges), "doc_id")
    out = pack_shards(counted, words_per_shard=64, n_buckets=2, size_col="bpe_tokens")
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == set(range(30))
    # n_units carries the exact counts through
    got = {r["doc_id"]: r["n_units"] for r in rows}
    ref = {r["doc_id"]: r["bpe_tokens"] for r in counted.collect()}
    assert got == ref


def test_pack_shards_rejects_unknown_budget_unit(spark):
    from nreadspark.ops.chunking import pack_shards

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget_unit"):
        pack_shards(df, budget_unit="chars")
    with pytest.raises(ValueError, match="unit"):
        from nreadspark.ops.chunking import chunk_documents

        chunk_documents(df, unit="bytes")


def test_null_text_costs_zero_in_every_budget(spark):
    """NULL documents cost 0 units in all pack_shards budgets (F.size of a
    null array is -1; the est aggregate is NULL) -- matching both the SQL
    twins and the real encoder, which counts 0 tokens for None."""
    from pyspark.sql import functions as F

    from nreadspark.ops.chunking import pack_shards
    from nreadspark.ops.tokenize import est_bpe_tokens_col

    df = spark.createDataFrame([(1, None), (2, "two words")], "doc_id long, text string")
    assert df.select(est_bpe_tokens_col("text")).collect()[0][0] == 0
    for unit, col in (("words", "n_words"), ("tokens", "n_units"), ("est_bpe", "n_units")):
        out = {r["doc_id"]: r[col] for r in
               pack_shards(df, words_per_shard=10, n_buckets=2, budget_unit=unit).collect()}
        assert out[1] == 0 and out[2] > 0


# ---------------------------------------------------------------------------
# public merges-file format parity + native-tokenizer hook (round 6)
# ---------------------------------------------------------------------------

import os

_MERGES_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "gpt2_style.merges.txt"
)


def test_gpt2_byte_alphabet_is_the_public_mapping():
    """Spot-check the published bytes_to_unicode table: printable ASCII
    maps to itself, space becomes Ġ (chr 288), newline Ċ (chr 266),
    0xC3/0xA9 keep their Latin-1 codepoints."""
    from nreadspark.ops.tokenize import gpt2_byte_decoder

    dec = gpt2_byte_decoder()
    assert len(dec) == 256 and len(set(dec.values())) == 256
    assert dec["A"] == ord("A") and dec["!"] == ord("!") and dec["~"] == ord("~")
    assert dec[chr(288)] == 0x20  # 'Ġ' -- the leading-space symbol
    assert dec[chr(266)] == 0x0A  # 'Ċ' -- newline
    assert dec["Ã"] == 0xC3 and dec["©"] == 0xA9
    assert dec[chr(256)] == 0x00  # first remapped byte


def test_load_gpt2_merges_parses_the_public_format():
    from nreadspark.ops.tokenize import load_gpt2_merges

    merges = load_gpt2_merges(_MERGES_FIXTURE)
    assert merges[0] == (b"h", b"e")
    assert merges[2] == (b"he", b"ll")
    assert merges[6] == (b"\xc3", b"\xa9")  # 'Ã ©' -> the é byte pair
    assert merges[9] == (b"caf", b"\xc3\xa9")
    assert merges[10] == (b" ", b"t")  # 'Ġ t' -> leading-space merge
    # iterable-of-lines source and path source agree
    with open(_MERGES_FIXTURE, encoding="utf-8") as fh:
        assert load_gpt2_merges(fh) == merges
    import pytest as _pytest

    with _pytest.raises(ValueError, match="malformed"):
        load_gpt2_merges(["a b c"])
    with _pytest.raises(ValueError, match="alphabet"):
        load_gpt2_merges([chr(0x1F600) + " x"])


# token counts hand-derived by rank-order BPE over the fixture merges
# (pre-tokenizer: TOKEN_PATTERN word/punct pieces)
_PARITY_VECTORS = [
    ("hello", ["hell", "o"]),
    ("world", ["wor", "ld"]),
    ("hello world", ["hell", "o", "wor", "ld"]),
    ("held!", ["he", "ld", "!"]),
    ("café", ["café"]),
    ("cafe", ["caf", "e"]),
    ("xyz", ["x", "y", "z"]),
    ("", []),
]


def test_bpe_encode_matches_precomputed_vectors():
    """Exact token-sequence parity against hand-derived vectors under the
    vendored public-format merges -- the proof that a production merges
    file drives bpe_encode / count_tokens_bpe faithfully."""
    from nreadspark.ops.tokenize import bpe_encode, load_gpt2_merges

    merges = load_gpt2_merges(_MERGES_FIXTURE)
    for text, want in _PARITY_VECTORS:
        got = bpe_encode(text, merges)
        assert got == [w.encode("utf-8") for w in want], text
        assert b"".join(got).decode("utf-8") == text.replace(" ", "")


def test_count_tokens_vendored_merges_end_to_end(spark):
    """pack_shards(size_col=...) budgets REAL vendored-tokenizer counts:
    merges fixture -> count_tokens_bpe -> exact n_units through packing."""
    from nreadspark.ops.chunking import pack_shards
    from nreadspark.ops.tokenize import count_tokens_bpe, load_gpt2_merges

    merges = load_gpt2_merges(_MERGES_FIXTURE)
    rows = [(i, t) for i, (t, _) in enumerate(_PARITY_VECTORS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_tokens"] for r in count_tokens_bpe(df, merges).collect()}
    assert got == {i: len(v) for i, (_, v) in enumerate(_PARITY_VECTORS)}
    packed = pack_shards(
        df.join(count_tokens_bpe(df, merges), "doc_id"),
        words_per_shard=4, n_buckets=2, size_col="bpe_tokens",
    )
    units = {r["doc_id"]: r["n_units"] for r in packed.collect()}
    assert units == got


def test_native_tokenizer_hook(spark):
    from nreadspark.ops.tokenize import count_tokens_bpe

    # stands in for tiktoken/HF: deterministic batch counts (non-space
    # chars) -- nested so cloudpickle ships it by value, the same way a
    # user-defined wrapper around a native tokenizer would travel
    def fake_native_tokenizer(texts):
        return [len(t.replace(" ", "")) for t in texts]

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["bpe_tokens"] for r in
           count_tokens_bpe(df, tokenizer_fn=fake_native_tokenizer).collect()}
    assert got == {1: 10, 2: 0, 3: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="merges table"):
        count_tokens_bpe(df)
