"""Deterministic byte-level BPE tokenization for token-budgeted pipelines.

Word counts drift 20-40 % from BPE token counts on web text, so shards
packed with word budgets mis-size real training batches.  Three tiers,
fastest to most faithful:

* ``TOKEN_PATTERN`` pieces ("tokens" unit in :mod:`.chunking`): the regex
  pre-tokenizer (word runs + single punctuation), pure JVM/SQL.
* ``est_bpe_tokens_col``: closed-form BPE-rate estimate -- each regex
  piece costs ``ceil(len/4)`` subword tokens (the ~4-chars-per-token rate
  of byte-level BPE vocabularies on English web text).  Pure JVM
  expression with an exact SQL twin, so the driver oracle checks it.
* :func:`train_bpe` / :func:`bpe_encode` / :func:`count_tokens_bpe`: a
  real byte-level BPE (Sennrich et al. 2016 merge training; byte-level
  alphabet and greedy lowest-rank merge application as in the public
  GPT-2 tokenizer design).  Deterministic (count-then-lexicographic tie
  break), vendorable (merge tables are plain ``(bytes, bytes)`` lists --
  load a production tokenizer's merges file to match it exactly), and
  applied in Spark as one broadcast + ``mapInArrow`` pass.

Scale note: real BPE encoding is per-piece Python -- production pipelines
run a native tokenizer; what matters at 100 TB is the SHAPE (merge table
broadcast once, Arrow-batched map pass, counts as plain columns that
:func:`..chunking.pack_shards` budgets on via ``size_col``), which is
exactly what a native implementation drops into.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..pipeline import map_batches
from .textstats import TOKEN_PATTERN

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def est_bpe_tokens_col(text_col: str):
    """Closed-form BPE-rate token estimate as a JVM column expression:
    ``sum over regex pieces of ceil(len(piece)/4)``.  SQL twin:
    ``list_sum(list_transform(regexp_extract_all(text, ...),
    t -> ceil(length(t)/4.0)))``."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0)
    # coalesce: NULL text -> NULL piece array -> NULL aggregate; a null
    # document costs 0 tokens (matching the SQL twin's COALESCE and the
    # real encoder, which counts 0 tokens for None)
    return F.coalesce(
        F.aggregate(
            pieces,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )


def _merge_word(word: tuple, pair: tuple) -> tuple:
    """Replace every (non-overlapping, left-to-right) occurrence of
    ``pair`` in ``word`` with the concatenated token."""
    merged = pair[0] + pair[1]
    out = []
    i = 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == pair[0] and word[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def train_bpe(texts, n_merges: int = 256) -> list[tuple[bytes, bytes]]:
    """Train a byte-level BPE merge table (Sennrich et al. 2016): start
    from single bytes of the UTF-8 encoding of each regex piece, repeatedly
    merge the most frequent adjacent pair.  Fully deterministic: ties break
    on the lexicographically smallest pair; merging stops when no pair
    occurs twice.  Driver-side -- train on a bounded sample, never the
    corpus (the merge table is the model; KBs)."""
    from collections import Counter

    words: Counter = Counter()
    for t in texts:
        for piece in _TOKEN_RE.findall(t or ""):
            words[tuple(bytes([b]) for b in piece.encode("utf-8"))] += 1

    merges: list[tuple[bytes, bytes]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, c in words.items():
            for i in range(len(w) - 1):
                pairs[(w[i], w[i + 1])] += c
        if not pairs:
            break
        best, best_count = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_count < 2:
            break
        merges.append(best)
        rebuilt: Counter = Counter()
        for w, c in words.items():
            rebuilt[_merge_word(w, best)] += c
        words = rebuilt
    return merges


def bpe_encode(text: str, merges: list[tuple[bytes, bytes]]) -> list[bytes]:
    """Encode ``text`` with a trained merge table: per regex piece, start
    from single bytes and repeatedly apply the LOWEST-RANK applicable merge
    (the standard BPE inference order -- rank order, not text order) until
    none applies.  Returns the token list; ``b''.join(tokens)`` always
    round-trips the UTF-8 bytes of the concatenated pieces (byte-level BPE
    never loses content)."""
    ranks = {pair: r for r, pair in enumerate(merges)}
    out: list[bytes] = []
    for piece in _TOKEN_RE.findall(text or ""):
        word = [bytes([b]) for b in piece.encode("utf-8")]
        while len(word) > 1:
            best_rank = None
            for i in range(len(word) - 1):
                r = ranks.get((word[i], word[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
            if best_rank is None:
                break
            word = list(_merge_word(tuple(word), merges[best_rank]))
        out.extend(word)
    return out


def gpt2_byte_decoder() -> dict[str, int]:
    """The public byte<->unicode alphabet of the GPT-2 tokenizer family
    (Radford et al. 2019, ``bytes_to_unicode`` in the released encoder):
    printable-ish byte values keep their own codepoint; the rest map to
    ``256 + n`` in ascending byte order (so space 0x20 becomes the famous
    ``Ġ`` = chr(288)).  Returned inverted (char -> byte), which is the
    direction a merges-file loader needs."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {chr(c): b for b, c in zip(bs, cs)}


def load_gpt2_merges(source) -> list[tuple[bytes, bytes]]:
    """Load a merges table in the public GPT-2 ``merges.txt`` format (an
    optional ``#version`` header, then one ``<left> <right>`` pair per
    line, symbols spelled in the :func:`gpt2_byte_decoder` alphabet) into
    the plain ``(bytes, bytes)`` rank list :func:`bpe_encode` applies.
    ``source`` is a file path or an iterable of lines.  This is the
    vendoring path: point it at a production tokenizer's merges file and
    :func:`count_tokens_bpe` counts that tokenizer's merges exactly
    (modulo the pre-tokenizer -- ours is :data:`TOKEN_PATTERN`; pass a
    ``tokenizer_fn`` for full native parity)."""
    if isinstance(source, str):
        with open(source, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
    else:
        # tolerate CRLF sources: a trailing '\r' is line framing, not a
        # symbol byte
        lines = [ln.rstrip("\r\n") for ln in source]
    decoder = gpt2_byte_decoder()

    def to_bytes(sym: str) -> bytes:
        try:
            return bytes(decoder[ch] for ch in sym)
        except KeyError as exc:
            raise ValueError(f"symbol {sym!r} outside the GPT-2 byte alphabet") from exc

    merges: list[tuple[bytes, bytes]] = []
    for ln in lines:
        if not ln or ln.startswith("#"):
            continue
        parts = ln.split(" ")
        if len(parts) != 2:
            raise ValueError(f"malformed merges line: {ln!r}")
        merges.append((to_bytes(parts[0]), to_bytes(parts[1])))
    return merges


def count_tokens_bpe(
    df: DataFrame,
    merges: list[tuple[bytes, bytes]] | None = None,
    text_col: str = "text",
    tokenizer_fn=None,
) -> DataFrame:
    """(doc_id, bpe_tokens): exact token counts, as ONE Arrow-batched map
    pass (no shuffle).  Two engines behind the same plan shape:

    * ``merges``: the pure-Python rank-order encoder over a broadcast
      merge table (trained via :func:`train_bpe` or vendored via
      :func:`load_gpt2_merges`);
    * ``tokenizer_fn``: the native-tokenizer hook -- a picklable
      ``Callable[[list[str]], list[int]]`` (batch in, counts out, e.g. a
      tiktoken ``encode_ordinary_batch`` or HF fast-tokenizer wrapper).
      When given it takes precedence; the merge-table path is the
      always-available fallback.

    Feed the result to ``pack_shards(..., size_col='bpe_tokens')`` for
    exact-token shard budgets."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    if merges is None and tokenizer_fn is None:
        raise ValueError("pass a merges table, a tokenizer_fn, or both")
    id_field = df.schema["doc_id"]
    out_schema = StructType(
        [StructField("doc_id", id_field.dataType), StructField("bpe_tokens", LongType())]
    )
    bc = (
        df.sparkSession.sparkContext.broadcast(merges)
        if tokenizer_fn is None
        else None
    )

    def batches(iterator):
        for batch in iterator:
            ids = batch.column(0)
            texts = [t or "" for t in batch.column(1).to_pylist()]
            if tokenizer_fn is not None:
                counts = [int(c) for c in tokenizer_fn(texts)]
                if len(counts) != len(texts):
                    raise ValueError(
                        f"tokenizer_fn returned {len(counts)} counts for "
                        f"{len(texts)} texts"
                    )
            else:
                merges_local = bc.value
                counts = [len(bpe_encode(t, merges_local)) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(counts, pa.int64())], names=["doc_id", "bpe_tokens"]
            )

    return map_batches(df.select("doc_id", text_col), out_schema, batches)
