"""Text normalization for pretraining corpora -- the canonicalization
pass public pipelines (CCNet, C4, Dolma, ROOTS) run BEFORE dedup and
filtering, so that byte-level noise doesn't defeat fingerprint equality:

1. **Mojibake repair** (table-driven): the classic UTF-8-read-as-cp1252
   double-encoding (``cafÃ©`` -> ``café``, ``donâ€™t`` -> ``don’t``).
   The table is GENERATED at import from a target-character list by
   running the actual corruption (``c.encode('utf-8').decode('cp1252')``
   with the browser-style latin-1 fallback for cp1252's five undefined
   bytes), so the mapping cannot drift from the encoding it models.
   Gated behind one cheap marker-class ``rlike`` so the ~50-deep literal
   ``replace`` chain only runs on rows that can possibly contain
   mojibake (clean corpora pay one regex scan, nothing more).
2. **Control / zero-width strip**: C0 controls (except ``\\t \\n \\r``),
   DEL, soft hyphen, ZWSP/ZWNJ/ZWJ, word joiner, BOM -> removed.
3. **Unicode-space mapping**: NBSP, ogham/en/em/thin/ideographic spaces
   -> ASCII space.
4. **Whitespace canonicalization**: CR/CRLF -> LF, horizontal runs -> one
   space, spaces trimmed around newlines, >=3 newlines -> exactly 2
   (paragraph break), leading/trailing whitespace trimmed.

Everything is a chain of ``replace`` / ``regexp_replace`` column
expressions inside one whole-stage-codegen projection -- no Python, no
shuffle; at 100 TB this is scan-stage work.  Regex syntax is restricted
to constructs with IDENTICAL semantics in Java regex (Spark) and RE2
(DuckDB): literal characters, ``\\x{h..h}`` classes, bounded repetition,
anchors -- ``\\s`` is deliberately avoided (Java's includes ``\\x0B``,
RE2's does not).  The DuckDB twin (:func:`normalize_text_sql`) is
generated from the SAME tables, so the two engines cannot drift.

Stage outputs are materialized as child-projection columns per the
round-6 multi-ref staging rule (each layer is read by the next layer
AND, for the last, by the ``changed`` flag).

Full Unicode normalization (NFC/NFD/NFKC/NFKD) is the separate
:func:`nfc_normalize_text` tier: ONE ``mapInArrow`` pass whose kernel is
CPython's ``unicodedata`` with an ``is_normalized`` no-copy fast path,
oracle-matched against DuckDB's ``nfc_normalize``.  Run it upstream of
the repair chain when the corpus needs canonical composition.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# mojibake table (generated, not hand-typed)
# ---------------------------------------------------------------------------

# target characters whose UTF-8 bytes, mis-decoded as cp1252, produce the
# classic visible mojibake: Latin-1 letters, the cp1252 punctuation block,
# and the common symbols.  Ordered here for readability only -- the chain
# applies longest-key-first (3-byte sequences before 2-byte), which makes
# application order among same-length keys irrelevant (2-byte keys start
# with U+00C2-U+00C5, 3-byte keys with U+00E2: no key is a prefix of
# another at the same or shorter length).
MOJIBAKE_TARGETS = (
    "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
    "ÀÁÂÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÖÙÚÛÜ"
    "ßæÆœŒøØ¡¿«»©®°±·×÷µ"
    "‘’“”–—…•€™ "
)


def _sloppy_cp1252(raw: bytes) -> str:
    """Decode bytes the way a mis-configured consumer actually does:
    cp1252 where defined, latin-1 control fallback for cp1252's five
    undefined bytes (0x81 0x8D 0x8F 0x90 0x9D) -- the WHATWG/browser
    behavior real mojibake went through."""
    out = []
    for b in raw:
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


#: ``[(mojibake_sequence, repaired_char), ...]`` longest key first.
MOJIBAKE_TABLE: list[tuple[str, str]] = sorted(
    ((_sloppy_cp1252(c.encode("utf-8")), c) for c in MOJIBAKE_TARGETS),
    key=lambda kv: (-len(kv[0]), kv[0]),
)

# every 2-byte key starts with Ã/Â/Å..., every 3-byte key with â -- one
# character-class probe decides whether the repair chain can match at all
_MOJIBAKE_MARKERS = "[" + "".join(sorted({kv[0][0] for kv in MOJIBAKE_TABLE})) + "]"

# ---------------------------------------------------------------------------
# whitespace / control tables (identical pattern strings feed BOTH engines;
# \x{h..h} is valid in Java regex and RE2 alike)
# ---------------------------------------------------------------------------

#: C0 controls minus \t\n\r, DEL, soft hyphen, zero-widths, word joiner, BOM
STRIP_CLASS = (
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}"
    "\\x{AD}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]"
)

#: non-ASCII horizontal spaces -> ' '
SPACE_CLASS = "[\\x{A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]"

#: applied IN ORDER after the strip/space passes; ``\n``/``\r``/``\t``
#: escapes mean the same two-char sequence to Java regex and RE2
WHITESPACE_RULES: list[tuple[str, str]] = [
    ("\\r\\n?", "\n"),          # CR / CRLF -> LF
    ("[ \\t]+", " "),           # horizontal runs -> one space
    (" *\\n *", "\n"),          # no spaces hugging newlines
    ("\\n{3,}", "\n\n"),        # paragraph break is at most one blank line
    ("^[ \\n]+|[ \\n]+$", ""),  # trim (anchors are whole-string by default
                                # in both engines -- no MULTILINE flag)
]


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, changed): the full normalization chain.
    NULL text stays NULL with ``changed`` false.  Zero shuffle; one
    projection; the mojibake chain is gated behind a marker-class probe
    so clean rows pay a single regex scan."""
    s0 = F.col(text_col)
    repaired = reduce(
        lambda col, kv: F.replace(col, F.lit(kv[0]), F.lit(kv[1])),
        MOJIBAKE_TABLE,
        s0,
    )
    d = df.withColumn(
        "__nz_s1", F.when(s0.rlike(_MOJIBAKE_MARKERS), repaired).otherwise(s0)
    )
    d = d.withColumn("__nz_s2", F.regexp_replace("__nz_s1", STRIP_CLASS, ""))
    d = d.withColumn("__nz_s3", F.regexp_replace("__nz_s2", SPACE_CLASS, " "))
    cur = "__nz_s3"
    for k, (pattern, repl) in enumerate(WHITESPACE_RULES):
        nxt = f"__nz_s{4 + k}"
        d = d.withColumn(nxt, F.regexp_replace(cur, pattern, repl))
        cur = nxt
    return d.select(
        "doc_id",
        F.col(cur).alias("clean_text"),
        (s0.isNotNull() & (F.col(cur) != s0)).alias("changed"),
    )


# ---------------------------------------------------------------------------
# DuckDB twin (generated from the SAME tables)
# ---------------------------------------------------------------------------


def nfc_normalize_text(
    df: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """(doc_id, text_nfc, changed): full Unicode normalization -- the
    mapInArrow tier this module's header promises, upstream of the
    table-driven repair chain.

    The kernel is CPython's ``unicodedata.normalize`` (C-implemented) over
    ``mapInArrow`` batches -- NOT ``pyarrow.compute.utf8_normalize``,
    whose NFC/NFKC forms never COMPOSE in the available build (verified:
    its NFC output equals its NFD output, ``e +  ̈`` stays decomposed), so
    it cannot implement canonical composition.  The fast path is
    ``unicodedata.is_normalized``: already-normalized strings (the
    overwhelming case in a real corpus) are detected without allocating a
    copy and pass through unchanged.  Strings cross the Arrow boundary
    once per batch; zero shuffles -- scan-stage work at 100 TB, like the
    extraction tier.
    ``form`` is NFC (default) / NFD / NFKC / NFKD; the DuckDB oracle twin
    exists for NFC (``nfc_normalize``).  NULL text stays NULL with
    ``changed`` false."""
    import unicodedata

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..pipeline import map_rows

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    out_name = "text_nfc" if form == "NFC" else f"text_{form.lower()}"
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField(out_name, StringType()),
            StructField("changed", BooleanType()),
        ]
    )

    def row(doc_id, s):
        if s is None:
            return [(doc_id, None, False)]
        if unicodedata.is_normalized(form, s):
            return [(doc_id, s, False)]
        return [(doc_id, unicodedata.normalize(form, s), True)]

    cols = [F.col("doc_id").cast("bigint").alias("doc_id"), F.col(text_col)]
    return map_rows(df, cols, out_schema, row)


def nfc_normalize_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB twin of :func:`nfc_normalize_text` (NFC form).  DuckDB's
    ``nfc_normalize`` is utf8proc; the Spark kernel is CPython's
    unicodedata -- both implement UAX #15 canonical composition, and the
    byte-agreement test pins them together on decomposed Latin, Hangul
    jamo, compatibility characters and mark reordering (a Unicode-version
    skew between the libraries would fail that test, not silently
    drift)."""
    return {
        "text_nfc": f"nfc_normalize({text_expr})",
        "changed": (
            f"coalesce(nfc_normalize({text_expr}) <> {text_expr}, FALSE)"
        ),
    }


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def normalize_text_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB expression strings for ``clean_text`` and ``changed``,
    generated from :data:`MOJIBAKE_TABLE` / :data:`STRIP_CLASS` /
    :data:`SPACE_CLASS` / :data:`WHITESPACE_RULES` so the engines cannot
    drift.  DuckDB keeps backslashes literal in standard strings, so the
    ``\\x{h..h}`` pattern text reaches RE2 byte-identical to what Spark
    hands Java regex."""
    repaired = text_expr
    for key, val in MOJIBAKE_TABLE:
        repaired = f"replace({repaired}, {_sql_str(key)}, {_sql_str(val)})"
    cur = (
        f"CASE WHEN regexp_matches({text_expr}, {_sql_str(_MOJIBAKE_MARKERS)}) "
        f"THEN {repaired} ELSE {text_expr} END"
    )
    cur = f"regexp_replace({cur}, {_sql_str(STRIP_CLASS)}, '', 'g')"
    cur = f"regexp_replace({cur}, {_sql_str(SPACE_CLASS)}, ' ', 'g')"
    for pattern, repl in WHITESPACE_RULES:
        repl_sql = _sql_str(repl).replace("\n", "' || chr(10) || '")
        cur = f"regexp_replace({cur}, {_sql_str(pattern)}, {repl_sql}, 'g')"
    return {
        "clean_text": cur,
        "changed": f"({text_expr} IS NOT NULL AND {cur} <> {text_expr})",
    }
