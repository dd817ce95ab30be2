"""ops/normalize.py: table-driven mojibake repair + control/zero-width
strip + Unicode-space mapping + whitespace canonicalization, and the
generated DuckDB twin (byte-for-byte engine agreement)."""

import pytest

pyspark = pytest.importorskip("pyspark")
duckdb = pytest.importorskip("duckdb")

from nreadspark.ops.normalize import (  # noqa: E402
    MOJIBAKE_TABLE,
    MOJIBAKE_TARGETS,
    nfc_normalize_sql,
    nfc_normalize_text,
    normalize_text,
    normalize_text_sql,
)


# ---------------------------------------------------------------------------
# table invariants (the chain's correctness rests on these)
# ---------------------------------------------------------------------------


def test_mojibake_table_generated_sound():
    # no identity entries (an ASCII-space target would gate EVERY row)
    assert all(k != v for k, v in MOJIBAKE_TABLE)
    assert " " not in MOJIBAKE_TARGETS and "\xa0" in MOJIBAKE_TARGETS
    # unique keys, longest first, and no key is a strict prefix of any
    # LATER (shorter-or-equal) key -- application order safety
    keys = [k for k, _ in MOJIBAKE_TABLE]
    assert len(set(keys)) == len(keys)
    assert keys == sorted(keys, key=lambda k: (-len(k), k))
    for i, k in enumerate(keys):
        assert not any(k2.startswith(k) and k2 != k for k2 in keys[i + 1 :])
    # the table IS the corruption model: key == target mis-decoded
    for key, val in MOJIBAKE_TABLE:
        raw = val.encode("utf-8")
        redecoded = "".join(
            bytes([b]).decode("cp1252", errors="ignore") or chr(b) for b in raw
        )
        assert key == redecoded


# (input, expected clean_text) unit table
CASES = [
    ("cafÃ© donâ€™t", "café don’t"),
    ("â€œquotedâ€\x9d â€“ â€” â€¦", "“quoted” – — …"),
    ("Ã¼ber naÃ¯ve faÃ§ade Ã˜ Å“uvre", "über naïve façade Ø œuvre"),
    ("â‚¬100 â€¢ 30Â°C Â«okÂ»", "€100 • 30°C «ok»"),
    # control + zero-width + soft hyphen stripped
    ("a\x01b\x02c​d­e﻿", "abcde"),
    # unicode spaces -> ascii space (then collapsed)
    ("a b c　d", "a b c d"),
    # CR/CRLF -> LF, tabs/runs -> one space, spaces hugging newlines
    ("one\ttwo   three\r\nfour\rfive", "one two three\nfour\nfive"),
    ("para one\n\n\n\n\npara two", "para one\n\npara two"),
    ("  line \n   indented\n\n", "line\nindented"),
    ("already clean", "already clean"),
    ("", ""),
]


def test_unit_cases(spark):
    rows = [(i, s) for i, (s, _) in enumerate(CASES)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(df).collect()}
    for i, (src, want) in enumerate(CASES):
        assert got[i]["clean_text"] == want, (i, src, got[i]["clean_text"])
        assert got[i]["changed"] == (src != want)
    assert got[99]["clean_text"] is None and got[99]["changed"] is False


def test_every_table_entry_repairs(spark):
    """Each mojibake key, embedded in context, comes back as its target
    (end-to-end through the gated chain, not just table lookup)."""
    rows = [
        (i, f"x {key} y") for i, (key, _) in enumerate(MOJIBAKE_TABLE)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["clean_text"] for r in normalize_text(df).collect()}
    for i, (key, val) in enumerate(MOJIBAKE_TABLE):
        # NBSP's repaired form is itself whitespace-normalized afterwards
        want = f"x {val} y" if val != "\xa0" else "x y"
        assert got[i] == want, (key, val, got[i])


def test_matches_duckdb_twin(spark):
    """Generated SQL twin replicates every byte (same tables -> no
    drift), across unit cases, every table entry, and whitespace soup."""
    rows = (
        [(i, s) for i, (s, _) in enumerate(CASES)]
        + [(100 + i, f"a {k} b") for i, (k, _) in enumerate(MOJIBAKE_TABLE)]
        + [(900, None), (901, " \r\n \t x ​  y \n\n\n z  ")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["changed"])
        for r in normalize_text(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    ex = normalize_text_sql("text")
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {ex['clean_text']}, {ex['changed']} FROM docs"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# NFC tier (mapInArrow / utf8proc)
# ---------------------------------------------------------------------------

# (input, expected NFC) -- explicit escapes so the inputs are GUARANTEED
# decomposed in the source
NFC_CASES = [
    # decomposed Latin: e/A/o + combining marks -> composed
    ("caf\u0065\u0301", "caf\u00e9"),
    ("\u0041\u030angstr\u006f\u0308m", "\u00c5ngstr\u00f6m"),
    # Hangul jamo -> precomposed syllable
    ("\u1100\u1161\u11a8", "\uac01"),
    # already composed stays put
    ("caf\u00e9 already", "caf\u00e9 already"),
    # compatibility chars NFC must NOT touch
    ("\ufb01le \u2460 \u2163", "\ufb01le \u2460 \u2163"),
    # combining dot-above (ccc 230) before dot-below (ccc 220): NFC
    # canonically reorders to ccc order (below first)
    ("q\u0307\u0323", "q\u0323\u0307"),
    ("plain ascii", "plain ascii"),
    ("", ""),
]


def test_nfc_unit_cases(spark):
    import unicodedata

    rows = [(i, s) for i, (s, _) in enumerate(NFC_CASES)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in nfc_normalize_text(df).collect()}
    for i, (src, want) in enumerate(NFC_CASES):
        # the expectation table itself must agree with CPython's tables
        assert unicodedata.normalize("NFC", src) == want
        assert got[i]["text_nfc"] == want, (i, src)
        assert got[i]["changed"] == (src != want)
    assert got[99]["text_nfc"] is None and got[99]["changed"] is False


def test_nfc_other_forms(spark):
    df = spark.createDataFrame(
        [(1, "caf\u00e9 \ufb01le")], "doc_id long, text string"
    )
    nfd = nfc_normalize_text(df, form="NFD").collect()[0]
    assert nfd["text_nfd"] == "cafe\u0301 \ufb01le"  # decomposed, compat kept
    nfkc = nfc_normalize_text(df, form="NFKC").collect()[0]
    assert nfkc["text_nfkc"] == "caf\u00e9 file"  # compat ligature folded
    with pytest.raises(ValueError):
        nfc_normalize_text(df, form="NFC-ish")


def test_nfc_matches_duckdb_twin(spark):
    rows = [(i, s) for i, (s, _) in enumerate(NFC_CASES)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_nfc"], r["changed"])
        for r in nfc_normalize_text(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    ex = nfc_normalize_sql("text")
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {ex['text_nfc']}, {ex['changed']} FROM docs"
        ).fetchall()
    }
    assert got == want


def test_nfc_plan_single_arrow_pass(spark):
    """One mapInArrow crossing over the pruned scan, zero shuffles."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        nfc_normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1


def test_plan_is_one_codegen_projection(spark):
    """Zero shuffle, zero Python: the whole chain must live in projection
    nodes over the scan (the 100 TB shape -- scan-stage work)."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
