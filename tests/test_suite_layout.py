"""The suite's shared set-up lives in conftest.py only: one SparkSession for
the whole run, the jobs/ directory on sys.path, and no absolute path into a
particular checkout (a test must exercise the tree it sits in).  Library
kernels state their Arrow output schema once, as a Spark StructType, build
nested output columns through ``rows_to_batch`` only, and cross into Python
through one ``mapInArrow`` call; Column code splits a URL in one place;
the curation job writes its stage chain once; the media tiers decode each
image codec and walk each container format in one place."""

import ast
import glob
import os
import re

import pytest

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)


def _path_into_repo(literal: str) -> bool:
    """True for an absolute path that ends in a dir/file of this tree."""
    if literal == REPO:
        return True
    if not literal.startswith("/"):
        return False
    parts = literal.strip("/").split("/")
    return any(
        os.path.exists(os.path.join(REPO, *parts[i:])) for i in range(len(parts) - 1)
    )


def _violations(path: str):
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ):
            yield node.lineno, "builds a SparkSession (use the conftest `spark` fixture)"
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "stop"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "spark"
        ):
            yield node.lineno, "stops the shared SparkSession"
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            and any(
                isinstance(c, ast.Constant) and c.value == "jobs"
                for c in ast.walk(node)
            )
        ):
            yield node.lineno, "puts jobs/ on sys.path (conftest does)"
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _path_into_repo(node.value)
        ):
            yield node.lineno, f"names an absolute path into the checkout: {node.value!r}"


def test_session_and_paths_are_set_up_in_conftest_only():
    found = [
        f"{os.path.basename(p)}:{line}: {why}"
        for p in sorted(glob.glob(os.path.join(TESTS, "*.py")))
        if os.path.basename(p) != "conftest.py"
        for line, why in _violations(p)
    ]
    assert found == [], "\n".join(found)


def test_library_derives_arrow_schemas_from_spark_schemas():
    """A hand-written ``pa.schema(...)`` is a second copy of a kernel's
    Spark output schema that can drift from it; kernels derive theirs with
    ``pyspark.sql.pandas.types.to_arrow_schema``."""
    found = []
    for path in sorted(glob.glob(os.path.join(REPO, "nreadspark", "**", "*.py"), recursive=True)):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        found += [
            f"{os.path.relpath(path, REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and ast.unparse(node.func) in ("pa.schema", "pyarrow.schema")
        ]
    assert found == [], "\n".join(found)


def test_library_builds_nested_arrow_columns_through_rows_to_batch():
    """A hand-built ``pa.ListArray.from_arrays`` or
    ``pa.StructArray.from_arrays`` is a second builder of a nested output
    column, aligned by hand to offsets that can drift from its children;
    kernels build nested columns from per-row tuples through
    ``pipeline.rows_to_batch``."""
    found = []
    for path in sorted(glob.glob(os.path.join(REPO, "nreadspark", "**", "*.py"), recursive=True)):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        found += [
            f"{os.path.relpath(path, REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and ast.unparse(node.func)
            in ("pa.ListArray.from_arrays", "pa.StructArray.from_arrays",
                "pyarrow.ListArray.from_arrays", "pyarrow.StructArray.from_arrays")
        ]
    assert found == [], "\n".join(found)


def test_library_has_one_arrow_crossing():
    """Every Python kernel runs through ``pipeline.map_batches``' one
    ``mapInArrow`` call, whose task entry drops PySpark's cached zip
    finders; a second ``mapInArrow``, or any ``mapInPandas``,
    ``pandas_udf`` or ``applyInPandas`` crossing, skips it.  The one
    exception is streaming's ``applyInPandasWithState``: no Arrow state
    API replaces it."""
    lib = os.path.join(REPO, "nreadspark")
    pandas_apis = ("mapInPandas", "pandas_udf", "applyInPandas", "applyInPandasWithState")
    arrow, pandas = [], []
    for path in sorted(glob.glob(os.path.join(lib, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, lib)
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for node in ast.walk(tree):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name == "mapInArrow":
                arrow.append(f"{rel}:{node.lineno}")
            elif name in pandas_apis:
                pandas.append(f"{rel}:{node.lineno}: {name}")
    state = [p for p in pandas if p.startswith("streaming.py:") and p.endswith("WithState")]
    assert len(arrow) == 1 and len(state) == 1 and pandas == state, "\n".join(arrow + pandas)


def test_library_has_one_column_url_parse():
    """``ops.urls._url_parts`` is the one Column-tier URL parse: the
    canonical URL, the SURT key and the registrable domain are assembled
    from its staged parts.  A second copy of its authority split can
    drift from the first."""
    found = []
    for path in sorted(glob.glob(os.path.join(REPO, "nreadspark", "**", "*.py"), recursive=True)):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        found += [
            f"{os.path.relpath(path, REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and node.value == r"^([^/?#]*)"
        ]
    assert len(found) == 1, "\n".join(found)


def _library_calls(match):
    """``path:line`` of every call under ``nreadspark/`` that ``match`` accepts."""
    found = []
    for path in sorted(glob.glob(os.path.join(REPO, "nreadspark", "**", "*.py"), recursive=True)):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        found += [
            f"{os.path.relpath(path, REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and match(node)
        ]
    return found


def test_library_has_one_md5_prefix_bucket():
    """``ops.sampling.md5_bucket`` is the one engine-portable bucket on the
    first 8 md5 hex chars; sampling, lineage and the md5 modes of MinHash
    and the quality model call it.  A second ``substring(..., 1, 8)`` is a
    second copy that can drift from the DuckDB oracles' convention."""
    found = _library_calls(
        lambda call: ast.unparse(call.func) == "F.substring"
        and [ast.unparse(a) for a in call.args[1:]] == ["1", "8"]
    )
    assert len(found) == 1, "\n".join(found)


def test_library_has_one_normalized_text_fingerprint():
    """``ops.textstats.text_fingerprint`` is the one normalized-text md5:
    the document fingerprint, exact dedup and the cross-snapshot join must
    agree byte-for-byte."""
    found = _library_calls(
        lambda call: ast.unparse(call.func) == "F.regexp_replace"
        and "F.lower" in ast.unparse(call.args[0])
        and "F.trim" in ast.unparse(call.args[0])
    )
    assert len(found) == 1, "\n".join(found)


@pytest.mark.parametrize(
    "mechanism, match",
    [
        # ops.dedup._jaccard: the token-set Jaccard
        ("F.array_union", lambda call: ast.unparse(call.func) == "F.array_union"),
        # ops.dedup._hot_split: the per-bucket size and canonical member
        (
            "alias('__canon')",
            lambda call: ast.unparse(call.func).endswith(".alias")
            and [ast.unparse(a) for a in call.args] == ["'__canon'"],
        ),
        # urlutil._url_split: the Python URL split
        ("_HOST_RE.match", lambda call: ast.unparse(call.func) == "_HOST_RE.match"),
        # warc._read_records: the response split of every WARC record source
        (
            "parse_http_response",
            lambda call: ast.unparse(call.func).endswith("parse_http_response"),
        ),
    ],
)
def test_library_builds_each_dedup_and_url_mechanism_once(mechanism, match):
    """The near-duplicate core builds each shared mechanism in one helper
    of ``ops.dedup`` (the hot-bucket split, the token-set Jaccard),
    ``canonical_url`` and ``surt_key`` share one Python URL split, and the
    blob, file-path and CDX-range WARC sources share one response split.
    A second copy of any of them can drift from the first."""
    found = _library_calls(match)
    assert len(found) == 1, f"{mechanism}:\n" + "\n".join(found)


def test_cdx_reads_ranges_through_the_one_warc_record_loop():
    """``warc._read_records`` is the one WARC record loop: blobs, file paths
    and CDX ranges differ only in how they open a byte stream.  A batch
    loop of the CDX tier's own would bring back its own flush, file-handle
    cache and error rows."""
    tree = ast.parse(open(os.path.join(REPO, "nreadspark", "cdx.py"), encoding="utf-8").read())
    found = [
        f"cdx.py:{node.lineno}: {name}"
        for node in ast.walk(tree)
        for name in [getattr(node, "attr", None) or getattr(node, "id", None)]
        if name in ("map_batches", "rows_to_batch")
    ]
    assert found == [], "\n".join(found)


def test_curation_job_builds_its_chain_once():
    """``jobs/curate.py`` writes its stage builds once (``_chain``):
    ``curate_resumable`` runs them through the stage runner and ``curate``
    in memory.  A second call of a stage operator is a second copy of the
    chain, which can drift from the first."""
    tree = ast.parse(open(os.path.join(REPO, "jobs", "curate.py"), encoding="utf-8").read())
    calls = [ast.unparse(node.func) for node in ast.walk(tree) if isinstance(node, ast.Call)]
    ops = ("c4_quality_filter", "line_dedup", "minhash_lsh_candidates", "verify_jaccard",
           "keep_canonical")
    assert {op: calls.count(op) for op in ops} == dict.fromkeys(ops, 1)


def test_media_tiers_decode_each_codec_and_container_once():
    """``ops.multimodal._LUMA_DECODERS`` is the one codec table: the
    feature tier and every perceptual-hash tier decode through it, so the
    pixel cap reaches each decoder the same way.  ``_bmff_boxes`` and
    ``_riff_chunks`` are the one ISO-BMFF box walk and the one RIFF chunk
    walk.  A second call of a pixel decoder, a second decode of a RIFF
    chunk header or a BMFF largesize, or a second PNG pixel decoder, is a
    second copy that can drift from the first."""
    path = os.path.join(REPO, "nreadspark", "ops", "multimodal.py")
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    table = next(
        node for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and ast.unparse(node.targets[0]) == "_LUMA_DECODERS"
    )
    for name in ("png_luma_milli", "gif_luma_milli", "decode_jpeg_luma_milli"):
        found = _library_calls(lambda call: ast.unparse(call.func) == name)
        in_table = [
            f"nreadspark/ops/multimodal.py:{node.lineno}"
            for node in ast.walk(table)
            if isinstance(node, ast.Call) and ast.unparse(node.func) == name
        ]
        assert len(found) == 1 and found == in_table, f"{name}:\n" + "\n".join(found)
    for mechanism, pattern in [
        ("RIFF chunk length", r"int\.from_bytes\(\w+\[\w+ \+ 4:\w+ \+ 8\], 'little'\)"),
        ("BMFF largesize", r"int\.from_bytes\(\w+\[\w+ \+ 8:\w+ \+ 16\], 'big'\)"),
    ]:
        found = _library_calls(lambda call: re.fullmatch(pattern, ast.unparse(call)) is not None)
        assert len(found) == 1, f"{mechanism}:\n" + "\n".join(found)
    defs = [
        f"{os.path.relpath(p, REPO)}:{node.lineno}"
        for p in sorted(glob.glob(os.path.join(REPO, "nreadspark", "**", "*.py"), recursive=True))
        for node in ast.walk(ast.parse(open(p, encoding="utf-8").read(), p))
        if isinstance(node, ast.FunctionDef) and node.name == "decode_png_pixels"
    ]
    assert defs == [], "\n".join(defs)
