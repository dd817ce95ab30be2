"""The operator layer: driver-contract queries from
``__spark_entry__.queries()`` over the seeded tables of ``tables.py``.

Each query is timed from outside in two parts: building its DataFrame (the
driver-side plan build) and executing it to a noop sink.  Operator caches
are released between queries.  Afterwards, untimed, each query's rows are
compared with its ``oracle_sql()`` twin run through DuckDB on the same
tables.
"""

from __future__ import annotations

import math
import sys
import time
import traceback

from perfbench import ladder

# query -> the nreadspark module it mainly calls
QUERIES = {
    "multipage_extract": "multipage",
    "dedup_semantic": "ops.dedup",
    "ann_ivf_topk": "ops.similarity",
    "quality_model_score": "ops.quality_model",
    "dedup_cross_container": "ops.images",
    "dedup_media_survivors": "ops.images",
    "dedup_components": "ops.dedup",
}
TABLES = ("documents", "embeddings")


def module_metric(module: str) -> str:
    """``ops.<module>_s``, named after the module below ``nreadspark.ops``
    or, for ``multipage``, below ``nreadspark``."""
    return f"ops.{module.removeprefix('ops.')}_s"


def run(spark, sf_dir: str, tracer) -> dict:
    """Build and execution seconds per query (``None`` for a query that
    raised)."""
    import __spark_entry__ as entry
    from nreadspark.ops.dedup import release_caches

    queries = entry.queries()
    out: dict = {}
    for name in QUERIES:
        try:
            with tracer.span(f"query.{name}"):
                started = time.perf_counter()
                with tracer.span("operators.build"):
                    df = queries[name](spark, sf_dir)
                built = time.perf_counter()
                with tracer.span("operators.exec"):
                    ladder.noop(df)
                ended = time.perf_counter()
            out[name] = {"build_s": built - started, "exec_s": ended - built}
        except Exception:
            # a failed query counts as failed; the others still run
            print(f"perfbench: query {name} failed", file=sys.stderr)
            traceback.print_exc()
            out[name] = None
        finally:
            release_caches()
    return out


def check(spark, sf_dir: str) -> dict[str, bool]:
    """Per query: do its rows equal its DuckDB twin's, as a multiset?"""
    import duckdb

    import __spark_entry__ as entry
    from nreadspark.ops.dedup import release_caches

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for table in TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
            )
        out = {}
        for name in QUERIES:
            try:
                df = queries[name](spark, sf_dir)
                got = _canonical(df.columns, [tuple(r) for r in df.collect()])
                result = con.execute(oracles[name])
                want = _canonical([d[0] for d in result.description], result.fetchall())
                out[name] = got == want
            except Exception:
                print(f"perfbench: oracle check of {name} failed", file=sys.stderr)
                traceback.print_exc()
                out[name] = False
            finally:
                release_caches()
        return out
    finally:
        con.close()


def _canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(columns), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _norm(value) -> str:
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.6f}"
    return str(value)
