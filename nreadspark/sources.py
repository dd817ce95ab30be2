"""Input-table abstraction: Iceberg when available, parquet otherwise.

The north rule targets Iceberg tables of interleaved documents.  This
sandbox ships no Iceberg runtime jars, so the loader resolves in order:

1. an explicit ``iceberg:<catalog.db.table>`` spec -> ``spark.read.format
   ("iceberg").load(...)`` (predicate pushdown + partition pruning via
   DataSource V2, snapshot isolation for the resumable readers);
2. a catalog table name that exists in ``spark.catalog`` -> ``spark.table``;
3. a filesystem path -> parquet.

Downstream code (pipeline/lineage/streaming) is format-agnostic: it sees a
DataFrame of ``(doc_id, spans[, url])`` either way, and every optimization
in PLANS.md (column pruning, pushdown, no-shuffle extraction) applies
identically because both connectors are DataSource V2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PREFIX = "iceberg:"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg DataSource is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def load_documents(spark: SparkSession, source: str) -> DataFrame:
    """Resolve ``source`` to the interleaved-documents DataFrame."""
    if source.startswith(ICEBERG_PREFIX):
        return spark.read.format("iceberg").load(source[len(ICEBERG_PREFIX) :])
    if "/" not in source and "\\" not in source:
        try:
            if spark.catalog.tableExists(source):
                return spark.table(source)
        except Exception:
            pass
    return spark.read.parquet(source)


def write_documents(df: DataFrame, target: str, mode: str = "append") -> None:
    """Symmetric writer: Iceberg table spec or parquet path."""
    if target.startswith(ICEBERG_PREFIX):
        df.writeTo(target[len(ICEBERG_PREFIX) :]).append()
        return
    df.write.mode(mode).parquet(target)


def create_documents_table(
    df: DataFrame, target: str, partition_buckets: int | None = 16
) -> None:
    """Create (or replace) the Iceberg documents table and load ``df`` as
    its first snapshot; subsequent increments land via
    :func:`write_documents` appends.

    The table is bucket-partitioned on ``doc_id`` (Iceberg hidden
    partitioning -- readers never see the bucket column), matching the
    lineage layer's deterministic doc-id bucketing
    (``lineage.bucket_col``): scans of a resumed bucket prune to its
    files, and the hash layout spreads mega-document skew exactly like
    ``repartition_for_extraction``.
    Requires the Iceberg runtime (guard with :func:`iceberg_available`);
    exercised by the availability-guarded round-trip smoke in
    tests/test_sources_metrics.py wherever the jar exists."""
    from pyspark.sql import functions as F

    if not target.startswith(ICEBERG_PREFIX):
        raise ValueError(f"expected an '{ICEBERG_PREFIX}<catalog.db.table>' spec, got {target!r}")
    writer = df.writeTo(target[len(ICEBERG_PREFIX) :]).using("iceberg")
    if partition_buckets:
        writer = writer.partitionedBy(F.bucket(partition_buckets, F.col("doc_id")))
    writer.createOrReplace()
