"""Seeded workload inputs.

Documents come from ``nreadspark.corpus.generate_document``; the benchmark
only chooses which of them a workload uses.  Each workload fixes its family
mix as exact quotas rather than sampling it: with sampled families the
count of ``mega_doc`` pages (about half of all kernel time) would vary by
more than a tenth from seed to seed, and so would every timing.  The seed
still decides the text, the sizes and the order of the documents.
"""

from __future__ import annotations

import collections

from nreadspark.corpus import FAMILIES, generate_document
from nreadspark.spans import spans_to_html

# The corpus generator's own sampling weights, per family (FAMILIES order).
WEB_WEIGHTS = dict(zip(FAMILIES, (18, 22, 18, 10, 10, 5, 5, 6, 2, 4)))


def quotas(n_docs: int, weights: dict[str, int]) -> dict[str, int]:
    """Split ``n_docs`` over the families by largest remainder."""
    total = sum(weights.values())
    exact = {f: n_docs * w / total for f, w in weights.items()}
    out = {f: int(x) for f, x in exact.items()}
    by_remainder = sorted(weights, key=lambda f: (out[f] - exact[f], f))
    for f in by_remainder[: n_docs - sum(out.values())]:
        out[f] += 1
    return out


def generate(
    seed: int, n_docs: int, weights: dict[str, int], size_pool: int = 1
) -> list[tuple[str, list, str]]:
    """Documents of the seed's stream that fill each family quota, as
    ``(doc_id, spans, family)`` in stream order.

    With ``size_pool`` k > 1 each family draws k times its quota and keeps
    every k-th document by size: a small corpus then holds the same spread
    of sizes for every seed (a dozen mega documents alone would otherwise
    swing its bytes by a fifth)."""
    left = {f: q * size_pool for f, q in quotas(n_docs, weights).items()}
    drawn: dict[str, list] = {f: [] for f in left}
    index = 0
    # every family holds at least 2% of the stream, so 100x is never reached
    while any(left.values()):
        if index > 100 * n_docs * size_pool:
            raise RuntimeError(f"family quotas {left} not filled after {index} documents")
        doc_id, spans, family = generate_document(index, seed)
        if left.get(family, 0) > 0:
            left[family] -= 1
            drawn[family].append((index, (doc_id, spans, family)))
        index += 1
    kept = []
    for family, docs in drawn.items():
        docs.sort(key=lambda d: sum(len(s["text"] or "") for s in d[1][1]))
        kept.extend(docs[size_pool // 2 :: size_pool])
    return [doc for _, doc in sorted(kept, key=lambda d: d[0])]


def html_of(spans) -> str:
    return spans_to_html(sorted(spans, key=lambda s: s["offset"]))


def describe(docs, n_splits: int) -> dict:
    """What the run extracted: doc count, HTML bytes, family histogram and
    the number of input splits Spark reads."""
    html_bytes = sum(len(html_of(spans).encode("utf-8")) for _, spans, _ in docs)
    return {
        "docs": len(docs),
        "html_bytes": html_bytes,
        "families": dict(sorted(collections.Counter(f for _, _, f in docs).items())),
        "splits": n_splits,
    }


def write_corpus(docs, path: str, n_files: int) -> None:
    """Write the documents as ``(doc_id, spans)`` parquet, spread over
    ``n_files`` files by a hash of ``doc_id``, the bucketed layout an ingest
    job leaves (bench.py writes its corpus as 64 such files)."""
    import os
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nreadspark.spans import arrow_span_struct

    buckets: list[list] = [[] for _ in range(n_files)]
    for doc in docs:
        buckets[zlib.crc32(doc[0].encode()) % n_files].append(doc)
    os.makedirs(path)
    for i, bucket in enumerate(buckets):
        table = pa.table(
            {
                "doc_id": pa.array([d[0] for d in bucket], pa.string()),
                "spans": pa.array([d[1] for d in bucket], pa.list_(arrow_span_struct())),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
