"""Deterministic synthetic interleaved-documents corpus (FIXTURES.md §1).

Documents are generated purely from ``(seed, doc index)`` so any row can be
re-created independently on any executor -- generation is distributed via
``mapInArrow`` over ``spark.range`` (no driver-side materialization, no
collected state), which is what makes the generator usable at bench scale
and beyond.

Families mirror the reference's SampleInput corpus shapes
(/root/reference/Src/NReadability/NReadability.Tests/SampleInput/): chrome
that must be stripped, media that must survive, div soup, sparse docs that
trigger the fallback re-run, title variants, a mega-doc skew tail.
"""

from __future__ import annotations

import random

__all__ = ["generate_document", "generate_rows", "build_corpus_df", "FAMILIES"]

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum data table "
    "stream engine spark parquet arrow vector batch shuffle partition skew"
).split()

FAMILIES = (
    "plain_paragraphs",
    "article_with_chrome",
    "interleaved_media",
    "headers_blockquote_lists",
    "div_soup",
    "sparse_doc",
    "title_variants",
    "link_farm",
    "empty_article",
    "mega_doc",
)

# sampling weights at bench scale; mega docs are a deliberate skew tail
_FAMILY_WEIGHTS = (18, 22, 18, 10, 10, 5, 5, 6, 2, 4)


def _sentence(rng: random.Random, words: int) -> str:
    toks = [rng.choice(_WORDS) for _ in range(words)]
    toks[0] = toks[0].capitalize()
    # sprinkle commas: comma segments drive the reference's scoring (A1/A3)
    out = []
    for i, t in enumerate(toks):
        out.append(t)
        if i not in (0, len(toks) - 1) and rng.random() < 0.18:
            out[-1] = t + ","
    return " ".join(out) + "."


def _paragraph(rng: random.Random, sentences: int) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 18)) for _ in range(sentences))


def _chrome(rng: random.Random) -> tuple[str, str]:
    head_junk = (
        "<script type='text/javascript'>var x = 1 < 2 && 3 > 2;</script>"
        "<style>.x { color: red; }</style>"
        "<link rel='stylesheet' href='/site.css' />"
    )
    body_junk = (
        "<nav><a href='/'>home</a><a href='/about'>about</a></nav>"
        f"<div class='sidebar'><p>{_sentence(rng, 6)}</p><a href='#'>widget</a></div>"
        f"<div id='footer'><p>{_sentence(rng, 5)}</p></div>"
        f"<div class='comment'><p>{_sentence(rng, 7)}</p></div>"
        "<!-- chrome comment -->"
    )
    return head_junk, body_junk


def generate_document(doc_index: int, seed: int = 42) -> tuple[str, list[dict], str]:
    """Build one document: returns (doc_id, spans, family)."""
    rng = random.Random((seed << 32) ^ doc_index)
    family = rng.choices(FAMILIES, weights=_FAMILY_WEIGHTS, k=1)[0]
    doc_id = f"doc_{doc_index:08d}"
    spans: list[dict] = []

    def text(fragment: str) -> None:
        spans.append(
            {"kind": "text", "text": fragment, "media_ref": None, "offset": len(spans)}
        )

    def image(k: int) -> None:
        spans.append(
            {
                "kind": "image",
                "text": "",
                "media_ref": f"img://{doc_id}/{k}",
                "offset": len(spans),
            }
        )

    def media(ref: str) -> None:
        spans.append(
            {"kind": "media", "text": "", "media_ref": ref, "offset": len(spans)}
        )

    if family == "title_variants":
        # exercise every E1 split rule (cs:773-831): pipe/dash split,
        # colon split, short-left keep-right, overlong title, Unicode
        variants = [
            f"Deep Dive Into Engines {doc_index} | Synthetic Site",
            f"Engines Deep Dive {doc_index} - Synthetic Site",
            f"Site: All About Engines Number {doc_index}",
            f"X | A Very Much Longer Right Hand Side Title {doc_index}",
            f"Silniki ąęłóżźńć {doc_index} | Świadomie o maszynach",
            "An Extremely Long Title That Just Keeps Going And Going "
            "With Far Too Many Words To Be A Reasonable Headline For Any "
            f"Article Page Number {doc_index} In This Synthetic Corpus "
            "Which Should Trigger The Length Fallback Rule",
        ]
        title = variants[doc_index % len(variants)]
    else:
        title = f"Doc {doc_index} Deep Dive Into Engines | Synthetic Site"

    if family == "empty_article":
        text("<html><head><title>empty</title></head><body></body></html>")
        return doc_id, spans, family

    head, junk = _chrome(rng)
    text(f"<html><head><title>{title}</title>{head}</head><body>")

    if family == "plain_paragraphs":
        text("<div id='content'>")
        for _ in range(rng.randint(4, 9)):
            text(f"<p>{_paragraph(rng, rng.randint(2, 5))}</p>")
        text("</div>")

    elif family == "article_with_chrome":
        text(junk)
        text("<div id='content' class='post'>")
        for _ in range(rng.randint(4, 10)):
            text(f"<p>{_paragraph(rng, rng.randint(2, 6))}</p>")
        text("</div>")
        text(junk)

    elif family == "interleaved_media":
        text("<div id='content' class='article'>")
        n_blocks = rng.randint(4, 8)
        for k in range(n_blocks):
            text(f"<p>{_paragraph(rng, rng.randint(2, 5))}</p>")
            if k == 1:
                image(k)
            elif k == 2:
                # http:// youtube survives cleaning; https does not get the
                # video exemption (NReadabilityTranscoder.cs:114)
                media("http://youtube.com/v/abc123")
        text("</div>")

    elif family == "headers_blockquote_lists":
        text("<article id='content'>")
        text(f"<h1>Header Level 1 number {doc_index}</h1>")
        for lvl in range(2, 7):
            text(f"<h{lvl}>Header Level {lvl}</h{lvl}>")
            text(f"<p>{_paragraph(rng, 3)}</p>")
        text(f"<blockquote><p>{_paragraph(rng, 2)}</p></blockquote>")
        items = "".join(f"<li>{_sentence(rng, 6)}</li>" for _ in range(4))
        text(f"<ul>{items}</ul>")
        text(f"<p>{_paragraph(rng, 4)}</p>")
        text("</article>")

    elif family == "div_soup":
        text("<div id='content'>")
        for _ in range(rng.randint(3, 6)):
            text(f"<div><div>{_paragraph(rng, 3)}</div></div>")
            text(f"<div><p>{_paragraph(rng, 2)}</p></div>")
        text(f"<div>first line<br /><br />second line, with enough text. {_paragraph(rng, 2)}</div>")
        text(f"<font size='3'>{_sentence(rng, 8)}</font>&nbsp;{_sentence(rng, 6)}")
        text("</div>")

    elif family == "sparse_doc":
        # little extractable content inside an unlikely-classed wrapper:
        # triggers the dont-strip fallback re-run (cs:369-382)
        text(f"<div class='sidebar'><p>{_sentence(rng, 10)}</p></div>")

    elif family == "title_variants":
        text("<div id='content'>")
        for _ in range(4):
            text(f"<p>{_paragraph(rng, 3)}</p>")
        text("</div>")

    elif family == "link_farm":
        text("<div id='content'>")
        for _ in range(rng.randint(4, 7)):
            text(f"<p>{_paragraph(rng, 4)}</p>")
        text("</div>")
        links = "".join(
            f"<a href='/list?page={k}'>{k}</a>" for k in range(2, rng.randint(4, 9))
        )
        text(f"<div class='pagination'>{links}</div>")

    elif family == "mega_doc":
        text("<div id='content'>")
        # 100-500 KB of paragraphs: the skew tail
        n = rng.randint(120, 600)
        for _ in range(n):
            text(f"<p>{_paragraph(rng, rng.randint(3, 6))}</p>")
        text("</div>")

    text("</body></html>")
    return doc_id, spans, family


def generate_rows(start: int, end: int, seed: int = 42):
    """Yield (doc_id, spans) tuples for a contiguous index range."""
    for i in range(start, end):
        doc_id, spans, _family = generate_document(i, seed)
        yield doc_id, spans


def build_corpus_df(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None):
    """Distributed corpus: one generator task per range partition; no data
    leaves the executors until the consumer asks for it."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from .pipeline import SPAN_TYPE, map_rows

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("spans", ArrayType(SPAN_TYPE), False),
        ]
    )

    num_partitions = num_partitions or max(spark.sparkContext.defaultParallelism, 8)
    return map_rows(
        spark.range(0, n_docs, numPartitions=num_partitions),
        ["id"],
        schema,
        lambda i: [generate_document(i, seed)[:2]],
    )
