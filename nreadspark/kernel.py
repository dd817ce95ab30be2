"""Per-document main-content extraction kernel (Arc90 readability semantics).

This is a from-scratch reimplementation of the *behaviour* of
``NReadability/NReadabilityTranscoder.cs`` (reference paths cited per
function), shaped as a pure function over one document so it can run
batch-vectorized inside a Spark ``mapInArrow`` worker.  It is NOT a port of
the C# execution model: the reference keeps mutable instance state
(``_elementsScores`` dict, ``_dontStripUnlikelys`` flip, cs:145,158); here all
state is function-local so one Python worker can process documents from many
Arrow batches concurrently and deterministically.

Faithfulness notes (traps from SURVEY.md §4.3):
  * grandparent rollup uses INTEGER division     (cs:1072)
  * segment count is ``count(',') + 1``          (cs:1293-1296)
  * top-candidate tie-break: first seen wins     (cs:1093-1097)
  * ``and`` inside OkMaybeItsACandidate protects e.g. class="standard" (cs:104)
  * <a> elements are never strip-removed         (cs:940)
  * scores do NOT survive into the cleaning phase: LINQ-to-XML's
    ``XContainer.Add`` clones parented nodes, so every element inside the
    article content element is a clone unknown to the reference's
    reference-keyed score dictionary (cs:1113-1216 + cs:1435-1438).  We move
    nodes instead of cloning (unobservable: the source document's body is
    wiped by GlueDocument, cs:917) and clear the score table to match.
  * the fallback is a full re-run with stripping off when the extracted text
    is shorter than 250 chars                     (cs:369-382)
  * video exemption regex is http:// only        (cs:114)
  * _MaxSiblingScoreTreshold is a minimum of 10  (cs:92-93,1136-1139)
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field, replace
from enum import Enum
from pathlib import Path
from urllib.parse import urljoin

from .dom import (
    CommentNode,
    Document,
    Node,
    TextNode,
    build_document,
    inner_html,
    parse_fragment,
    set_inner_html,
)
from .urlutil import find_base_url, get_host, is_absolute_url, resolve_element_url

# ---------------------------------------------------------------------------
# Algorithm constants (NReadabilityTranscoder.cs:76-97)
# ---------------------------------------------------------------------------

MIN_PARAGRAPH_LENGTH = 25
MIN_INNER_TEXT_LENGTH = 25
PARAGRAPH_SEGMENT_LENGTH = 100
MAX_POINTS_FOR_SEGMENTS_COUNT = 3
MIN_SIBLING_PARAGRAPH_LENGTH = 80
MIN_COMMA_SEGMENTS = 10
LIS_COUNT_THRESHOLD = 100
MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT = 2
MIN_INNER_TEXT_LENGTH_WITH_EMBED = 75
CLASS_WEIGHT_THRESHOLD = 25
MAX_EMBEDS_COUNT = 1
MAX_ARTICLE_TITLE_LENGTH = 150
MIN_ARTICLE_TITLE_LENGTH = 15
MIN_ARTICLE_TITLE_WORDS_COUNT_1 = 3
MIN_ARTICLE_TITLE_WORDS_COUNT_2 = 4
SIBLING_SCORE_THRESHOLD_COEFFICIENT = 0.2
MAX_SIBLING_SCORE_THRESHOLD = 10.0
MAX_SIBLING_PARAGRAPH_LINKS_DENSITY = 0.25
MAX_HEADER_LINKS_DENSITY = 0.33
MAX_DENSITY_SMALLER_CLASS_WEIGHT = 0.2
MAX_DENSITY_GREATER_CLASS_WEIGHT = 0.5
MIN_EXTRACTED_CONTENT_LENGTH = 250  # fallback re-run threshold (cs:370)

CONTENT_DIV_ID = "readability-content"
OVERLAY_DIV_ID = "readOverlay"
INNER_DIV_ID = "readInner"
READABILITY_STYLED_CLASS = "readability-styled"

# ---------------------------------------------------------------------------
# Algorithm regular expressions (NReadabilityTranscoder.cs:103-133)
# ---------------------------------------------------------------------------

UNLIKELY_CANDIDATES_RE = re.compile(
    r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|"
    r"shoutbox|sidebar|side|sponsor|ad-break|agegate|pagination|pager|popup|"
    r"tweet|twitter",
    re.I,
)
OK_MAYBE_ITS_A_CANDIDATE_RE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE_WEIGHT_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|pagination|post|text|blog|story",
    re.I,
)
NEGATIVE_WEIGHT_RE = re.compile(
    r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|side|sponsor|shopping|"
    r"tags|tool|widget",
    re.I,
)
NEGATIVE_LINK_PARENT_RE = re.compile(
    r"(stories|articles|news|documents|posts|notes|series|historie|artykuly|"
    r"artykuły|wpisy|dokumenty|serie|geschichten|erzählungen|erzahlungen)",
    re.I,
)
EXTRANEOUS_RE = re.compile(
    r"print|archive|comment|discuss|e[-]?mail|share|reply|all|login|sign|single|also",
    re.I,
)
END_OF_SENTENCE_RE = re.compile(r"\.( |$)", re.M)
BREAK_BEFORE_PARAGRAPH_RE = re.compile(r"<br[^>]*>\s*<p")
NORMALIZE_SPACES_RE = re.compile(r"\s{2,}")
KILL_BREAKS_RE = re.compile(r"(<br\s*\/?>(\s|&nbsp;?)*){1,}")
VIDEO_RE = re.compile(r"http:\/\/(www\.)?(youtube|vimeo)\.com", re.I)
REPLACE_DOUBLE_BRS_RE = re.compile(r"(<br[^>]*>[ \n\r\t]*){2,}", re.I)
REPLACE_FONTS_RE = re.compile(r"<(\/?)font[^>]*>", re.I)
ARTICLE_TITLE_DASH_RE_1 = re.compile(r" [\|\-] ")
ARTICLE_TITLE_DASH_RE_2 = re.compile(r"(.*)[\|\-] .*")
ARTICLE_TITLE_DASH_RE_3 = re.compile(r"[^\|\-]*[\|\-](.*)")
ARTICLE_TITLE_COLON_RE_1 = re.compile(r".*:(.*)")
ARTICLE_TITLE_COLON_RE_2 = re.compile(r"[^:]*[:](.*)")
NEXT_LINK_RE = re.compile(
    "(next|weiter|continue|dalej|następna|nastepna>([^\\|]|$)|�([^\\|]|$))", re.I
)
NEXT_STORY_LINK_RE = re.compile(
    r"(story|article|news|document|post|note|series|historia|artykul|artykuł|"
    r"wpis|dokument|seria|geschichte|erzählung|erzahlung|artikel|serie)",
    re.I,
)
PREV_LINK_RE = re.compile("(prev|earl|[^b]old|new|wstecz|poprzednia|<|�)", re.I)
PAGE_RE = re.compile(r"pag(e|ing|inat)|([^a-z]|^)pag([^a-z]|$)", re.I)
LIKELY_PARAGRAPH_DIV_RE = re.compile(r"text|para|parbase", re.I)
MAILTO_HREF_RE = re.compile(r"^\s*mailto\s*:", re.I)
TITLE_WHITESPACE_RE = re.compile(r"\s+")
FIRST_OR_LAST_RE = re.compile(r"(first|last)", re.I)
PAGING_URL_RE_1 = re.compile(r"p(a|g|ag)?(e|ing|ination)?(=|\/)[0-9]{1,2}", re.I)
PAGING_URL_RE_2 = re.compile(r"(page|paging)", re.I)
PAGING_URL_RE_3 = re.compile(r"section", re.I)
HAS_DIGIT_RE = re.compile(r"\d")
INT_RE = re.compile(r"^[+-]?\d+$")
HASH_FRAGMENT_RE = re.compile(r"#.*$")
TRAILING_SLASH_RE = re.compile(r"\/$")

# URL -> tag-name hints for the candidate search (cs:135-139)
ARTICLE_CONTENT_ELEMENT_HINTS = [
    (re.compile(r"^https?://(www|mobile)\.theverge.com", re.I), "article"),
]

# Structural equivalent of _DivToPElementsRegex (cs:109): the regex matches
# ``<`` + prefix anywhere in the serialized inner HTML, so any descendant tag
# *starting with* one of these strings matches (e.g. <abbr> matches "<a").
_BLOCK_TAG_PREFIXES = ("a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")

# float.Epsilon comparison (UtilityExtensions.cs:30-33) is effectively == 0
_FLOAT_EPSILON = 1.401298e-45


class ReadingStyle(Enum):
    """Article styling theme (Enums.cs:26-46)."""

    Newspaper = "Newspaper"
    Novel = "Novel"
    Ebook = "Ebook"
    Terminal = "Terminal"


class ReadingMargin(Enum):
    """Article margin width (Enums.cs:51-76)."""

    XNarrow = "XNarrow"
    Narrow = "Narrow"
    Medium = "Medium"
    Wide = "Wide"
    XWide = "XWide"


class ReadingSize(Enum):
    """Article font size (Enums.cs:81-108)."""

    XSmall = "XSmall"
    Small = "Small"
    Medium = "Medium"
    Large = "Large"
    XLarge = "XLarge"


# Defaults mirror NReadabilityTranscoder.cs:59-69.
DEFAULT_READING_STYLE = ReadingStyle.Newspaper
DEFAULT_READING_MARGIN = ReadingMargin.Wide
DEFAULT_READING_SIZE = ReadingSize.Medium


@dataclass
class Options:
    """Transcoder options (cs:176-213 constructor parameters)."""

    dont_strip_unlikelys: bool = False
    dont_normalize_spaces: bool = False
    dont_weight_classes: bool = False
    image_source_transformer: object = None  # callable(value, element) -> (new, orig_attr_name|None)
    anchor_href_transformer: object = None
    reading_style: ReadingStyle = DEFAULT_READING_STYLE
    reading_margin: ReadingMargin = DEFAULT_READING_MARGIN
    reading_size: ReadingSize = DEFAULT_READING_SIZE


@dataclass
class TranscodeResult:
    document: Document
    article_content: Node
    content_extracted: bool
    title: str | None
    next_page_url: str | None
    metrics: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Traversers (ElementsTraverser.cs:46-63, ChildNodesTraverser.cs:46-63)
# ---------------------------------------------------------------------------


def traverse_elements(root: Node, visitor) -> None:
    """Pre-order element traversal with the reference's removal-safety: the
    next sibling is captured before visiting a child.  The reference keeps
    walking the children of an element its visitor just removed; those nodes
    are detached and every mutation to them is unobservable, so we skip them
    (pure optimization, same observable behaviour).  Iterative to survive
    arbitrarily deep documents."""
    visitor(root)
    # frames: (parent_element, captured_next_node, index_hint)
    stack = []
    element = root
    child = element.children[0] if element.children else None
    hint = 0
    while True:
        while child is not None:
            ch = element.children
            # capture next before visiting (removal-safe; nodes inserted
            # before the current child are never visited, like the reference).
            # The index hint makes the common no-mutation case O(1) instead
            # of O(width) -- crucial for mega-documents with hundreds of
            # sibling paragraphs.
            if hint < len(ch) and ch[hint] is child:
                idx = hint
            else:
                try:
                    idx = ch.index(child)
                except ValueError:
                    idx = -1
            if idx >= 0:
                nxt = ch[idx + 1] if idx + 1 < len(ch) else None
            else:
                nxt = None
            if child.is_element:
                had_parent = child.parent
                visitor(child)
                if child.parent is not None or had_parent is None:
                    stack.append((element, nxt, idx + 1))
                    element = child
                    child = element.children[0] if element.children else None
                    hint = 0
                    continue
                # child was removed: nxt now sits where child was
                hint = idx
            else:
                hint = idx + 1
            child = nxt
        if not stack:
            return
        element, child, hint = stack.pop()


def traverse_child_nodes(element: Node, visitor) -> None:
    """Visit direct child nodes with next captured before the visit."""
    child = element.children[0] if element.children else None
    hint = 0
    while child is not None:
        ch = element.children
        if hint < len(ch) and ch[hint] is child:
            idx = hint
        else:
            try:
                idx = ch.index(child)
            except ValueError:
                idx = -1
        # idx == -1 means the current child was detached by a previous
        # visitor: stop rather than restarting from ch[0] (double visits /
        # non-termination if a visitor removes its captured next sibling)
        nxt = ch[idx + 1] if idx >= 0 and idx + 1 < len(ch) else None
        visitor(child)
        # if the visitor removed/replaced the child, nxt slid into its slot
        ch = element.children
        hint = idx + 1 if (0 <= idx < len(ch) and ch[idx] is child) else max(idx, 0)
        child = nxt


# ---------------------------------------------------------------------------
# Scalar helpers (§2.3 of SURVEY.md)
# ---------------------------------------------------------------------------


def get_inner_text(node, dont_normalize_spaces: bool = False) -> str:
    """GetInnerText (cs:1345-1380): element/text value, trimmed, whitespace
    runs collapsed unless disabled."""
    if node is None:
        raise ValueError("node is required")
    if node.is_element:
        result = node.value
    elif node.is_text:
        result = node.value
    else:
        raise TypeError("comments have no inner text")
    result = result.strip()
    if not dont_normalize_spaces:
        return NORMALIZE_SPACES_RE.sub(" ", result)
    return result


def get_segments_count(s: str, ch: str) -> int:
    """GetSegmentsCount (cs:1293-1296): separator occurrences + 1."""
    return s.count(ch) + 1


def _normalize_inner(raw: str, dont_normalize_spaces: bool) -> str:
    raw = raw.strip()
    if not dont_normalize_spaces:
        return NORMALIZE_SPACES_RE.sub(" ", raw)
    return raw


def _normalized_length(raw: str, dont_normalize_spaces: bool) -> int:
    """len(_normalize_inner(raw, ...)) without building the string.

    Equality proof: str.split()/str.strip() and the regex ``\\s`` agree on
    the whitespace set, and every interior whitespace run contributes
    exactly one character after collapse (a run of one keeps its char, a
    run of 2+ becomes one space) -- so the normalized length is
    sum(token lengths) + (token count - 1).  The scoring/cleaning paths
    only consume lengths and comma counts (both normalization-invariant),
    which lets them skip the regex entirely."""
    if dont_normalize_spaces:
        return len(raw.strip())
    parts = raw.split()
    if not parts:
        return 0
    return sum(map(len, parts)) + len(parts) - 1


def _collect_anchor_texts(element: Node, parts: list, anchor_texts: list) -> None:
    """One pre-order walk collecting the element's raw text (into ``parts``)
    and each descendant anchor's raw subtree text (into ``anchor_texts``).
    Nested anchors double-count their text, exactly like the reference's
    per-anchor ``GetInnerText`` calls (NReadabilityTranscoder.cs:1275-1291)."""
    open_bufs: list[list] = []
    stack: list = [(c, False) for c in reversed(element.children)]
    while stack:
        node, is_exit = stack.pop()
        if is_exit:
            anchor_texts.append("".join(open_bufs.pop()))
            continue
        if node.is_text:
            v = node.value
            parts.append(v)
            for b in open_bufs:
                b.append(v)
        elif node.is_element:
            if node.tag == "a":
                stack.append((node, True))
                open_bufs.append([])
            if node.children:
                stack.extend((c, False) for c in reversed(node.children))


def get_links_density(element: Node, dont_normalize_spaces: bool = False) -> float:
    """GetLinksDensity (cs:1275-1291).  Single subtree pass (the reference
    rescans per anchor; results are identical); only normalized LENGTHS are
    needed, so the collapse regex is never run."""
    parts: list = []
    anchor_texts: list = []
    _collect_anchor_texts(element, parts, anchor_texts)
    length = _normalized_length("".join(parts), dont_normalize_spaces)
    if length == 0:
        return 0.0
    links_length = sum(
        _normalized_length(t, dont_normalize_spaces) for t in anchor_texts
    )
    return links_length / length


def get_class_weight(element: Node, dont_weight_classes: bool = False) -> int:
    """GetClassWeight (cs:1301-1343): ±25 for class and id independently."""
    if dont_weight_classes:
        return 0
    weight = 0
    element_class = element.get_class()
    if element_class:
        if NEGATIVE_WEIGHT_RE.search(element_class):
            weight -= 25
        if POSITIVE_WEIGHT_RE.search(element_class):
            weight += 25
    element_id = element.get_id()
    if element_id:
        if NEGATIVE_WEIGHT_RE.search(element_id):
            weight -= 25
        if POSITIVE_WEIGHT_RE.search(element_id):
            weight += 25
    return weight


def get_user_style_class(prefix: str, enum_str: str) -> str:
    """GetUserStyleClass (cs:1532-1561): CamelCase -> prefix-kebab-case."""
    out = []
    seen_upper = False
    for ch in enum_str:
        if ch.isupper():
            if seen_upper:
                out.append("-")
            seen_upper = True
            out.append(ch.lower())
        else:
            out.append(ch)
    return f"{prefix}-{''.join(out)}".rstrip("-")


def _has_block_descendant(element: Node) -> bool:
    for el in element.iter_descendant_elements():
        if el.tag.startswith(_BLOCK_TAG_PREFIXES):
            return True
    return False


def _video_in_subtree(element: Node) -> bool:
    """_VideoRegex over GetAttributesString + GetInnerHtml (cs:1406-1411),
    done structurally (attribute values / text / comments of descendants)."""
    if VIDEO_RE.search(element.attributes_string("|")):
        return True
    for node in element.iter_descendants():
        if node.is_element:
            for v in node.attrs.values():
                if v and VIDEO_RE.search(v):
                    return True
        elif VIDEO_RE.search(node.value):
            return True
    return False


def _get_or_create_body(document: Document) -> Node:
    """GetOrCreateBody (cs:1567-1586)."""
    body = document.get_body()
    if body is None:
        htmls = document.children_by_tag_name("html")
        if htmls:
            html_el = htmls[0]
        else:
            html_el = Node("html")
            document.add_root(html_el)
        body = Node("body")
        body.parent = html_el
        html_el.children.append(body)
    return body


# ---------------------------------------------------------------------------
# Stage F1-F6: PrepareDocument (cs:697-771)
# ---------------------------------------------------------------------------


def prepare_document(document: Document, opts: Options | None = None) -> None:
    opts = opts or Options()
    body = _get_or_create_body(document)
    root = document.root

    # F1-F4 condemned-node collection fused into ONE pre-order walk (the
    # reference scans the tree once per tag, cs:700-761; the removal set is
    # identical, removal order is unobservable)
    comments: list = []
    to_remove: list = []
    br_count = 0
    has_font = False
    stack = [root]
    while stack:
        node = stack.pop()
        if node.is_comment:
            comments.append(node)
            continue
        if not node.is_element:
            continue
        tag = node.tag
        if tag == "script":
            src = node.get_attribute("src")
            if not src or "readability" not in src:
                to_remove.append(node)
        elif tag in ("noscript", "style", "nav"):
            to_remove.append(node)
        elif tag == "link":
            if (
                node.get_attribute("rel", "").strip().lower() == "stylesheet"
                and "readability" not in node.get_attribute("href", "")
            ):
                to_remove.append(node)
        elif tag == "a":
            if node.get_attribute("name") is not None and node.get_attribute("href") is None:
                to_remove.append(node)
        elif tag == "br":
            br_count += 1
        elif tag == "font":
            has_font = True
        if node.children:
            stack.extend(node.children)
    _remove_elements(comments)
    _remove_elements(to_remove)

    # F5/F6: double-<br> -> paragraph break, <font> -> <span>, then re-parse.
    # The reference always serializes + re-parses (cs:765-770); we skip the
    # re-parse when the regexes changed nothing (serialize∘parse is a fixpoint
    # for freshly parsed trees, so the skip is unobservable) and skip the
    # serialize entirely when the tree holds neither a <font> nor 2+ <br>s
    # (the regexes cannot match escaped text, so they'd be no-ops)
    if br_count >= 2 or has_font:
        body_html = inner_html(body)
        new_html = REPLACE_DOUBLE_BRS_RE.sub("</p><p>", body_html)
        new_html = REPLACE_FONTS_RE.sub(r"<\1span>", new_html)
        if new_html != body_html:
            set_inner_html(body, new_html)


def _remove_elements(elements) -> None:
    for el in elements:
        el.remove()


# ---------------------------------------------------------------------------
# Stage F10: URL resolution (cs:1593-1674)
# ---------------------------------------------------------------------------


def resolve_elements_urls(document, tag_name, attribute_name, url, transformer=None):
    for element in document.elements_by_tag_name(tag_name):
        value = element.get_attribute(attribute_name)
        if value is None:
            continue
        value = resolve_element_url(value, url)
        if not value:
            continue
        if transformer is not None:
            transformed, orig_attr = transformer(value, element)
        else:
            transformed, orig_attr = value, None
        element.set_attribute(attribute_name, transformed)
        if orig_attr:
            element.set_attribute(orig_attr, value)


# ---------------------------------------------------------------------------
# Stage F7/F8: StripUnlikelyCandidates (cs:921-989)
# ---------------------------------------------------------------------------


def strip_unlikely_candidates(document: Document, opts: Options | None = None) -> None:
    opts = opts or Options()
    if opts.dont_strip_unlikelys:
        return
    root = document.root
    if root is None:
        return

    def visitor(element: Node) -> None:
        name = element.tag
        match_string = element.get_class() + " " + element.get_id()
        if (
            name != "body"
            and name != "a"
            and UNLIKELY_CANDIDATES_RE.search(match_string)
            and not OK_MAYBE_ITS_A_CANDIDATE_RE.search(match_string)
        ):
            if element.parent is not None:
                element.remove()
            return
        if name == "div":
            if not _has_block_descendant(element):
                element.tag = "p"  # SetElementName (cs:961)
            else:

                def wrap_text(child):
                    if not child.is_text or len(get_inner_text(child, opts.dont_normalize_spaces)) == 0:
                        return
                    para = Node("p")
                    # raw text preserved (cs:977-978), then re-parsed
                    set_inner_html(para, child.value)
                    para.set_attribute("class", READABILITY_STYLED_CLASS)
                    para.set_attribute("style", "display: inline;")
                    # ReplaceWith
                    parent = child.parent
                    idx = parent.children.index(child)
                    para.parent = parent
                    parent.children[idx] = para
                    child.parent = None

                traverse_child_nodes(element, wrap_text)

    traverse_elements(root, visitor)


# ---------------------------------------------------------------------------
# Stage F9: CollapseRedundantParagraphDivs (cs:991-1022)
# ---------------------------------------------------------------------------


def collapse_redundant_paragraph_divs(document: Document) -> None:
    root = document.root
    if root is None:
        return

    def visitor(element: Node) -> None:
        if element.tag != "div":
            return
        if len(element.children) != 1:
            return
        child = element.children[0]
        if not child.is_element or child.tag != "p":
            return
        if element.parent is None:
            return
        # AddBeforeSelf clones the (parented) paragraph in the reference; the
        # original inside the removed div is detached -> moving is equivalent.
        parent = element.parent
        idx = parent.children.index(element)
        child.parent = parent
        element.children = []
        parent.children.insert(idx, child)
        element.remove()

    traverse_elements(root, visitor)


# ---------------------------------------------------------------------------
# Stage A3/A4: FindCandidatesForArticleContent (cs:1024-1077)
# ---------------------------------------------------------------------------


def find_candidates_for_article_content(
    document: Document, opts: Options | None = None, hint: str | None = None
):
    """Returns (candidates list in first-touch order, scores dict keyed by
    id(node)).  The reference stores both in instance state (cs:158,1038)."""
    opts = opts or Options()
    scores: dict[int, float] = {}
    if hint:
        hinted = next(document.elements_by_tag_name(hint), None)
        if hinted is not None:
            return [hinted], scores

    candidates: dict[int, Node] = {}
    for para in document.elements_list_by_tag_name("p"):
        # only the normalized LENGTH and the comma count (normalization-
        # invariant) feed the score -- skip building the normalized string
        raw = para.value
        text_length = _normalized_length(raw, opts.dont_normalize_spaces)
        if text_length < MIN_PARAGRAPH_LENGTH:
            continue
        parent = para.parent
        grandparent = parent.parent if parent is not None else None
        score = 1  # a point for the paragraph itself
        score += get_segments_count(raw, ",")
        score += min(text_length // PARAGRAPH_SEGMENT_LENGTH, MAX_POINTS_FOR_SEGMENTS_COUNT)

        if parent is not None and parent.tag != "html":
            candidates.setdefault(id(parent), parent)
            scores[id(parent)] = scores.get(id(parent), 0.0) + score
        if grandparent is not None and grandparent.tag != "html":
            candidates.setdefault(id(grandparent), grandparent)
            # integer division, score is an int (cs:1072)
            scores[id(grandparent)] = scores.get(id(grandparent), 0.0) + score // 2
    return list(candidates.values()), scores


# ---------------------------------------------------------------------------
# Stage T1: DetermineTopCandidateElement (cs:1079-1111)
# ---------------------------------------------------------------------------


def determine_top_candidate(document: Document, candidates, scores, opts: Options | None = None) -> Node:
    opts = opts or Options()
    top = None
    for candidate in candidates:
        score = scores.get(id(candidate), 0.0)
        new_score = (1.0 - get_links_density(candidate, opts.dont_normalize_spaces)) * score
        scores[id(candidate)] = new_score
        if top is None or new_score > scores.get(id(top), 0.0):
            top = candidate

    if top is None or top.tag == "body":
        top = Node("div")
        body = _get_or_create_body(document)
        for node in body.children:
            top.append_child(node)  # clones: body keeps its nodes (cs:1107)
    return top


# ---------------------------------------------------------------------------
# Stage J1: CreateArticleContentElement (cs:1113-1216)
# ---------------------------------------------------------------------------


def create_article_content_element(document: Document, top: Node, scores, opts: Options | None = None) -> Node:
    opts = opts or Options()
    article = Node("div")
    article.set_attribute("id", CONTENT_DIV_ID)

    parent = top.parent
    if parent is None:
        article.append_moved(top)
        return article

    siblings = parent.child_elements()
    top_score = scores.get(id(top), 0.0)
    sibling_threshold = max(
        MAX_SIBLING_SCORE_THRESHOLD, SIBLING_SCORE_THRESHOLD_COEFFICIENT * top_score
    )
    top_class = top.get_class()

    for sibling in siblings:
        append = False
        content_bonus = 0.0
        if top_class and sibling.get_class() == top_class:
            content_bonus += top_score * SIBLING_SCORE_THRESHOLD_COEFFICIENT

        if sibling is top:
            append = True
        elif scores.get(id(sibling), 0.0) + content_bonus >= sibling_threshold:
            append = True
        elif sibling.tag == "p":
            text = get_inner_text(sibling, opts.dont_normalize_spaces)
            if len(text) > 0:
                if len(text) >= MIN_SIBLING_PARAGRAPH_LENGTH:
                    append = (
                        get_links_density(sibling, opts.dont_normalize_spaces)
                        < MAX_SIBLING_PARAGRAPH_LINKS_DENSITY
                    )
                else:
                    append = (
                        abs(get_links_density(sibling, opts.dont_normalize_spaces))
                        < _FLOAT_EPSILON
                        and END_OF_SENTENCE_RE.search(text) is not None
                    )

        if append:
            # Reference clones parented siblings (XContainer.Add); moving is
            # equivalent because the body is wiped in GlueDocument and the
            # score table is cleared before the cleaning phase (see module doc).
            if sibling.tag in ("div", "p"):
                article.append_moved(sibling)
            else:
                wrapper = Node("div")
                wrapper.set_attribute("id", sibling.get_id())
                wrapper.set_attribute("class", sibling.get_class())
                for node in sibling.children[:]:
                    wrapper.append_moved(node)
                article.append_moved(wrapper)
    return article


# ---------------------------------------------------------------------------
# Stage C1-C8: PrepareArticleContentElement (cs:1218-1273)
# ---------------------------------------------------------------------------


def prepare_article_content_element(article: Node, scores, opts: Options | None = None) -> None:
    opts = opts or Options()
    clean_styles(article)
    kill_breaks(article)

    clean(article, "form")
    clean(article, "object")
    h1_count = h2_count = 0
    for el in article.iter_descendant_elements():
        if el.tag == "h1":
            h1_count += 1
        elif el.tag == "h2":
            h2_count += 1
    if h1_count == 1:
        clean(article, "h1")
    if h2_count == 1:
        clean(article, "h2")
    clean(article, "iframe")
    clean_headers(article, opts)

    clean_conditionally(article, "table", scores, opts)
    clean_conditionally(article, "ul", scores, opts)
    clean_conditionally(article, "div", scores, opts)

    # remove paragraphs with no text / images / embeds / objects (cs:1247-1269)
    # -- one fused walk per <p>: text presence and all three media tags are
    # checked in the same traversal instead of up to four subtree scans
    to_remove = []
    for para in article.elements_list_by_tag_name("p"):
        # GetInnerText-normalized emptiness == raw whitespace-only (trim+
        # collapse cannot turn non-whitespace into empty), so skip the regex
        keep = False
        stack = list(para.children)
        while stack:
            node = stack.pop()
            if node.is_element:
                if node.tag in ("img", "embed", "object"):
                    keep = True
                    break
                if node.children:
                    stack.extend(node.children)
            elif node.is_text and node.value.strip():
                keep = True
                break
        if not keep:
            to_remove.append(para)
    _remove_elements(to_remove)

    # remove <br>s directly before paragraphs (cs:1272); serialize only when
    # a <br> survives the cleaning passes
    if _subtree_has_tag(article, "br"):
        html = inner_html(article)
        new_html = BREAK_BEFORE_PARAGRAPH_RE.sub("<p", html)
        if new_html != html:
            set_inner_html(article, new_html)


def clean_styles(root: Node) -> None:
    """CleanStyles (cs:1515-1530).  Attribute-only mutation: a plain
    pre-order iteration visits the same element set as the removal-safe
    traverser (nothing is detached), without its per-step bookkeeping."""
    if READABILITY_STYLED_CLASS not in root.get_class():
        root.attrs.pop("style", None)
    stack = list(root.children)
    while stack:
        node = stack.pop()
        if node.is_element:
            if READABILITY_STYLED_CLASS not in node.get_class():
                node.attrs.pop("style", None)
            if node.children:
                stack.extend(node.children)


def _subtree_has_tag(element: Node, tag: str) -> bool:
    stack = list(element.children)
    while stack:
        node = stack.pop()
        if node.is_element:
            if node.tag == tag:
                return True
            if node.children:
                stack.extend(node.children)
    return False


def kill_breaks(element: Node) -> None:
    """KillBreaks (cs:1385-1388); re-parse skipped when nothing matched and
    the serialize skipped when no <br> exists (the regex needs a literal
    '<br', which escaped text/attributes cannot produce)."""
    if not _subtree_has_tag(element, "br"):
        return
    html = inner_html(element)
    new_html = KILL_BREAKS_RE.sub("<br />", html)
    if new_html != html:
        set_inner_html(element, new_html)


def clean(root: Node, element_name: str) -> None:
    """Clean (cs:1394-1417): drop all elements of a tag; video embeds survive."""
    is_embed = element_name in ("object", "embed")
    to_remove = []
    for element in root.elements_list_by_tag_name(element_name):
        if is_embed and _video_in_subtree(element):
            continue
        to_remove.append(element)
    _remove_elements(to_remove)


_HEADER_TAGS = frozenset(f"h{level}" for level in range(1, 7))


def clean_headers(element: Node, opts: Options | None = None) -> None:
    """CleanHeaders (cs:1491-1510).  One subtree walk instead of six
    per-level scans; the removal set is identical (predicates are pure)."""
    opts = opts or Options()
    to_remove = []
    for header in element.iter_descendant_elements():
        if header.tag in _HEADER_TAGS and (
            get_class_weight(header, opts.dont_weight_classes) < 0
            or get_links_density(header, opts.dont_normalize_spaces)
            > MAX_HEADER_LINKS_DENSITY
        ):
            to_remove.append(header)
    _remove_elements(to_remove)


def element_looks_like_paragraph_div(element: Node) -> bool:
    """ElementLooksLikeParagraphDiv (cs:1686-1716)."""
    if element.tag != "div":
        return False
    if not LIKELY_PARAGRAPH_DIV_RE.search(element.get_class()):
        return False
    if len(element.children) == 1:
        child = element.children[0]
        if child.is_element and child.tag == "p":
            return True
    return False


def clean_conditionally(root: Node, element_name: str, scores, opts: Options | None = None) -> None:
    """CleanConditionally (cs:1423-1486)."""
    opts = opts or Options()
    to_remove = []
    for element in root.elements_list_by_tag_name(element_name):
        weight = get_class_weight(element, opts.dont_weight_classes)
        score = scores.get(id(element), 0.0)

        if weight + score < 0.0:
            to_remove.append(element)
            continue

        if element_looks_like_paragraph_div(element):
            continue

        # single fused subtree pass for text, anchor texts, and tag counts
        # (the reference walks the subtree once per aggregate, cs:1449-1464;
        # values are identical)
        parts: list = []
        anchor_texts: list = []
        ps_count = imgs_count = lis_count = inputs_count = embeds_count = 0
        open_bufs: list[list] = []
        stack: list = [(c, False) for c in reversed(element.children)]
        while stack:
            node, is_exit = stack.pop()
            if is_exit:
                anchor_texts.append("".join(open_bufs.pop()))
                continue
            if node.is_text:
                v = node.value
                parts.append(v)
                for b in open_bufs:
                    b.append(v)
            elif node.is_element:
                tag = node.tag
                if tag == "p":
                    ps_count += 1
                elif tag == "img":
                    imgs_count += 1
                elif tag == "li":
                    lis_count += 1
                elif tag == "input":
                    inputs_count += 1
                elif tag == "embed":
                    if not VIDEO_RE.search(node.get_attribute("src", "")):
                        embeds_count += 1
                elif tag == "a":
                    stack.append((node, True))
                    open_bufs.append([])
                if node.children:
                    stack.extend((c, False) for c in reversed(node.children))

        # segments + lengths are normalization-invariant: no regex needed
        raw_text = "".join(parts)
        if get_segments_count(raw_text, ",") < MIN_COMMA_SEGMENTS:
            text_length = _normalized_length(raw_text, opts.dont_normalize_spaces)
            if text_length == 0:
                links_density = 0.0
            else:
                links_density = (
                    sum(
                        _normalized_length(t, opts.dont_normalize_spaces)
                        for t in anchor_texts
                    )
                    / text_length
                )
            name = element_name.strip().lower()
            remove = (
                (imgs_count > ps_count)
                or (lis_count - LIS_COUNT_THRESHOLD > ps_count and name not in ("ul", "ol"))
                or (inputs_count > ps_count // 3)
                or (
                    text_length < MIN_INNER_TEXT_LENGTH
                    and (imgs_count == 0 or imgs_count > MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT)
                )
                or (weight < CLASS_WEIGHT_THRESHOLD and links_density > MAX_DENSITY_SMALLER_CLASS_WEIGHT)
                or (weight >= CLASS_WEIGHT_THRESHOLD and links_density > MAX_DENSITY_GREATER_CLASS_WEIGHT)
                or (
                    embeds_count > MAX_EMBEDS_COUNT
                    or (embeds_count == MAX_EMBEDS_COUNT and text_length < MIN_INNER_TEXT_LENGTH_WITH_EMBED)
                )
            )
            if remove:
                to_remove.append(element)
    _remove_elements(to_remove)


# ---------------------------------------------------------------------------
# Stage E1: ExtractArticleTitle (cs:773-831)
# ---------------------------------------------------------------------------


def extract_article_title(document: Document, opts: Options | None = None) -> Node | None:
    opts = opts or Options()
    body = _get_or_create_body(document)
    document_title = document.get_title_text() or ""
    current_title = document_title

    if ARTICLE_TITLE_DASH_RE_1.search(current_title):
        current_title = ARTICLE_TITLE_DASH_RE_2.sub(r"\1", document_title)
        if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
            current_title = ARTICLE_TITLE_DASH_RE_3.sub(r"\1", document_title)
    elif ": " in current_title:
        current_title = ARTICLE_TITLE_COLON_RE_1.sub(r"\1", document_title)
        if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
            current_title = ARTICLE_TITLE_COLON_RE_2.sub(r"\1", document_title)
    elif (
        len(current_title) > MAX_ARTICLE_TITLE_LENGTH
        or len(current_title) < MIN_ARTICLE_TITLE_LENGTH
    ):
        title_headers = body.elements_list_by_tag_name("h1")
        if not title_headers:
            title_headers = body.elements_list_by_tag_name("h2")
        if len(title_headers) == 1:
            current_title = get_inner_text(title_headers[0], opts.dont_normalize_spaces)

    current_title = (current_title or "").strip()

    if document_title and len(current_title.split(" ")) <= MIN_ARTICLE_TITLE_WORDS_COUNT_2:
        current_title = document_title

    if not current_title:
        return None

    title_element = Node("h1")
    set_inner_html(title_element, current_title)
    return title_element


# ---------------------------------------------------------------------------
# Stage E2: GlueDocument (cs:856-919)
# ---------------------------------------------------------------------------

def _load_readability_stylesheet() -> str:
    """The reference embeds Resources/readability.css as an assembly
    resource and injects it verbatim (NReadabilityTranscoder.cs:1504-1519;
    the StreamReader consumes the BOM).  We vendor the same Apache-2.0
    asset as package data; a structural placeholder keeps the pipeline
    alive if the data file is missing from a stripped py-files zip."""
    try:
        return (Path(__file__).parent / "resources" / "readability.css").read_text(
            encoding="utf-8"
        )
    except OSError:
        return (
            "/* nreadspark fallback stylesheet (readability.css asset missing) */\n"
            "body { margin: 0; padding: 0; }\n"
            "#readInner { max-width: 42em; margin: 0 auto; }\n"
        )


READABILITY_STYLESHEET = _load_readability_stylesheet()


def glue_document(
    document: Document, title_element, article_content, opts: Options | None = None
) -> None:
    body = _get_or_create_body(document)

    head = next(document.elements_by_tag_name("head"), None)
    if head is None:
        head = Node("head")
        head = body.insert_before_self(head)

    style = Node("style")
    style.set_attribute("type", "text/css")
    css_text = TextNode(READABILITY_STYLESHEET)
    css_text.parent = style
    style.children.append(css_text)
    head.append_moved(style)

    opts = opts or Options()
    reading_style_class = get_user_style_class("style", opts.reading_style.value)
    body.set_attribute("class", reading_style_class)
    body.set_attribute("style", "display: block;")

    inner_div = Node("div")
    inner_div.set_attribute("id", INNER_DIV_ID)
    inner_div.set_attribute(
        "class",
        get_user_style_class("margin", opts.reading_margin.value)
        + " "
        + get_user_style_class("size", opts.reading_size.value),
    )
    # XContainer.Add semantics: detached elements (the normal pipeline case)
    # are moved, parented ones (e.g. a caller passing the body) are cloned.
    if title_element is not None:
        inner_div.append_child(title_element)
    if article_content is not None:
        inner_div.append_child(article_content)

    overlay_div = Node("div")
    overlay_div.set_attribute("id", OVERLAY_DIV_ID)
    overlay_div.set_attribute("class", reading_style_class)
    overlay_div.append_moved(inner_div)

    # XElement.RemoveAll also wipes body's attributes -- including the
    # class/style just set above.  Reference does exactly this (cs:890-918).
    body.remove_all()
    body.append_moved(overlay_div)


# ---------------------------------------------------------------------------
# Stage E3: ExtractTitle (cs:1718-1741)
# ---------------------------------------------------------------------------


def extract_title(document: Document) -> str | None:
    if document.root is None:
        return None
    first_h1 = next(document.root.elements_by_tag_name("h1"), None)
    if first_h1 is None:
        return None
    extracted = first_h1.value
    if extracted:
        extracted = TITLE_WHITESPACE_RE.sub(" ", extracted).strip()
    return extracted or None


# ---------------------------------------------------------------------------
# Stage T2/J3: FindNextPageLink (cs:397-614)
# ---------------------------------------------------------------------------


def _try_parse_int(s: str):
    s = s.strip()
    if INT_RE.match(s):
        v = int(s)
        if -(2**31) <= v <= 2**31 - 1:
            return v
    return None


def find_next_page_link(body: Node, url: str, opts: Options | None = None) -> str | None:
    opts = opts or Options()
    possible_pages: dict[str, dict] = {}
    article_base_url = find_base_url(url)
    base_host = get_host(article_base_url) if is_absolute_url(article_base_url) else None

    for link_element in body.elements_list_by_tag_name("a"):
        link_href = link_element.get_attribute("href")
        if not link_href or MAILTO_HREF_RE.match(link_href):
            continue
        link_href = HASH_FRAGMENT_RE.sub("", link_href)
        link_href = TRAILING_SLASH_RE.sub("", link_href)
        if link_href == "" or link_href == article_base_url or link_href == url:
            continue

        # different domain -> skip
        if is_absolute_url(link_href):
            link_host = get_host(link_href)
            if base_host is not None and link_host != base_host:
                continue

        link_text = get_inner_text(link_element, opts.dont_normalize_spaces)
        if EXTRANEOUS_RE.search(link_text):
            continue
        link_href_leftover = link_href.replace(article_base_url, "")
        if not HAS_DIGIT_RE.search(link_href_leftover):
            continue

        if link_href not in possible_pages:
            possible_pages[link_href] = {"score": 0.0, "href": link_href, "text": link_text}
        else:
            possible_pages[link_href]["text"] += " | " + link_text
        link_obj = possible_pages[link_href]

        if article_base_url.lower() not in link_href.lower():
            link_obj["score"] -= 25

        link_data = link_text + " " + link_element.get_class() + " " + link_element.get_id()

        if NEXT_LINK_RE.search(link_data) and not NEXT_STORY_LINK_RE.search(link_data):
            link_obj["score"] += 50
        if PAGE_RE.search(link_data):
            link_obj["score"] += 25
        if FIRST_OR_LAST_RE.search(link_data) and not NEXT_LINK_RE.search(link_obj["text"]):
            link_obj["score"] -= 65
        if NEGATIVE_WEIGHT_RE.search(link_data) or EXTRANEOUS_RE.search(link_data):
            link_obj["score"] -= 50
        if PREV_LINK_RE.search(link_data):
            link_obj["score"] -= 200

        # ancestor class/id walk
        parent_node = link_element.parent
        positive_match = negative_match = False
        while parent_node is not None:
            class_and_id = parent_node.get_class() + " " + parent_node.get_id()
            if not positive_match and (
                PAGE_RE.search(class_and_id) or NEXT_LINK_RE.search(class_and_id)
            ):
                positive_match = True
                link_obj["score"] += 25
            if not negative_match and (
                NEGATIVE_WEIGHT_RE.search(class_and_id)
                or NEGATIVE_LINK_PARENT_RE.search(class_and_id)
            ):
                if not POSITIVE_WEIGHT_RE.search(class_and_id):
                    link_obj["score"] -= 25
                    negative_match = True
            parent_node = parent_node.parent

        # descendant hints
        positive_descendant = negative_descendant = False
        for desc in link_element.iter_descendant_elements():
            desc_data = (
                get_inner_text(desc, opts.dont_normalize_spaces)
                + " "
                + desc.get_class()
                + " "
                + desc.get_id()
                + " "
                + desc.get_attribute("alt", "")
            )
            if not positive_descendant and NEXT_LINK_RE.search(desc_data):
                link_obj["score"] += 12.5
                positive_descendant = True
            if not negative_descendant and PREV_LINK_RE.search(desc_data):
                link_obj["score"] -= 100
                negative_descendant = True

        if (
            PAGING_URL_RE_1.search(link_href)
            or PAGING_URL_RE_2.search(link_href)
            or PAGING_URL_RE_3.search(link_href)
        ):
            link_obj["score"] += 25
        if EXTRANEOUS_RE.search(link_href):
            link_obj["score"] -= 15

        as_number = _try_parse_int(link_text)
        if as_number is not None:
            if as_number == 1:
                link_obj["score"] -= 10
            else:
                link_obj["score"] += max(0, 10 - as_number)

    top_page = None
    for page in possible_pages.values():
        if page["score"] >= 50 and (top_page is None or top_page["score"] < page["score"]):
            top_page = page

    if top_page is not None:
        next_href = TRAILING_SLASH_RE.sub("", top_page["href"])
        try:
            return urljoin(article_base_url, next_href)
        except ValueError:
            return next_href
    return None


# ---------------------------------------------------------------------------
# ExtractArticleContent (cs:833-854) + hint (cs:1743-1778)
# ---------------------------------------------------------------------------


def _get_article_content_element_hint(url: str) -> str | None:
    url = url.strip()
    for pattern, hint in ARTICLE_CONTENT_ELEMENT_HINTS:
        if pattern.search(url):
            return hint
    return None


def extract_article_content(document: Document, url: str | None, opts: Options) -> tuple[Node, dict]:
    strip_unlikely_candidates(document, opts)
    collapse_redundant_paragraph_divs(document)

    hint = _get_article_content_element_hint(url) if url else None

    candidates, scores = find_candidates_for_article_content(document, opts, hint)
    top = determine_top_candidate(document, candidates, scores, opts)
    article = create_article_content_element(document, top, scores, opts)

    metrics = {
        "n_candidates": len(candidates),
        "top_score": float(scores.get(id(top), 0.0)),
    }

    # The reference's cleaning phase sees only clones, whose scores were never
    # registered (see module docstring); clearing matches that exactly.
    scores.clear()
    prepare_article_content_element(article, scores, opts)
    return article, metrics


# ---------------------------------------------------------------------------
# TranscodeToXml (cs:340-390): the end-to-end per-document pipeline
# ---------------------------------------------------------------------------


def transcode(html_content: str, url: str | None = None, opts: Options | None = None) -> TranscodeResult:
    """Full pipeline; returns the glued document, the article content element
    (still reachable inside the document), extraction flag, title and
    next-page URL."""
    if not html_content:
        raise ValueError("html_content is required")
    opts = opts or Options()
    started = time.perf_counter()
    parse_stats: dict = {}
    result = _transcode_once(
        html_content, url, opts, dont_strip=opts.dont_strip_unlikelys, parse_stats=parse_stats
    )

    # E4 fallback: re-run without stripping when little content was extracted
    fallback = False
    if (
        not opts.dont_strip_unlikelys
        and _normalized_length(result.article_content.value, opts.dont_normalize_spaces)
        < MIN_EXTRACTED_CONTENT_LENGTH
    ):
        fallback = True
        result = _transcode_once(
            html_content, url, opts, dont_strip=True, parse_stats=parse_stats
        )

    result.metrics["fallback_rerun"] = fallback
    result.metrics["parse_retried"] = bool(parse_stats.get("parse_retried", False))
    result.metrics["in_bytes"] = len(html_content.encode("utf-8", errors="replace"))
    result.metrics["ms"] = (time.perf_counter() - started) * 1000.0
    return result


def _transcode_once(
    html_content: str,
    url: str | None,
    opts: Options,
    dont_strip: bool,
    parse_stats: dict | None = None,
) -> TranscodeResult:
    run_opts = replace(opts, dont_strip_unlikelys=dont_strip)
    document = build_document(html_content, stats=parse_stats)
    prepare_document(document, run_opts)

    if url:
        resolve_elements_urls(document, "img", "src", url, run_opts.image_source_transformer)
        resolve_elements_urls(document, "a", "href", url, run_opts.anchor_href_transformer)

    next_page_url = None
    if url:
        body = document.get_body()
        if body is not None:
            next_page_url = find_next_page_link(body, url, run_opts)

    title_element = extract_article_title(document, run_opts)
    article, metrics = extract_article_content(document, url, run_opts)

    glue_document(document, title_element, article, run_opts)

    content_extracted = len(article.children) > 0
    title = extract_title(document)

    return TranscodeResult(
        document=document,
        article_content=article,
        content_extracted=content_extracted,
        title=title,
        next_page_url=next_page_url,
        metrics=metrics,
    )
