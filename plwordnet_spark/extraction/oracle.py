"""Pure-Python page extractor — the byte-identity oracle.

This is the engine's "reference extractor": a deterministic, dependency-free
function from raw HTML bytes to (links, structured annotations, extracted
text). The Spark path (extraction/udfs.py) wraps *this exact module* inside
Arrow-vectorized pandas UDFs, so the per-row invariant — byte-identical
extracted text per url between the distributed path and this oracle — holds
by construction and is verified in tests/test_extraction.py.

Semantics are modeled on the reference comment parser
(/root/reference/plwordnet_handler/base/structure/elems/comment.py:112-531),
generalized from plWordNet comment markup to web pages:

* ordered literal phrase removal with a strip after each removal
  (comment.py:483-489 — order matters for byte identity),
* a char-strip pass over a fixed charset (comment.py:486-488),
* blacklist validation (partial + exact) and per-field minimum lengths
  (comment.py:491-531),
* tagged-field extraction with the same regex discipline: topic (##K,
  comment.py:198), definition with whole-text fallback (##D,
  comment.py:199,289-326), sentiment annotations (##A\\d,
  comment.py:204-206), bracketed usage examples (comment.py:209-212),
  external link ({##L, comment.py:200-201,434-454),
* hyperlink extraction from <a href=...> — the web-scale generalization of
  the reference's external-url extractor (comment.py:434-454); these links
  seed the edge table.

No code is copied from the reference; the phrase lists are web-noise
phrases, the tag grammar is this engine's synthetic-page grammar.
"""

from __future__ import annotations

import html as _htmllib
import re
from dataclasses import dataclass, field

__all__ = [
    "ParsedPage",
    "clean_text",
    "extract_links",
    "extract_page",
    "host_key",
    "html_to_flat_text",
    "MIN_EXAMPLE_LENGTH",
    "MIN_DEFINITION_LENGTH",
    "MIN_TOPIC_LENGTH",
    "REMOVE_PHRASES",
    "STRIP_CHARS",
    "typed_links",
]

# ---------------------------------------------------------------------------
# Cleaning configuration (mechanism mirrors comment.py:117-194; content is
# web-noise, ordered longest-variant-first so partial tokens never survive).
# ---------------------------------------------------------------------------

MIN_EXAMPLE_LENGTH = 20
MIN_DEFINITION_LENGTH = 15
MIN_TOPIC_LENGTH = 2

REMOVE_PHRASES: list[str] = [
    "Sign up for our newsletter",
    "Subscribe to our newsletter",
    "Accept all cookies",
    "Manage cookie preferences",
    "Click here to subscribe",
    "Click here",
    "All rights reserved.",
    "All rights reserved",
    "Share this article",
    "Sponsored content",
    "Advertisement",
    "JavaScript is disabled in your browser",
    "Please enable JavaScript",
    "Skip to main content",
    "Skip to content",
    "Back to top",
    "Read more",
    "Loading...",
    "{##L:",
    "##NAV:",
    "##FOOTER:",
    "##AD:",
    "##K:",
    "##DD:",
    "##D:",
    "##P:",
    "##W:",
    "##L:",
    "##A1:",
    "##A2:",
    "##A3:",
    "##A1",
    "##A2",
    "##A3",
    "#P:",
    "#W:",
    "} : 0 : 0",
    ": 0 : 0",
]

STRIP_CHARS: list[str] = ["<", ">", "[", "]", "{", "}", ":", "#", " "]

# exact-match blacklist (comment.py:118 PHRASES_CANNOT_FIND analog)
PHRASES_CANNOT_FIND: list[str] = ["no data", "404 not found", "."]
# partial-match blacklist (comment.py:119 PHRASES_NO_TEXTUAL_DATA analog)
PHRASES_NO_TEXTUAL_DATA: list[str] = ["no data <", "page could not be found"]

# ---------------------------------------------------------------------------
# Regexes — same shapes as comment.py:198-212, retargeted to page grammar.
# ---------------------------------------------------------------------------

# The reference patterns (comment.py:198-212) operate on one-line comment
# strings; pages are multi-block documents, so block boundaries become
# newlines and every field regex treats \n as a hard terminator.
_TOPIC_RE = re.compile(r"#[#]?K:\s*([^#\n]+?)(?=\s*##|\n|$|\.)")
_DEFINITION_RE = re.compile(r"#[#]?[DPW][':]?\s*([^#\[{\n]+?)(?=\s*\[|##|\{|\n|$)")
_SENTIMENT_RE = re.compile(
    r"##(A\d+):\s*\{([^}\n]+)\}\s*([+-]\s*[sm]|amb)\s*\[([^\]\n]+)\]"
)
_BRACKET_RE = re.compile(r"\[([^\]\n]+?)\]")
_EXAMPLE_TYPE_RE = re.compile(r"##([A-Za-z0-9]+):\s*(.+)")
_EXTERNAL_URL_RE = re.compile(r"\{##L:\s*([^}\n]+?)(?:\s|\})")

_SCRIPT_STYLE_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_BLOCK_BREAK_RE = re.compile(
    r"</(?:p|div|h[1-6]|li|ul|ol|title|tr|table|section|article|header|footer|blockquote)\s*>"
    r"|<br\s*/?>",
    re.I,
)
_TAG_RE = re.compile(r"</?[A-Za-z!][^>]*>")
_HREF_RE = re.compile(r"""<a\s[^>]*?href\s*=\s*["']([^"']+)["']""", re.I)

_KNOWN_EXAMPLE_TYPES = ("P", "D", "W", "KPWr")


@dataclass
class ParsedPage:
    """Structured extraction result (ParsedComment analog, comment.py:74-109)."""

    url: str | None = None
    links: list[str] = field(default_factory=list)
    topic: str | None = None
    definition: str | None = None
    usage_examples: list[dict] = field(default_factory=list)
    sentiment_annotations: list[dict] = field(default_factory=list)
    external_url: str | None = None
    text: str = ""


def _validate(text: str, min_len: int | None = None) -> str | None:
    """Blacklist + min-length validation (comment.py:491-531 semantics)."""
    if not len(text):
        return None
    text = text.strip()
    for phrase in PHRASES_NO_TEXTUAL_DATA:
        if phrase in text:
            return None
    for phrase in PHRASES_CANNOT_FIND:
        if phrase == text:
            return None
    min_len = min_len if min_len else MIN_EXAMPLE_LENGTH
    if len(text) < min_len:
        return None
    return text


def clean_text(text: str | None, min_len: int | None = None) -> str | None:
    """Ordered phrase removal → char strip → validation.

    Mirrors comment.py:456-489: each literal removal is followed by a
    strip, and the strip-chars pass runs per char in declared order — both
    orderings are observable in the output bytes.
    """
    if not text:
        return None
    for phrase in REMOVE_PHRASES:
        text = text.replace(phrase, "").strip()
    for ch in STRIP_CHARS:
        text = text.strip(ch)
    return _validate(text.strip(), min_len=min_len)


def normalize_url(url: str) -> str | None:
    """Canonicalize a link target; None for non-navigational hrefs.

    http→https upgrade follows the reference's external-url normalization
    (comment.py:448-452); host lowercasing and fragment stripping are
    standard web canonicalization.
    """
    url = url.strip()
    if not url or url.startswith(("#", "mailto:", "javascript:", "tel:", "data:")):
        return None
    url = url.split("#", 1)[0].strip()
    if not url:
        return None
    if url.startswith("http://"):
        url = "https://" + url[len("http://") :]
    if not url.startswith("https://"):
        return None  # relative links out of scope for the synthetic corpus
    rest = url[len("https://") :]
    host, sep, path = rest.partition("/")
    host = host.lower()
    path = path.rstrip("/")
    return f"https://{host}/{path}" if sep and path else f"https://{host}"


def extract_links(html_text: str) -> list[str]:
    """All normalized <a href> targets, document order, duplicates kept.

    Dedup happens relationally in the edge-table build (dropDuplicates),
    not here — multigraph semantics are preserved until that point
    (db_to_nx.py:262-284 keeps a MultiDiGraph for the same reason).
    """
    out = []
    for href in _HREF_RE.findall(html_text):
        normalized = normalize_url(_htmllib.unescape(href))
        if normalized:
            out.append(normalized)
    return out


def host_key(url: str) -> str:
    """Case-folded host of ``url``: the text between the first ``//`` and
    the next ``/``, lowercased with ``str.lower``; "" when there is no
    ``//``. The edge table's rel typing compares these keys; the JVM
    expression behind ``nodes.domain`` (``graph.build._domain``) applies
    the same rule."""
    _, sep, rest = url.partition("//")
    return rest.split("/", 1)[0].lower() if sep else ""


def typed_links(url: str | None, html_text: str) -> list[tuple[str, bool]]:
    """``extract_links`` targets (same order, duplicates kept), each with
    whether its host equals the page's host (``host_key`` equality). A
    ``None`` page url shares no host.

    Host case-folding happens here, in the one Python pass that already
    normalizes every target, rather than as a JVM-side ``lower`` on the
    edge path: Spark's first ``lower``/``upper`` in a JVM initializes
    ICU case mapping, a one-off cost of over a second."""
    src = host_key(url) if url is not None else None
    return [(dst, host_key(dst) == src) for dst in extract_links(html_text)]


_ANCHOR_RE = re.compile(
    r"""<a\s[^>]*?href\s*=\s*["']([^"']+)["'][^>]*>(.*?)</a\s*>""",
    re.I | re.S,
)


def extract_anchors(html_text: str) -> list[tuple[str, str]]:
    """(target_url, anchor_text) per navigational <a>…</a>, document
    order, duplicates kept.

    The anchor-text side of :func:`extract_links` — at web scale the
    aggregated anchor text pointing AT a page is its best third-party
    description (the classic use alongside the link graph). Target
    normalization is byte-identical to ``extract_links``; the anchor
    text is the tag's inner markup flattened the same way the page text
    is (tags → space, entities unescaped, whitespace collapsed), so the
    per-row invariant discipline (same code path in oracle and UDF)
    carries over. Anchors whose href the normalizer drops (fragments,
    mailto:, javascript:) are dropped with it; empty anchor text (image
    links) survives as "".
    """
    out = []
    for href, inner in _ANCHOR_RE.findall(html_text):
        normalized = normalize_url(_htmllib.unescape(href))
        if normalized is None:
            continue
        anchor = _TAG_RE.sub(" ", inner)
        anchor = _htmllib.unescape(anchor)
        anchor = re.sub(r"\s+", " ", anchor).strip()
        out.append((normalized, anchor))
    return out


def html_to_flat_text(html_text: str) -> str:
    """Flatten HTML to an annotated text stream: script/style dropped,
    block-closing tags become newlines, other tags a space, entities
    unescaped, whitespace collapsed per line. Annotation tokens (##K:
    etc.) are text content and survive; the field extractors consume
    them line-wise."""
    s = _SCRIPT_STYLE_RE.sub(" ", html_text)
    s = _BLOCK_BREAK_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    s = _htmllib.unescape(s)
    s = re.sub(r"[ \t\r]+", " ", s)
    s = re.sub(r" ?\n ?", "\n", s)
    return re.sub(r"\n+", "\n", s).strip()


def _extract_topic(flat: str) -> str | None:
    """##K topic (comment.py:277-287 semantics incl. trailing-dot append)."""
    match = _TOPIC_RE.search(flat)
    if not match:
        return None
    topic = match.group(1).strip()
    if not topic.endswith("."):
        topic += "."
    return clean_text(topic, min_len=MIN_TOPIC_LENGTH)


def _extract_definition(flat: str) -> str | None:
    """##D definition with whole-text fallback (comment.py:289-326)."""
    match = _DEFINITION_RE.search(flat)
    if match:
        return clean_text(match.group(1).strip(), min_len=MIN_DEFINITION_LENGTH)
    return clean_text(flat.strip())


def _parse_emotions_categories(content: str) -> tuple[list[str], list[str]]:
    """'e1, e2; c1, c2' split (comment.py:246-275 semantics)."""
    if ";" in content:
        emotions_part, categories_part = content.split(";", 1)
        emotions = [e.strip() for e in emotions_part.strip().split(",")] if emotions_part.strip() else []
        categories = [c.strip() for c in categories_part.strip().split(",")] if categories_part.strip() else []
        return emotions, categories
    return [e.strip() for e in content.split(",")], []


def _extract_sentiment(flat: str) -> list[dict]:
    annotations = []
    for ann_id, content, strength, example in _SENTIMENT_RE.findall(flat):
        cleaned = clean_text(example)
        if not cleaned:
            continue
        emotions, categories = _parse_emotions_categories(content)
        annotations.append(
            {
                "annotation_id": ann_id,
                "emotions": emotions,
                "categories": categories,
                "strength": strength,
                "example": cleaned,
            }
        )
    return annotations


def _extract_examples(flat: str, sentiment: list[dict]) -> list[dict]:
    """Bracketed usage examples minus sentiment examples
    (comment.py:364-432 semantics, incl. type classification)."""
    sentiment_texts = {a["example"] for a in sentiment}
    examples = []
    for content in _BRACKET_RE.findall(flat):
        if content.strip() in sentiment_texts:
            continue
        match = _EXAMPLE_TYPE_RE.match(content)
        if match:
            type_str = match.group(1)
            example_type = type_str if type_str in _KNOWN_EXAMPLE_TYPES else "UNKNOWN"
            source_pattern = f"##{type_str}"
            text = clean_text(match.group(2).strip())
        else:
            example_type, source_pattern = "UNKNOWN", None
            text = clean_text(content.strip())
        if not text:
            continue
        examples.append(
            {"text": text, "example_type": example_type, "source_pattern": source_pattern}
        )
    return examples


def _extract_external_url(flat: str) -> str | None:
    match = _EXTERNAL_URL_RE.search(flat)
    if not match:
        return None
    url = match.group(1).strip()
    if url:
        url = url.replace("http://", "https://")
        if "https://" not in url:
            url = f"https://{url}"
    return url or None


def extract_page(html_data: bytes | str, url: str | None = None) -> ParsedPage:
    """Full extraction: bytes/str HTML → ParsedPage.

    ``text`` is the canonical extracted text: topic, definition, usage
    examples, sentiment examples — joined by newline in that order
    (the reference's all-texts-from-node traversal order,
    plwordnet_handler/dataset/embedder.py:364-405). This is the field
    the byte-identity invariant is asserted on.
    """
    if isinstance(html_data, (bytes, bytearray)):
        html_text = bytes(html_data).decode("utf-8", errors="replace")
    else:
        html_text = html_data or ""
    page = ParsedPage(url=url)
    if not html_text.strip():
        return page
    page.links = extract_links(html_text)
    flat = html_to_flat_text(html_text)
    page.topic = _extract_topic(flat)
    page.definition = _extract_definition(flat)
    page.sentiment_annotations = _extract_sentiment(flat)
    page.usage_examples = _extract_examples(flat, page.sentiment_annotations)
    page.external_url = _extract_external_url(flat)
    parts = [page.topic, page.definition]
    parts += [e["text"] for e in page.usage_examples]
    parts += [a["example"] for a in page.sentiment_annotations]
    page.text = "\n".join(p for p in parts if p)
    return page
