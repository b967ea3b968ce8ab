"""HTML byte-stream tokenization + Readability-style block classification.

The reference decodes a page raster and segments it geometrically
(``engines/_columns.py:421-524``). The web-page analog decodes the ``html``
binary column into a flat stream of layout blocks (DOM leaf blocks), then
classifies each block by *structure and text statistics only* — never by
class names — mirroring the reference's content-vs-artifact decisions:

- boilerplate strip (nav/footer/link farms)  ←  divider/edge artifact removal
- masthead detection (heading block above the body)  ←  title-region
  detection (``engines/_columns.py:4-118``)
- column blocks in document order  ←  column crops left→right
  (``engines/_columns.py:503-514``)

Heuristics are Readability-style: link density and text length decide
content vs boilerplate; tag *kind* (heading vs flow) decides masthead vs
column. All of it runs inside Arrow-batched pandas UDFs — the parser is pure
Python over one page's bytes, vectorized across rows by the batch.

Two tokenizers drive ONE shared block-builder state machine, so their
classification is identical by construction:

- :func:`_scan_fast` — compiled-regex scanner (the hot path; ~3× faster
  than stdlib HTMLParser on newspaper-sized pages),
- ``_BlockParser`` — stdlib ``html.parser.HTMLParser`` (the semantics
  reference; equality-tested against the fast path over the whole fixture
  corpus in tests).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape
from html.parser import HTMLParser

# Tags that open a new layout block (block-level flow containers).
BLOCK_TAGS = frozenset({
    "html", "body", "main", "article", "section", "div", "nav", "footer",
    "header", "aside", "table", "thead", "tbody", "tr", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "ul", "ol", "li",
    "blockquote", "pre", "figure", "figcaption",
})
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# Subtrees whose text is never content.
SKIP_TAGS = frozenset({"script", "style", "head", "title", "template", "noscript"})
# Void tag rendered as a line break inside a block.
BREAK_TAGS = frozenset({"br"})

# Classification thresholds (Readability-style).
MAX_LINK_DENSITY = 0.45   # above this a block is boilerplate
MIN_CONTENT_CHARS = 3     # non-heading blocks shorter than this are noise


@dataclass(slots=True)
class Block:
    """One DOM leaf block — the Arrow-struct unit of layout."""
    order: int
    tag: str
    parent_tag: str
    depth: int
    text_parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    has_block_child: bool = False

    @property
    def text(self) -> str:
        return "".join(self.text_parts)


class _BlockBuilder:
    """Tokenizer-independent state machine: start/end/text events → blocks."""

    __slots__ = ("blocks", "_stack", "_skip_depth", "_link_depth", "_order")

    def __init__(self):
        self.blocks: list[Block] = []
        self._stack: list[Block] = []
        self._skip_depth = 0
        self._link_depth = 0
        self._order = 0

    def start(self, tag: str) -> None:
        # hot path first: most start events are block tags outside any
        # skipped subtree (behavior identical to the check-chain form —
        # the tag classes are disjoint; equality-tested vs stdlib parser)
        if self._skip_depth:
            if tag in SKIP_TAGS:
                self._skip_depth += 1
            return
        if tag in BLOCK_TAGS:
            stack = self._stack
            parent = ""
            if stack:
                top = stack[-1]
                parent = top.tag
                top.has_block_child = True
            blk = Block(order=self._order, tag=tag, parent_tag=parent,
                        depth=len(stack))
            self._order += 1
            self.blocks.append(blk)
            stack.append(blk)
            return
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._link_depth += 1
        elif tag in BREAK_TAGS:
            if self._stack:
                self._stack[-1].text_parts.append("\n")

    def end(self, tag: str) -> None:
        if self._skip_depth:
            if tag in SKIP_TAGS:
                self._skip_depth -= 1
            return
        if tag in BLOCK_TAGS:
            stack = self._stack
            for i in range(len(stack) - 1, -1, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        # stray close of a skip tag at depth 0: no-op (matches the old
        # max(0, depth-1) clamp)

    def text(self, data: str) -> None:
        if self._skip_depth or not self._stack or not data:
            return
        blk = self._stack[-1]
        blk.text_parts.append(data)
        if self._link_depth:
            blk.link_chars += len(data)

    def finish(self) -> list[Block]:
        # Leaf blocks only: a container whose text all lives in children
        # carries no signal of its own (mirrors cropping only final
        # segments, not the whole page, in the reference's phase 3).
        # Collapse each kept block's parts to one string here: every
        # downstream consumer re-reads .text 2-3× and a 1-element join
        # returns the element itself — the page's text is copied once,
        # not per access (memory traffic is the 32-core ceiling).
        out = []
        for b in self.blocks:
            t = "".join(b.text_parts)
            if t.strip():
                b.text_parts = [t]
                out.append(b)
        return out


class _BlockParser(HTMLParser):
    """Reference tokenizer (stdlib) driving the shared builder."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.builder = _BlockBuilder()

    def handle_starttag(self, tag, attrs):
        self.builder.start(tag)

    def handle_startendtag(self, tag, attrs):
        if tag in BREAK_TAGS:
            self.builder.start(tag)  # builder renders br on start

    def handle_endtag(self, tag):
        self.builder.end(tag)

    def handle_data(self, data):
        self.builder.text(data)


# --- fast regex scanner ------------------------------------------------------

_RAW_CONTENT = re.compile(r"<(script|style)\b[^>]*>.*?(</\1\s*>|\Z)",
                          re.S | re.I)
# One fused token pattern: comment | named tag (slash, name, attrs, close
# captured — no second regex pass per tag) | other <!-/<?- markup | text.
# The named-tag alternative accepts exactly the tokens the old two-pass
# scanner classified as tags (same spans: maximal to the first '>'), so
# builder events are unchanged (equality-tested vs stdlib HTMLParser).
_TOKEN = re.compile(
    r"<!--.*?(?:-->|\Z)"
    r"|<(/?)\s*([a-zA-Z][a-zA-Z0-9]*)([^>]*)(>?)"
    r"|<!?[^>]*(?:>|\Z)"
    r"|[^<]+", re.S)


# Memoized classification of tag-shaped tokens. The groups the _TOKEN regex
# assigns to a tag token are a pure function of the matched substring (every
# alternative is context-free — no lookaround), so the dispatch decision can
# be cached on the token string. Real markup repeats a small tag vocabulary
# ("<td>", "</p>", "<br/>", the same nav hrefs ...) thousands of times per
# page, so the cache turns 4 group extractions + branching per tag into one
# dict hit. Values: (kind, name) with kind 0=start, 1=end, 2=start+close
# (block-tag self-close), 3=flush token as text (unterminated at EOF).
_TAG_ACTION: dict[str, tuple[int, str]] = {}
_TAG_ACTION_CAP = 1 << 16  # don't let adversarial attr soup grow it forever

_TAG_RE = re.compile(r"<(/?)\s*([a-zA-Z][a-zA-Z0-9]*)([^>]*)(>?)")


_TAG_TOKEN_CAP = 256  # don't cache huge one-off tokens (unique attr soup)


def _classify_tag(tok: str) -> tuple[int, str]:
    m = _TAG_RE.match(tok)
    if m.start(4) == m.end(4):
        # unterminated tag at EOF — stdlib flushes it as data. Never
        # cached: the token is the page's whole tail (unbounded, and it
        # cannot profitably repeat), and long-lived reused workers would
        # pin it forever.
        return (3, tok)
    name = m.group(2).lower()
    if m.start(1) != m.end(1):
        act = (1, name)
    else:
        # `<div/>`-style: stdlib emits only startendtag (no block);
        # close it immediately so it stays an empty (filtered)
        # block. Self-closing inline elements stay ignored.
        e3 = m.end(3)
        if e3 > m.start(3) and tok[e3 - 1] == "/" and name in BLOCK_TAGS:
            act = (2, name)
        else:
            act = (0, name)
    # bound both entry count and entry size: workers are reused across
    # tasks, so the cache must not accumulate arbitrarily large strings
    if len(tok) <= _TAG_TOKEN_CAP and len(_TAG_ACTION) < _TAG_ACTION_CAP:
        _TAG_ACTION[tok] = act
    return act


def _scan_fast(html_str: str) -> list[Block]:
    """Compiled-regex tokenizer driving the same builder as HTMLParser.

    script/style bodies are blanked first (their content may contain ``<``,
    which the stdlib parser treats as raw text until the closing tag).
    Comments/doctypes/processing instructions are skipped; entities are
    unescaped per text run (a text run never splits an entity — runs are
    maximal ``<``-free spans).
    """
    html_str = _RAW_CONTENT.sub(lambda m: f"<{m.group(1)}></{m.group(1)}>",
                                html_str)
    b = _BlockBuilder()
    text = b.text
    start = b.start
    end = b.end
    unesc = unescape
    action_get = _TAG_ACTION.get
    for m in _TOKEN.finditer(html_str):
        tok = m[0]
        # named-tag alternative ⟺ a group participated (groups 2/4 always
        # do there, even empty; comment/other/text branches have none) —
        # lastindex is one C attribute read vs a m.start(2) call
        if m.lastindex:
            act = action_get(tok)
            if act is None:
                act = _classify_tag(tok)
            kind = act[0]
            if kind == 0:
                start(act[1])
            elif kind == 1:
                end(act[1])
            elif kind == 2:
                start(act[1])
                end(act[1])
            else:
                text(tok)
            continue
        if tok[0] != "<":
            text(unesc(tok) if "&" in tok else tok)
        elif not tok.endswith(">") and not tok.startswith("<!--"):
            # unterminated declaration/PI at EOF — stdlib flushes as data
            text(tok)
    return b.finish()


_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I)


def decode_page_bytes(html: bytes) -> str:
    """Charset-aware page decode: honor a ``<meta charset=...>`` in the
    first 2 KB (Common-Crawl pages are not all UTF-8 — ISO-8859-1 is
    common for historical Norwegian sites), else UTF-8; undecodable bytes
    are replaced, never fatal (quarantine-free totality, mirroring the
    reference's per-file error isolation ``ocr.py:159-163``)."""
    m = _CHARSET.search(html[:2048])
    if m:
        enc = m.group(1).decode("ascii", "ignore").lower()
        if enc not in ("utf-8", "utf8"):
            try:
                return html.decode(enc, errors="replace")
            except LookupError:
                pass
    return html.decode("utf-8", errors="replace")


def parse_blocks(html: bytes | str, engine: str = "fast") -> list[Block]:
    """Decode page bytes into the flat leaf-block stream (document order).

    ``engine``: ``"fast"`` (regex scanner, default) or ``"stdlib"``
    (html.parser reference implementation). Both are total on malformed
    input and produce identical blocks on well-formed markup (tested).
    """
    if html is None:
        # totality includes null payloads: a row with no html is an empty
        # page (same contract as undecodable bytes), not a task failure
        html = ""
    elif isinstance(html, bytes):
        html = decode_page_bytes(html)
    if engine == "stdlib":
        p = _BlockParser()
        p.feed(html)
        p.close()
        return p.builder.finish()
    return _scan_fast(html)


def classify_blocks(blocks: list[Block]) -> list[tuple[str, Block]]:
    """Label each text-bearing block ``masthead`` / ``column`` /
    ``boilerplate`` using structure + text statistics only.

    - link density > 45% → boilerplate (nav / footer / ad farm);
    - heading-tag blocks before the first flow block → masthead (the
      geometric analog: elevated columns grouped at the top,
      ``engines/_columns.py:77-98``); only the *first* such run counts;
    - remaining blocks with ≥ 3 chars of text → columns in document order;
    - shorter scraps → boilerplate (analog of the <30px segment filter,
      ``engines/_columns.py:490-497``).
    """
    labeled: list[tuple[str, Block]] = []
    seen_flow = False
    seen_masthead = False
    for b in blocks:
        stripped = b.text.strip()
        n = len(stripped)
        if n == 0:
            continue
        density = b.link_chars / n if n else 0.0
        if density > MAX_LINK_DENSITY:
            labeled.append(("boilerplate", b))
            continue
        is_heading = b.tag in HEADING_TAGS or b.parent_tag == "header"
        if is_heading and not seen_flow and not seen_masthead:
            labeled.append(("masthead", b))
            seen_masthead = True
            continue
        if n < MIN_CONTENT_CHARS and not is_heading:
            labeled.append(("boilerplate", b))
            continue
        labeled.append(("column", b))
        seen_flow = True
    return labeled


def extract_sections(html: bytes | str) -> tuple[str | None, list[str]]:
    """Page bytes → (masthead text or None, raw column texts in reading
    order). The single-column / no-content fallback mirrors
    ``engines/_columns.py:521-522``: a page with no recognizable column
    blocks yields one column holding the page's whole visible text."""
    blocks = parse_blocks(html)
    labeled = classify_blocks(blocks)
    header = None
    columns: list[str] = []
    for kind, b in labeled:
        if kind == "masthead" and header is None:
            header = b.text
        elif kind == "column":
            columns.append(b.text)
    if not columns:
        # page-as-is fallback, minus link farms: main-content extraction of a
        # boilerplate-only page is a single empty column
        visible = "\n".join(
            b.text for kind, b in labeled if kind != "boilerplate")
        columns = [visible]
    return header, columns
