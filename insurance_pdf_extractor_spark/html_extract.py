"""HTML main-content extraction (boilerplate strip) — T10 in SURVEY.md §2.3.

The reference is PDF-only; the north_rule adds Common-Crawl-style HTML
pages. This module implements deterministic text-density / link-density
block scoring (in the spirit of the published Boilerpipe/JusText line of
work) on top of the stdlib ``html.parser`` — no external libraries.

Contract (frozen into goldens):
- block elements (p, div, h1-6, li, td, article, section, blockquote, pre)
  accumulate text; anchor text inside a block counts toward link density;
- a block is CONTENT iff  len(text) >= MIN_CHARS  and
  link_density <= MAX_LINK_DENSITY, or it is a heading directly followed
  by a content block;
- script/style/nav/header/footer/aside/form/noscript subtrees are dropped
  wholesale;
- output = content blocks joined by a blank line, with the document
  banner framing mirroring the PDF paths.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

RULE = "=" * 80
DOC_HEADER_HTML = RULE + "\nHTML DOCUMENT EXTRACTION (boilerplate-strip)\n" + RULE + "\n\n"

MIN_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0

_BLOCK_TAGS = {"p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td",
               "article", "section", "blockquote", "pre"}
_DROP_TAGS = {"script", "style", "nav", "header", "footer", "aside", "form",
              "noscript", "svg", "iframe"}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_WS_RE = re.compile(r"\s+")


class _Block:
    __slots__ = ("tag", "chars", "link_chars")

    def __init__(self, tag: str):
        self.tag = tag
        self.chars: list[str] = []
        self.link_chars = 0

    @property
    def text(self) -> str:
        return _WS_RE.sub(" ", "".join(self.chars)).strip()

    @property
    def link_density(self) -> float:
        t = self.text
        return self.link_chars / len(t) if t else 1.0


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._stack: list[_Block] = []
        self._drop_depth = 0
        self._anchor_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth += 1
        elif tag in _BLOCK_TAGS:
            self._stack.append(_Block(tag))

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in _BLOCK_TAGS:
            # close the innermost matching block
            for i in range(len(self._stack) - 1, -1, -1):
                if self._stack[i].tag == tag:
                    blk = self._stack.pop(i)
                    if blk.text:
                        self.blocks.append(blk)
                    break

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        if self._stack:
            self._stack[-1].chars.append(data)
            if self._anchor_depth:
                self._stack[-1].link_chars += len(data.strip())


def extract_main_content(html: str) -> str:
    """Return the main-content text (blocks joined by blank lines)."""
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    # malformed HTML: blocks left open at EOF (unclosed trailing <p>/<div>)
    # would silently drop their text — flush them in open order
    for blk in parser._stack:
        if blk.text:
            parser.blocks.append(blk)
    parser._stack = []
    blocks = parser.blocks
    keep = [False] * len(blocks)
    for i, b in enumerate(blocks):
        if len(b.text) >= MIN_CHARS and b.link_density <= MAX_LINK_DENSITY:
            keep[i] = True
    # headings attach to a following content block
    for i, b in enumerate(blocks):
        if (not keep[i] and b.tag in _HEADING_TAGS and b.text
                and i + 1 < len(blocks) and keep[i + 1]):
            keep[i] = True
    return "\n\n".join(b.text for i, b in enumerate(blocks) if keep[i])


def extract_html_document(data: bytes) -> dict:
    """bytes → same shape as textops.extract_pdf_document (single page)."""
    try:
        html = data.decode("utf-8", errors="replace")
    except Exception:
        html = ""
    body = extract_main_content(html)
    all_text = DOC_HEADER_HTML + body + ("\n" if body else "")
    page = {
        "page_number": 1,
        "text": body,
        "extraction_method": "html",
        "is_scanned": False,
        "confidence": 1.0,
    }
    return {"doc_kind": "html", "text": all_text, "pages": [page],
            "fallback_used": False, "recovered_claims": [], "error": None}
