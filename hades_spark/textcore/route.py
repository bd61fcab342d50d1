"""Format detection + routed text extraction (stdlib-only, executor-safe).

The reference dispatches on file extension (``extractors_markdown.py:93-103``
routes .html/.htm to the HTML path, everything else to markdown; the LaTeX
extractor owns .tex). Re-expressed as pure functions with no pyspark
import, so they run inside Arrow workers: the stage-1 ``mapInArrow``
kernel (``persist._stage1``) and mention detection call them.
"""

from __future__ import annotations

import re

from .html import decode_html_bytes, html_to_text
from .latex import latex_to_text
from .markdown import markdown_to_text

_RE_TAG_SNIFF = re.compile(
    r"<(p|div|a|br|h[1-6]|table|span|body|head|script|style|li|ul|ol)[ >/]")


def detect_format(url: str | None, content: str) -> str:
    """Extension first (reference rule), content sniff as fallback."""
    u = (url or "").lower().split("?")[0]
    if u.endswith((".html", ".htm")):
        return "html"
    if u.endswith((".md", ".markdown")):
        return "markdown"
    if u.endswith(".tex"):
        return "latex"
    head = content[:256].lstrip().lower()
    if head.startswith(("<!doctype", "<html")):
        return "html"
    if head.startswith(("\\documentclass", "\\begin{document}")):
        return "latex"
    # tag sniff: un-suffixed urls still route html-looking bodies to the
    # HTML extractors (fragment pages rarely carry a doctype)
    if _RE_TAG_SNIFF.search(head):
        return "html"
    return "markdown"


def extract_text(url: str | None, raw: bytes | str | None) -> str:
    """Decode (utf-8 -> latin-1 ladder) + format-routed extraction.

    PDF routes BEFORE the text decode (it is a binary format — decoding
    Flate streams through the charset ladder would destroy them). The
    %PDF- MAGIC decides, never the url alone: a crawled '.pdf' url
    frequently serves an HTML soft-404/interstitial, which must fall
    through to the charset ladder and be extracted as HTML rather than
    come back empty."""
    if isinstance(raw, (bytes, bytearray)) and bytes(raw[:5]) == b"%PDF-":
        from .pdf import pdf_to_text

        return pdf_to_text(raw)
    content = decode_html_bytes(raw) if isinstance(raw, (bytes, bytearray)) \
        else (raw or "")
    fmt = detect_format(url, content)
    if fmt == "html":
        return html_to_text(content)
    if fmt == "latex":
        return latex_to_text(content)
    return markdown_to_text(content)
