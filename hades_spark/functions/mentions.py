"""Mention detection over raw HTML / extracted text.

Pure-Python detectors (reference semantics:
``extractors_markdown.py:489-617`` for HTML links / tables / code blocks,
``academic_citation_toolkit.py:545-665`` for citation-style entries) run
per page inside the stage-1 ``mapInArrow`` kernel (``persist._stage1``),
which returns an ``array<struct>`` column per page; ``explode_mentions``
turns that into the ``mentions`` table. UDTF-shaped: one input row -> many
mention rows, but expressed as an array column + ``explode`` so Catalyst
still prunes/pushes around it.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, functions as F

from .html_text import html_to_text, unescape_html

# --- HTML structural mentions ------------------------------------------------

_RE_PRE_CODE = re.compile(
    r"<pre[^>]*><code([^>]*)>(.*?)</code></pre>", re.DOTALL | re.IGNORECASE
)
_RE_CODE = re.compile(r"<code([^>]*)>(.*?)</code>", re.DOTALL | re.IGNORECASE)
_RE_LANG_CLASS = re.compile(r"language-([A-Za-z0-9_+#-]+)", re.IGNORECASE)
_RE_TABLE = re.compile(r"<table[^>]*>(.*?)</table>", re.DOTALL | re.IGNORECASE)
_RE_TH = re.compile(r"<th[^>]*>(.*?)</th>", re.DOTALL | re.IGNORECASE)
_RE_TR = re.compile(r"<tr[^>]*>(.*?)</tr>", re.DOTALL | re.IGNORECASE)
_RE_TD = re.compile(r"<td[^>]*>(.*?)</td>", re.DOTALL | re.IGNORECASE)
_RE_ANCHOR = re.compile(
    r'<a[^>]*href=["\']([^"\']+)["\'][^>]*>(.*?)</a>', re.DOTALL | re.IGNORECASE
)


def _lang_of(attrs: str) -> str:
    m = _RE_LANG_CLASS.search(attrs)
    return m.group(1) if m else "text"


def extract_code_blocks(content: str) -> list[dict[str, Any]]:
    """<pre><code> blocks plus substantial (>50 char) bare <code> blocks."""
    out: list[dict[str, Any]] = []
    for attrs, code in _RE_PRE_CODE.findall(content):
        code = unescape_html(code)
        out.append({"language": _lang_of(attrs), "code": code.strip()})
    remainder = _RE_PRE_CODE.sub("", content)
    for attrs, code in _RE_CODE.findall(remainder):
        code = unescape_html(code)
        if code.strip() and len(code) > 50:
            out.append({"language": _lang_of(attrs), "code": code.strip()})
    return out


def extract_tables(content: str) -> list[dict[str, Any]]:
    """Tables as header list + row-of-cells lists (cells plain-texted)."""
    tables = []
    for tbl in _RE_TABLE.findall(content):
        headers = [html_to_text(th).strip() for th in _RE_TH.findall(tbl)]
        rows = []
        for tr in _RE_TR.findall(tbl):
            cells = [html_to_text(td).strip() for td in _RE_TD.findall(tr)]
            if cells:
                rows.append(cells)
        if headers or rows:
            tables.append({"headers": headers, "rows": rows})
    return tables


def extract_links(content: str) -> list[dict[str, Any]]:
    """Anchor href + plain-texted anchor text (text falls back to href)."""
    links = []
    for href, inner in _RE_ANCHOR.findall(content):
        text = html_to_text(inner).strip()
        links.append({"text": text or href, "href": href})
    return links


# --- citation-style mentions --------------------------------------------------

_RE_ARXIV = re.compile(r"arXiv:(\d{4}\.\d{4,5})", re.IGNORECASE)
_RE_DOI = re.compile(r"doi:?\s*(10\.\d+/[^\s,]+)", re.IGNORECASE)
_RE_PMID = re.compile(r"PMID:?\s*(\d+)", re.IGNORECASE)
_RE_SSRN = re.compile(r"SSRN[:\s]*(\d+)", re.IGNORECASE)
_RE_YEAR = re.compile(r"\b(19|20)\d{2}\b")
_TITLE_PATTERNS = (
    re.compile(r'["“”]([^"“”]{15,200})["“”]'),
    re.compile(r"_([^_]{15,200})_"),
    re.compile(r"\*([^*]{15,200})\*"),
    re.compile(r"(?:^|\. )([A-Z][^.]{15,150})\."),
)
_AUTHOR_PATTERNS = (
    re.compile(r"^([^.]+(?:[A-Z]\.[^.]*\.)+)"),
    re.compile(r"^([A-Z][a-z]+(?:\s+[A-Z]\.[^,]*,\s*)*[A-Z][a-z]+)"),
    re.compile(r"([A-Z][a-z]+\s+et\s+al\.?)"),
)
_VENUE_PATTERNS = (
    re.compile(r"In\s+([A-Z][^,\n]{10,50})"),
    re.compile(r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\s+\d{4}"),
    re.compile(r"Proceedings\s+of\s+([^,\n]{10,50})"),
)


def parse_citation(entry_text: str) -> dict[str, Any] | None:
    """Parse one free-form bibliography entry; additive confidence rubric
    0.3 base + 0.4(any id) + 0.2(title) + 0.2(authors) + 0.1(year) +
    0.1(venue), capped at 1.0."""
    if len(entry_text.strip()) < 20:
        return None

    arxiv = m.group(1) if (m := _RE_ARXIV.search(entry_text)) else None
    doi = m.group(1) if (m := _RE_DOI.search(entry_text)) else None
    pmid = m.group(1) if (m := _RE_PMID.search(entry_text)) else None
    ssrn = m.group(1) if (m := _RE_SSRN.search(entry_text)) else None
    year = int(m.group(0)) if (m := _RE_YEAR.search(entry_text)) else None

    title = None
    for pat in _TITLE_PATTERNS:
        if m := pat.search(entry_text):
            title = m.group(1).strip()
            break

    authors: list[str] = []
    for pat in _AUTHOR_PATTERNS:
        if m := pat.search(entry_text):
            parts = [a.strip() for a in m.group(1).split(",")]
            authors = [a for a in parts if len(a) > 2 and not a.isdigit()][:5]
            break

    venue = None
    for pat in _VENUE_PATTERNS:
        if m := pat.search(entry_text):
            venue = m.group(1).strip()
            break

    confidence = 0.3
    if arxiv or doi or pmid or ssrn:
        confidence += 0.4
    if title and len(title) > 10:
        confidence += 0.2
    if authors:
        confidence += 0.2
    if year:
        confidence += 0.1
    if venue:
        confidence += 0.1

    return {
        "arxiv_id": arxiv,
        "doi": doi,
        "pmid": pmid,
        "ssrn_id": ssrn,
        "year": year,
        "title": title,
        "authors": authors,
        "venue": venue,
        "confidence": min(1.0, confidence),
    }


# --- unified mention rows ------------------------------------------------------

def _html_structural_mentions(html: str) -> list[dict[str, Any]]:
    mentions: list[dict[str, Any]] = []
    for lk in extract_links(html):
        mentions.append({
            "surface": lk["text"], "kind": "link",
            "start_char": None, "end_char": None,
            "attrs": {"href": lk["href"]}, "confidence": 1.0,
        })
    for cb in extract_code_blocks(html):
        mentions.append({
            "surface": cb["code"][:200], "kind": "code",
            "start_char": None, "end_char": None,
            "attrs": {"language": cb["language"]}, "confidence": 1.0,
        })
    for i, tb in enumerate(extract_tables(html)):
        mentions.append({
            "surface": " | ".join(tb["headers"])[:200] or f"table_{i}",
            "kind": "table", "start_char": None, "end_char": None,
            "attrs": {
                "row_count": str(len(tb["rows"])),
                "column_count": str(len(tb["headers"]) or (len(tb["rows"][0]) if tb["rows"] else 0)),
            },
            "confidence": 1.0,
        })
    return mentions


def _markdown_structural_mentions(content: str) -> list[dict[str, Any]]:
    """md links / code / tables as mention rows (same kinds as HTML, so the
    downstream tables are format-agnostic)."""
    from ..textcore.markdown import md_code_blocks, md_links, md_tables

    mentions: list[dict[str, Any]] = []
    for lk in md_links(content):
        mentions.append({
            "surface": lk["text"] or lk["href"], "kind": "link",
            "start_char": None, "end_char": None,
            "attrs": {"href": lk["href"], "link_type": lk["type"]},
            "confidence": 1.0,
        })
    for cb in md_code_blocks(content):
        mentions.append({
            "surface": cb["code"][:200], "kind": "code",
            "start_char": None, "end_char": None,
            "attrs": {"language": cb["language"]}, "confidence": 1.0,
        })
    for i, tb in enumerate(md_tables(content)):
        mentions.append({
            "surface": " | ".join(tb["headers"])[:200] or f"table_{i}",
            "kind": "table", "start_char": None, "end_char": None,
            "attrs": {
                "row_count": str(len(tb["rows"])),
                "column_count": str(len(tb["headers"]) or (len(tb["rows"][0]) if tb["rows"] else 0)),
            },
            "confidence": 1.0,
        })
    return mentions


def _latex_structural_mentions(content: str) -> list[dict[str, Any]]:
    """equations / tables+captions / cite keys / sections as mentions."""
    from ..textcore.latex import (
        latex_cite_keys, latex_equations, latex_sections, latex_tables)

    mentions: list[dict[str, Any]] = []
    for eq in latex_equations(content):
        mentions.append({
            "surface": eq["latex"][:200], "kind": "equation",
            "start_char": None, "end_char": None,
            "attrs": {"eq_type": eq["type"], "label": eq["label"] or ""},
            "confidence": 1.0,
        })
    for i, tb in enumerate(latex_tables(content)):
        mentions.append({
            "surface": (tb["caption"] or f"table_{i}")[:200], "kind": "table",
            "start_char": None, "end_char": None,
            "attrs": {"label": tb["label"] or "",
                      "column_spec": tb["column_spec"] or ""},
            "confidence": 1.0,
        })
    for key in latex_cite_keys(content):
        mentions.append({
            "surface": key, "kind": "citation",
            "start_char": None, "end_char": None,
            "attrs": {"cite_key": key}, "confidence": 1.0,
        })
    for sec in latex_sections(content):
        mentions.append({
            "surface": sec["title"][:200], "kind": "section",
            "start_char": sec["position"], "end_char": None,
            "attrs": {"level": sec["level"]}, "confidence": 1.0,
        })
    return mentions


def _citation_id_mentions(text: str) -> list[dict[str, Any]]:
    """citation ids with character spans over the extracted text."""
    mentions: list[dict[str, Any]] = []
    for kind, rex, attr in (
        ("citation", _RE_ARXIV, "arxiv_id"),
        ("citation", _RE_DOI, "doi"),
        ("citation", _RE_PMID, "pmid"),
    ):
        for m in rex.finditer(text):
            parsed = parse_citation(text[max(0, m.start() - 60): m.end() + 120])
            mentions.append({
                "surface": m.group(0), "kind": kind,
                "start_char": m.start(), "end_char": m.end(),
                "attrs": {attr: m.group(1)},
                "confidence": parsed["confidence"] if parsed else 0.7,
            })
    return mentions


_HAS_MACHINE_ID = (_RE_ARXIV, _RE_DOI, _RE_PMID)


def _bibliography_mentions(text: str) -> list[dict[str, Any]]:
    """id-less bibliography entries: detect the references section, split
    entries, parse each with the standard rubric; entries that carry a
    machine id are skipped (already surfaced by the span scan)."""
    from ..textcore.bibliography import (
        find_bibliography_section, split_bibliography_entries)

    section = find_bibliography_section(text)
    if not section:
        return []
    mentions: list[dict[str, Any]] = []
    for num, raw in split_bibliography_entries(section):
        if any(rex.search(raw) for rex in _HAS_MACHINE_ID):
            continue
        parsed = parse_citation(raw)
        if parsed is None:
            continue
        mentions.append({
            "surface": (parsed["title"] or raw[:120]).strip()[:200],
            "kind": "citation",
            "start_char": None, "end_char": None,
            "attrs": {
                "entry_number": num,
                "title": parsed["title"] or "",
                "year": str(parsed["year"] or ""),
                "venue": parsed["venue"] or "",
                "authors": "; ".join(parsed["authors"]),
            },
            "confidence": parsed["confidence"],
        })
    return mentions


def detect_mentions(content: str, text: str,
                    url: str | None = None) -> list[dict[str, Any]]:
    """All mention kinds for one page, as MENTION-schema dicts.

    Format-routed (reference extension-dispatch rule,
    ``extractors_markdown.py:93-103``): HTML pages get the HTML structural
    extractors, markdown gets md links/code/tables, .tex gets
    equations/tables/cites/sections. All formats then get citation-id span
    detection over the extracted text plus id-less bibliography entries.
    Emission order is deterministic per format.
    """
    from .extractors import detect_format

    fmt = detect_format(url, content)

    if fmt == "latex":
        mentions = _latex_structural_mentions(content)
    elif fmt == "markdown":
        mentions = _markdown_structural_mentions(content)
    else:
        mentions = _html_structural_mentions(content)

    mentions.extend(_citation_id_mentions(text))
    mentions.extend(_bibliography_mentions(text))
    return mentions


def explode_mentions(df: DataFrame) -> DataFrame:
    """(url, mentions array) -> one row per mention: posexplode, drop the
    null rows of pages without mentions, and key each row by a
    position-stable ``mention_id`` (re-runs are idempotent: deterministic
    keys, no uuids)."""
    return (
        df.select("url", F.posexplode_outer("mentions").alias("pos", "m"))
        .filter(F.col("m").isNotNull())
        .select(
            "url",
            F.concat_ws("#", "url", F.col("pos").cast("string"))
            .alias("mention_id"),
            F.col("m.*"),
        )
    )

