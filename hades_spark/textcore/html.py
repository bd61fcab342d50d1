"""Deterministic HTML -> plain-text extraction (the byte-identical invariant).

Pure stdlib (`re` only): this module is imported inside executor python
workers, so it must NOT pull in pyspark/pandas (worker import time is a
per-executor startup constant at scale).

Semantics match the reference extractor exactly (its
``_html_to_plain_text`` / ``_unescape_html`` rules and its utf-8 -> latin-1
decode ladder); ``html_to_text_spec`` is their literal transcription. The
transformation MUST run on the Python ``re`` engine in the python worker —
the build's ``raw_triples`` mapInArrow pass and the deploy path's stage-1
mapInArrow kernel (``persist._stage1``) both call ``html_to_text`` there. Spark SQL's Java regex differs on
unicode case folding, DOTALL interplay and ``\\Z``, so translating these
rewrites to ``regexp_replace`` columns would silently break the per-url
byte-identical contract.

The rewrite order is load-bearing:
  1. drop <script>/<style> subtrees,
  2. block-level closing tags -> newlines,
  3. strip every remaining tag,
  4. entity unescape (named table in fixed order, then numeric with U+FFFD
     fallback for out-of-range codepoints),
  5. whitespace normalisation ([ \\t]+ -> single space, 3+ newlines -> 2),
  6. strip.
"""

from __future__ import annotations

import re

# --- compiled once per executor process ------------------------------------

_RE_SCRIPT = re.compile(r"<script[^>]*>.*?</script>", re.DOTALL | re.IGNORECASE)
_RE_STYLE = re.compile(r"<style[^>]*>.*?</style>", re.DOTALL | re.IGNORECASE)
_RE_BR = re.compile(r"<br[^>]*>", re.IGNORECASE)
_RE_P_CLOSE = re.compile(r"</p>", re.IGNORECASE)
_RE_DIV_CLOSE = re.compile(r"</div>", re.IGNORECASE)
_RE_H_CLOSE = re.compile(r"</h[1-6]>", re.IGNORECASE)
_RE_LI_CLOSE = re.compile(r"</li>", re.IGNORECASE)
_RE_TR_CLOSE = re.compile(r"</tr>", re.IGNORECASE)
_RE_ANY_TAG = re.compile(r"<[^>]+>")
_RE_SPACES = re.compile(r"[ \t]+")
_RE_MANY_NL = re.compile(r"\n{3,}")
_RE_DEC_ENTITY = re.compile(r"&#(\d+);")
_RE_HEX_ENTITY = re.compile(r"&#x([0-9a-fA-F]+);")

# Ordered named-entity table. Order matters: '&amp;' is replaced AFTER the
# entities whose names it could produce, so '&amp;lt;' ends up as literal
# '&lt;' text — matching the reference behavior exactly.
_NAMED_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&trade;", "™"),
)


def _safe_chr(codepoint: int) -> str:
    """chr() with the reference's U+FFFD fallback for invalid codepoints."""
    try:
        return chr(codepoint)
    except (ValueError, OverflowError):
        return "�"


def unescape_html_spec(text: str) -> str:
    """SPEC implementation: sequential table replaces, exactly like the
    reference. Used by tests to cross-check the optimized path."""
    for entity, char in _NAMED_ENTITIES:
        text = text.replace(entity, char)
    text = _RE_DEC_ENTITY.sub(lambda m: _safe_chr(int(m.group(1))), text)
    text = _RE_HEX_ENTITY.sub(lambda m: _safe_chr(int(m.group(1), 16)), text)
    return text


def html_to_text_spec(content: str) -> str:
    """SPEC implementation: one regex pass per rewrite, the literal
    transcription of the reference's ordered rules. The optimized
    ``html_to_text`` below must match this byte-for-byte (fuzz + corpus
    tested)."""
    text = _RE_SCRIPT.sub("", content)
    text = _RE_STYLE.sub("", text)

    text = _RE_BR.sub("\n", text)
    text = _RE_P_CLOSE.sub("\n\n", text)
    text = _RE_DIV_CLOSE.sub("\n", text)
    text = _RE_H_CLOSE.sub("\n\n", text)
    text = _RE_LI_CLOSE.sub("\n", text)
    text = _RE_TR_CLOSE.sub("\n", text)

    text = _RE_ANY_TAG.sub("", text)
    text = unescape_html_spec(text)

    text = _RE_SPACES.sub(" ", text)
    text = _RE_MANY_NL.sub("\n\n", text)
    return text.strip()


# --- optimized equivalents (fewer passes => less memory traffic) -------------
#
# The extraction stage is memory-bandwidth-bound at high parallelism (each
# naive pass copies the whole document), so the production path fuses
# passes where fusion is provably output-identical:
# - block tags: the six constant rewrites partition into the '\n\n' group
#   and the '\n' group; patterns are mutually non-overlapping ('<br[^>]*>'
#   cannot contain '</p>' since [^>]* excludes '>'), and their outputs
#   (newlines) can never create a new tag match => any pass order,
#   including fused alternation, yields identical bytes.
# - named entities: one alternation pass with a map lookup, then ONE rescan
#   pass restricted to entities listed AFTER '&amp;' in the table. Sequential
#   replaces differ from a single pass exactly when an earlier replacement's
#   OUTPUT forms a later needle. The only output character that can begin a
#   needle is '&' (from &amp;); in the sequential spec the text it produces
#   IS seen by every later pass (quot/apos/#39/nbsp/mdash/ndash/hellip/
#   copy/reg/trade) but NOT by the earlier lt/gt passes. So after the fused
#   pass, '&amp;quot;' has become '&quot;' and must be rescanned to '"',
#   while '&amp;lt;' has become '&lt;' and must stay. The rescan alternation
#   therefore contains exactly the post-amp table suffix. The rescan runs
#   BEFORE the numeric passes (spec order: all named, then numeric), so
#   '&#38;quot;' still yields '&quot;' (numeric-created '&' is never
#   rescanned by named passes, in either implementation). Rescan outputs
#   (" ' space dashes ellipsis (c)(r)(tm)) contain no '&', so one level of
#   rescan is sufficient; equivalence is fuzz-verified against the spec.
# - script/style stay as two sequential passes: fusing them changes
#   behavior on adversarially interleaved <script>/<style> nesting. No
#   lower()-based '<script' gate either: IGNORECASE also matches 'ſ'/'ı'/'İ'.
# - whitespace: '[ \t]+' matches every single space (thousands per page).
#   Tabs -> spaces first turns each maximal [ \t] run into a space run of
#   the same length and touches nothing else, so '  +' -> ' ' then yields
#   exactly the spec's bytes; its literal '  ' prefix lets the engine skip
#   single spaces. '\n\n\n+' is '\n{3,}' with a literal prefix to search
#   for. No presence gates: str.replace and re.sub return the input as is
#   when nothing matches.

_RE_BLOCK_NN = re.compile(r"</p>|</h[1-6]>", re.IGNORECASE)
_RE_BLOCK_N = re.compile(r"<br[^>]*>|</div>|</li>|</tr>", re.IGNORECASE)
_NAMED_MAP = dict(_NAMED_ENTITIES)
_RE_NAMED = re.compile("|".join(re.escape(e) for e, _ in _NAMED_ENTITIES))
_AMP_IDX = next(i for i, (e, _) in enumerate(_NAMED_ENTITIES) if e == "&amp;")
_POST_AMP = _NAMED_ENTITIES[_AMP_IDX + 1:]
_RE_NAMED_POST_AMP = re.compile("|".join(re.escape(e) for e, _ in _POST_AMP))
_RE_SPACE_RUN = re.compile("  +")
_RE_NL_RUN = re.compile("\n\n\n+")


def unescape_html(text: str) -> str:
    """Optimized entity unescape — byte-identical to unescape_html_spec."""
    if "&" in text:
        text = _RE_NAMED.sub(lambda m: _NAMED_MAP[m.group(0)], text)
        if "&" in text:
            # rescan ONLY post-&amp; entities: '&amp;quot;' -> '&quot;' -> '"'
            text = _RE_NAMED_POST_AMP.sub(
                lambda m: _NAMED_MAP[m.group(0)], text)
            text = _RE_DEC_ENTITY.sub(
                lambda m: _safe_chr(int(m.group(1))), text)
            text = _RE_HEX_ENTITY.sub(
                lambda m: _safe_chr(int(m.group(1), 16)), text)
    return text


def html_to_text(content: str) -> str:
    """Convert an HTML document to plain text. Pure, deterministic;
    byte-identical to ``html_to_text_spec`` (and thus to the reference
    semantics), with fused rewrite passes for throughput."""
    text = _RE_SCRIPT.sub("", content)
    text = _RE_STYLE.sub("", text)

    text = _RE_BLOCK_NN.sub("\n\n", text)
    text = _RE_BLOCK_N.sub("\n", text)

    text = _RE_ANY_TAG.sub("", text)
    text = unescape_html(text)

    text = _RE_SPACE_RUN.sub(" ", text.replace("\t", " "))
    text = _RE_NL_RUN.sub("\n\n", text)
    return text.strip()


def decode_html_bytes(raw: bytes | bytearray | None) -> str:
    """Decode raw page bytes: utf-8 first, latin-1 fallback (never fails)."""
    if raw is None:
        return ""
    try:
        return bytes(raw).decode("utf-8")
    except UnicodeDecodeError:
        return bytes(raw).decode("latin-1")


def extract_text_from_html_bytes(raw: bytes | None) -> str:
    """decode + html_to_text, the full per-row invariant function."""
    return html_to_text(decode_html_bytes(raw))


