"""OpenIE-style SVO triple extraction (pure stdlib, worker-import cheap).

Pattern-based (deterministic, lexicon-driven) subject-verb-object span
extraction: within each line, a sentence is bounded by start-of-line or a
period+whitespace; a triple is emitted per predicate-lexicon verb with the
non-greedy spans on either side. This restates the reference's
field-reference edge semantics (``nl_graph_schema.py:253-467`` — fixed
relation vocabulary, source span -> target span) and its citation triples
over free text (``academic_citation_toolkit.py:545-665``) as a text-level
extractor.

Runs on the Python ``re`` engine in the python worker: the build's and
the incremental update's ``raw_triples`` mapInArrow pass, and the deploy
path's ``extract_triples_udf``, all call ``extract_triples``.
"""

from __future__ import annotations

import re

# Relation vocabulary: the reference's edge-relation verbs (SURVEY §2 /
# nl_graph_schema edge defs) — configurable per deployment.
DEFAULT_PREDICATES: tuple[str, ...] = (
    "uses", "extends", "replaces", "stores", "embeds", "indexes",
    "links", "cites", "defines", "calls", "imports", "mentions",
)

def _pattern(predicates: tuple[str, ...]) -> re.Pattern:
    alt = "|".join(re.escape(p) for p in predicates)
    # subject: from line start or after '.'+space, non-greedy, same line,
    # never crossing a sentence boundary ('.' + whitespace) — a '.' is only
    # allowed inside the span when followed by a non-space (H.A.D.E.S.);
    # object: non-greedy up to a '.' followed by whitespace or line end.
    # separators are [ \t]+ (a sentence never crosses a line), which is
    # what makes per-line scanning in extract_triples output-identical.
    return re.compile(
        rf"(?:^|(?<=\.)\s+)((?:[^.\n]|\.(?=\S))+?)\.?[ \t]+({alt})[ \t]+(\S[^\n]*?)\.(?=\s|$)",
        re.MULTILINE,
    )


_DEFAULT_RE = _pattern(DEFAULT_PREDICATES)


def _matches_to_rows(ms, offset: int) -> list[dict]:
    out = []
    for m in ms:
        raw = m.group(1)
        # strip ws / trailing sentence dots, tracking how much was removed
        # from the left so start_char points at the stripped subject (this
        # also makes per-line and full-text scans report identical offsets)
        lead = len(raw) - len(raw.lstrip())
        t = raw.strip()
        lead += len(t) - len(t.lstrip("."))
        t = t.strip(".")
        lead += len(t) - len(t.lstrip())
        subj = t.strip()
        obj = m.group(3).strip()
        # drop degenerate spans (pure numbers, single chars)
        if len(subj) < 2 or len(obj) < 2:
            continue
        # confidence: 1.0 for short clean spans, decays with span length
        conf = max(0.5, 1.0 - 0.01 * max(0, len(subj) + len(obj) - 40))
        out.append({
            "subj": subj,
            "pred": m.group(2),
            "obj": obj,
            "start_char": offset + m.start(1) + lead,
            "confidence": round(conf, 4),
        })
    return out


def extract_triples_spec(text: str, pattern: re.Pattern = _DEFAULT_RE) -> list[dict]:
    """SPEC implementation: one multiline finditer over the whole text."""
    return _matches_to_rows(pattern.finditer(text or ""), 0)


def extract_triples(text: str) -> list[dict]:
    """All (subj, pred, obj) span matches in one document's text, equal to
    ``extract_triples_spec`` over the default predicates.

    Optimized: a match needs ``[ \\t]+pred[ \\t]+`` on one line, so only
    lines holding a predicate word (found by ``str.find`` over the whole
    text) are scanned, one at a time. MATCHES cannot cross lines (every
    span class excludes newline) — but the sentence-boundary START
    assertion ``(?<=\\.)\\s+`` can: if the last character before a line
    that is not ``str.isspace`` (what ``\\s`` matches) is '.', the run after
    it licenses a subject at the top of THIS line, and the earlier-starting
    attempt wins leftmost-match precedence over ``^`` (hypothesis found the
    case: a line of '. ' followed by '  uses A1 uses B2.'). Scanning such
    lines with a synthetic '.\\n' prefix reproduces the whole-text engine
    behavior exactly — the ``\\s+`` run's current-line splits, attempt
    order, and resume positions all map 1:1 (offsets shift by the 2-char
    prefix); fuzz-tested equal to the spec."""
    text = text or ""
    starts = set()
    for pred in DEFAULT_PREDICATES:
        i = text.find(pred)
        while i != -1:                 # one find per hit line and word
            starts.add(text.rfind("\n", 0, i) + 1)
            end = text.find("\n", i)
            i = -1 if end == -1 else text.find(pred, end)
    out: list[dict] = []
    for start in sorted(starts):
        end = text.find("\n", start)
        line = text[start:] if end == -1 else text[start:end]
        i = start - 1
        while i >= 0 and text[i].isspace():
            i -= 1
        if i >= 0 and text[i] == ".":
            ms = _DEFAULT_RE.finditer(".\n" + line)
            out.extend(_matches_to_rows(ms, start - 2))
        else:
            out.extend(_matches_to_rows(_DEFAULT_RE.finditer(line), start))
    return out
