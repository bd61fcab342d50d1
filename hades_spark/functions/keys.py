"""Canonical key normalization — the reference's identity layer as pure
string rules, expressed as Spark Column expressions (JVM-side,
codegen-friendly — the hot path), plus the arXiv id date parser.

Semantics per ``/root/reference/core/database/keys.py:15-87`` and
``core/analyzers/python_edge_resolver.py:28-47``; edge content-hash keys per
``core/cli/commands/codebase.py:240-248`` and the composite dedup key of
``core/database/nl_graph_materialize.py:175-184``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_ARXIV_YYMM = re.compile(r"^(\d{2})(\d{2})\.")


def arxiv_year_month(arxiv_id: str) -> tuple[int, int] | None:
    """Year/month from a modern ``YYMM.NNNNN`` arXiv id
    (``sync.py:617-625`` semantics): 2301.12345 -> (2023, 1)."""
    m = _ARXIV_YYMM.match(arxiv_id or "")
    if not m:
        return None
    yy, mm = int(m.group(1)), int(m.group(2))
    if not 1 <= mm <= 12:
        return None
    return 2000 + yy, mm


# --- Spark column expressions (JVM-side; stay in whole-stage codegen) -------

def chunk_key_col(doc_key: Column, chunk_index: Column) -> Column:
    return F.concat_ws("_chunk_", doc_key, chunk_index.cast("string"))


def file_key_col(c: Column) -> Column:
    return F.translate(c, "/.", "__")


def symbol_key_col(file_rel_path: Column, qualified_name: Column) -> Column:
    safe = F.regexp_replace(qualified_name, r"\.", "_")
    safe = F.regexp_replace(safe, r"[^a-zA-Z0-9_]", "_")
    safe = F.regexp_replace(safe, r"_{3,}", "__")
    safe = F.regexp_replace(safe, r"^_+|_+$", "")
    return F.concat(file_key_col(file_rel_path), F.lit("__"), safe)


def edge_content_key_col(src: Column, dst: Column, rel: Column) -> Column:
    return F.sha2(F.concat_ws("|", src, dst, rel), 256)


def composite_dedup_key_col(src: Column, dst: Column) -> Column:
    """``{from}__{to}`` with '/' -> '_' — the materializer's dedup key."""
    return F.concat_ws(
        "__", F.translate(src, "/", "_"), F.translate(dst, "/", "_")
    )
