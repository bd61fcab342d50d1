"""Deterministic synthetic page corpus (seeded, timestamp-fixed).

Generates Common-Crawl-shaped rows ``(url, warc_ts, html, text, lang)``
(BASELINE.json input_hint) whose HTML exercises every extractor feature the
reference's own unit tests cover (script/style removal, block-tag newline
rules, named + numeric entities incl. out-of-range, <pre><code> language
classes, bare <code> dedup, tables with empty cells, anchors, whitespace
collapse — ``tests/core/extractors/test_extractors_markdown.py:174-519``),
plus citation sentences and SVO-extractable sentences with entity surface
variants for the linking/canonicalization stages.

The ``text`` column is filled by running our extractor once at generation
time, so ``extract(html) == text`` is the per-url byte-identical invariant
every test and the pipeline itself re-checks. Each page's ground-truth
canonical (subj, pred, obj) set is emitted alongside — the P/R oracle.

~5% of rows land on two hot hosts — the skew fixture for salting tests.
"""

from __future__ import annotations

import datetime as dt
import random
from functools import lru_cache
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..textcore.route import extract_text as route_extract_text
from ..textcore.svo import DEFAULT_PREDICATES as _SVO_PREDICATES
from ..schemas import PAGES

_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

# (canonical display name, surface variants) — variants recur across pages,
# the canonicalization fixture.
ENTITIES: list[tuple[str, list[str]]] = [
    ("HADES", ["HADES", "hades", "H.A.D.E.S.", "the HADES system"]),
    ("ArangoDB", ["ArangoDB", "arangodb", "Arango DB"]),
    ("Jina V4", ["Jina V4", "jina v4", "JinaV4"]),
    ("Apache Spark", ["Apache Spark", "Spark", "apache spark"]),
    ("Common Crawl", ["Common Crawl", "CommonCrawl", "common crawl"]),
    ("PostgreSQL", ["PostgreSQL", "Postgres", "postgres"]),
    ("TensorFlow", ["TensorFlow", "tensorflow", "Tensor Flow"]),
    ("GraphFrames", ["GraphFrames", "graphframes"]),
]

PREDICATES = ["uses", "extends", "replaces", "stores", "embeds", "indexes",
              "links", "cites"]

SURFACE_TO_CANONICAL: dict[str, str] = {
    v: c for c, vs in ENTITIES for v in vs
}

_LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "de", "fr"]
_HOT_HOSTS = ["hub.example", "portal.example"]


class Page(NamedTuple):
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str
    lang: str
    truth: list[tuple[str, str, str]]  # canonical (subj, pred, obj)
    # surface forms actually drawn, aligned 1:1 with ``truth`` — the
    # observed-vocabulary truth basis for the large-vocab canonicalization
    # fixture (a Zipf tail entity surfaces only a few of its variants)
    surfaces: tuple[tuple[str, str], ...] = ()


# --- parameterized synthetic entity vocabulary (round 3) -----------------
#
# The fixed 8-entity ENTITIES list keeps every bench run under
# canonicalization's local_threshold (driver-side union-find fallback);
# the distributed LSH+CC path needs a vocabulary in the 10^5+ range with
# alias clusters and Zipf skew. ``vocab_size > 0`` switches the corpus to
# this generator.

_WORD_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_BANNED_WORDS = set(_SVO_PREDICATES) | set(PREDICATES)


@lru_cache(maxsize=2_000_000)
def synthetic_entity(k: int, seed: int = 42) -> tuple[str, tuple[str, ...]]:
    """Deterministic synthetic entity #k -> (canonical display name,
    surface variants).

    Variant DESIGN RULE: every PAIR of an entity's variants must share
    >= 0.8 char-3-gram containment on the squashed norm, so ANY observed
    subset of variants clusters into one component under the
    canonicalization contract (a Zipf tail entity may surface just twice,
    with no bridging third variant). Hence all core variants squash
    identically ('Alpha Beta' / 'alpha beta' / 'AlphaBeta' / 'Alpha-Beta'
    -> 'alphabeta') and at most ONE extended variant (whose squash contains
    the full core squash as a substring: containment 1.0 vs every core
    variant) exists per entity. Distinct entities use independent random
    words, so cross-entity gram containment stays far below 0.8."""
    rng = random.Random((seed << 34) ^ (k * 0x9E3779B1) ^ 0xE27A11)

    def word() -> str:
        while True:
            w = "".join(rng.choice(_WORD_ALPHA)
                        for _ in range(5 + rng.randrange(3)))
            if w not in _BANNED_WORDS:
                return w

    w1, w2 = word(), word()
    c1, c2 = w1.capitalize(), w2.capitalize()
    canonical = f"{c1} {c2}"
    variants = [canonical, f"{w1} {w2}", f"{c1}{c2}", f"{c1}-{c2}"]
    r = rng.random()
    if r < 0.45:
        variants.append(f"the {canonical} system")
    elif r < 0.75:
        variants.append(f"{canonical} v2")
    return canonical, tuple(variants)


def _zipf_idx(rng: random.Random, vocab_size: int) -> int:
    """Log-uniform ('Zipf-ish') index covering ALL of [0, vocab_size):
    P(idx=0) is ~ln(2)/ln(V+1) (a few percent of ALL draws hit the single
    hottest entity) with a long flat tail — the skewed-key fixture the
    north rule's skew handling is exercised against. The (V+1) base makes
    the top index reachable (int(V**u)-1 spans only [0, V-2], which also
    hangs the subject!=object redraw at V=2)."""
    return min(int((vocab_size + 1) ** rng.random()) - 1, vocab_size - 1)


def _svo_sentence(
    rng: random.Random, vocab_size: int = 0, seed: int = 42,
) -> tuple[str, tuple[str, str, str], tuple[str, str]]:
    """One SVO sentence -> (sentence, canonical truth triple,
    (subj_surface, obj_surface)). vocab_size=0 keeps the legacy fixed
    8-entity vocabulary with an UNCHANGED rng draw order, so existing
    cached corpora and staged oracles stay byte-identical."""
    if vocab_size > 0:
        if vocab_size < 2:
            raise ValueError("vocab_size must be >= 2 (subject and object "
                             "are always distinct entities)")
        si = _zipf_idx(rng, vocab_size)
        oi = _zipf_idx(rng, vocab_size)
        while oi == si:
            oi = _zipf_idx(rng, vocab_size)
        subj_c, subj_vars = synthetic_entity(si, seed)
        obj_c, obj_vars = synthetic_entity(oi, seed)
    else:
        si = rng.randrange(len(ENTITIES))
        oi = (si + 1 + rng.randrange(len(ENTITIES) - 1)) % len(ENTITIES)
        subj_c, subj_vars = ENTITIES[si]
        obj_c, obj_vars = ENTITIES[oi]
    pred = rng.choice(PREDICATES)
    subj = rng.choice(subj_vars)
    obj = rng.choice(obj_vars)
    return f"{subj} {pred} {obj}.", (subj_c, pred, obj_c), (subj, obj)


_FILLER_WORDS = (
    "data graph entity mention corpus page crawl token batch shard "
    "schema column vector index partition shuffle join scan merge "
    "window stream state metric lineage snapshot replica quorum cache"
).split()


def _make_page_html(i: int, rng: random.Random, richness: int = 1,
                    vocab_size: int = 0, seed: int = 42):
    """``richness`` scales the page body toward realistic Common-Crawl page
    sizes (richness=1 ~ 0.6 KB, 10 ~ 8 KB, 40 ~ 30 KB) without changing
    the per-sentence truth-triple structure."""
    truth: list[tuple[str, str, str]] = []
    surfs: list[tuple[str, str]] = []
    parts = [f"<html><head><title>Doc {i}</title>",
             "<style>body { color: red; }</style>",
             "<script>var x = 1 &amp;&amp; 2;</script></head><body>"]
    parts.append(f"<h1>Document {i} &mdash; synthetic &amp; deterministic</h1>")

    sents = []
    for _ in range(2 + rng.randrange(4)):
        s, t, sf = _svo_sentence(rng, vocab_size, seed)
        sents.append(s)
        truth.append(t)
        surfs.append(sf)
    parts.append("<p>" + " ".join(sents) + "</p>")

    # filler prose paragraphs (no predicates, no triples) — page bulk
    for _ in range(richness - 1):
        words = [rng.choice(_FILLER_WORDS) for _ in range(60)]
        parts.append("<p>" + " ".join(words) + ".</p>")
        if rng.random() < 0.3:
            parts.append("<div>" + " ".join(
                rng.choice(_FILLER_WORDS) for _ in range(25)) + "</div>")

    if rng.random() < 0.5:
        parts.append(
            f'<p>See <a href="https://ref.example/doc{rng.randrange(200)}.html">'
            f"related doc {i}</a> and "
            f'<a href="https://cite.example/p{rng.randrange(50)}">a paper</a>.</p>'
        )
    if rng.random() < 0.35:
        parts.append(
            '<pre><code class="language-python">def f(n):\n'
            "    return n &lt;&lt; 1\n</code></pre>"
        )
    if rng.random() < 0.25:
        parts.append(
            "<table><tr><th>name</th><th>value</th></tr>"
            f"<tr><td>alpha</td><td>{rng.randrange(100)}</td></tr>"
            "<tr><td></td><td>beta&nbsp;&#8212;</td></tr></table>"
        )
    if rng.random() < 0.4:
        yr = 2015 + rng.randrange(10)
        parts.append(
            f'<p>[1] Smith, J., "A Study of Graph Construction Methods", '
            f"In Proceedings of KDD, {yr}. arXiv:{1500 + rng.randrange(500)}."
            f"{10000 + rng.randrange(89999)}</p>"
        )
    if rng.random() < 0.2:
        parts.append("<p>weird entity &#999999999; and hex &#x1F600; here</p>")
    if rng.random() < 0.2:
        parts.append("<div>multi    space\t\trun</div><br><br><br>")

    parts.append("</body></html>")
    return "".join(parts), truth, surfs


def _make_page_md(i: int, rng: random.Random, richness: int = 1,
                  vocab_size: int = 0, seed: int = 42):
    """Markdown page: heading + SVO sentences + link/code/table features."""
    truth: list[tuple[str, str, str]] = []
    surfs: list[tuple[str, str]] = []
    parts = [f"# Document {i}\n"]
    sents = []
    for _ in range(2 + rng.randrange(4)):
        s, t, sf = _svo_sentence(rng, vocab_size, seed)
        sents.append(s)
        truth.append(t)
        surfs.append(sf)
    parts.append(" ".join(sents) + "\n")
    for _ in range(richness - 1):
        parts.append(" ".join(rng.choice(_FILLER_WORDS)
                              for _ in range(60)) + ".\n")
    if rng.random() < 0.6:
        parts.append(
            f"See [related doc {i}](https://ref.example/doc{rng.randrange(200)}.md) "
            f"and <https://auto.example/p{rng.randrange(50)}>.\n")
    if rng.random() < 0.4:
        parts.append("```python\ndef g(n):\n    return n * 2\n```\n")
    if rng.random() < 0.3:
        parts.append("| name | value |\n|------|-------|\n"
                     f"| alpha | {rng.randrange(100)} |\n| beta | x |\n")
    return "\n".join(parts), truth, surfs


def _make_page_tex(i: int, rng: random.Random, richness: int = 1,
                   vocab_size: int = 0, seed: int = 42):
    """LaTeX page: sections + SVO sentences + equation/table/cite features."""
    truth: list[tuple[str, str, str]] = []
    surfs: list[tuple[str, str]] = []
    parts = ["\\documentclass{article}\n\\begin{document}",
             f"\\section{{Document {i}}}"]
    sents = []
    for _ in range(2 + rng.randrange(4)):
        s, t, sf = _svo_sentence(rng, vocab_size, seed)
        sents.append(s)
        truth.append(t)
        surfs.append(sf)
    parts.append(" ".join(sents))
    for _ in range(richness - 1):
        parts.append(" ".join(rng.choice(_FILLER_WORDS)
                              for _ in range(60)) + ".")
    if rng.random() < 0.5:
        parts.append("\\begin{equation}\\label{eq:%d}\nE = mc^2\n"
                     "\\end{equation}" % (i % 10))
    if rng.random() < 0.35:
        parts.append(
            "\\begin{table}\\caption{Results table}\\label{tab:r}\n"
            "\\begin{tabular}{lr}\nalpha & 1 \\\\\nbeta & 2\n"
            "\\end{tabular}\\end{table}")
    if rng.random() < 0.5:
        parts.append("Prior work \\cite{smith2019,jones2021} applies.")
    parts.append("\\end{document}")
    return "\n".join(parts), truth, surfs


def _gen_one(i: int, seed: int = 42, compute_text: bool = True,
             richness: int = 1, vocab_size: int = 0,
             with_pdf: bool = False) -> Page:
    """One deterministic page — a pure function of (seed, i), so driver-side
    and executor-side generation produce identical corpora. Most pages are
    HTML; i%11==3 pages are markdown, i%23==7 pages are LaTeX (the
    format-routing fixtures); with ``with_pdf``, i%29==19 pages are PDF
    (opt-in so pre-existing cached corpora stay byte-identical)."""
    rng = random.Random((seed << 20) + i)
    if rng.random() < 0.05:
        host = _HOT_HOSTS[i % len(_HOT_HOSTS)]
    else:
        host = f"host{rng.randrange(256)}.example"
    if with_pdf and i % 29 == 19 and i % 11 != 3 and i % 23 != 7:
        from ..textcore.pdf import make_simple_pdf

        url = f"https://{host}/docs/{i}.pdf"
        body, truth, surfs = _make_page_md(i, rng, richness, vocab_size,
                                           seed)
        html = make_simple_pdf(body.split("\n"))
        lang = rng.choice(_LANGS)
        text = route_extract_text(url, html) if compute_text else ""
        ts = _BASE_TS + dt.timedelta(seconds=i * 37 % 864000)
        return Page(url, ts, html, text, lang, truth, tuple(surfs))
    if i % 11 == 3:
        url = f"https://{host}/docs/{i}.md"
        body, truth, surfs = _make_page_md(i, rng, richness, vocab_size, seed)
        html = body.encode("utf-8")
    elif i % 23 == 7:
        url = f"https://{host}/docs/{i}.tex"
        body, truth, surfs = _make_page_tex(i, rng, richness, vocab_size, seed)
        html = body.encode("utf-8")
    else:
        url = f"https://{host}/docs/{i}.html"
        html_str, truth, surfs = _make_page_html(i, rng, richness,
                                                 vocab_size, seed)
        # page 13 mod 97 gets a raw 0xE9 byte that is invalid utf-8,
        # exercising the latin-1 decode fallback ladder
        if i % 97 == 13:
            html = html_str.encode("utf-8") + b"<p>caf\xe9</p>"
        else:
            html = html_str.encode("utf-8")
    lang = rng.choice(_LANGS)
    text = route_extract_text(url, html) if compute_text else ""
    ts = _BASE_TS + dt.timedelta(seconds=i * 37 % 864000)
    return Page(url, ts, html, text, lang, truth, tuple(surfs))


def gen_pages(n_pages: int, seed: int = 42, compute_text: bool = True,
              richness: int = 1, vocab_size: int = 0,
              with_pdf: bool = False) -> list[Page]:
    """Deterministic synthetic pages with per-page ground-truth triples.

    ``compute_text=False`` skips the driver-side reference extraction (the
    pipeline recomputes it distributed) — use for large bench corpora.
    ``vocab_size > 0`` switches to the parameterized synthetic entity
    vocabulary (Zipf-skewed selection, alias clusters); ``with_pdf``
    makes i%29==19 pages PDF (opt-in: cached corpora stay stable)."""
    return [_gen_one(i, seed, compute_text, richness, vocab_size, with_pdf)
            for i in range(n_pages)]


def pages_df(spark: SparkSession, n_pages: int, seed: int = 42,
             partitions: int | None = None,
             with_text: bool = True, vocab_size: int = 0) -> DataFrame:
    """Synthesise the pages table as a DataFrame. ``with_text=False`` leaves
    the text column null (the pipeline fills it — the normal entry shape)."""
    rows = [
        (p.url, p.warc_ts, p.html, p.text if with_text else None, p.lang)
        for p in gen_pages(n_pages, seed, compute_text=with_text,
                           vocab_size=vocab_size)
    ]
    df = spark.createDataFrame(rows, PAGES)
    if partitions:
        df = df.repartition(partitions)
    return df


def pages_df_distributed(spark: SparkSession, n_pages: int, seed: int = 42,
                         partitions: int | None = None,
                         with_text: bool = False,
                         richness: int = 1,
                         vocab_size: int = 0,
                         start: int = 0) -> DataFrame:
    """Executor-side corpus generation: each task synthesises its index
    range (generation is a pure function of (seed, i), so the output is
    identical to ``pages_df`` regardless of parallelism). Use for bench
    corpora — the driver never holds the pages.

    ``start`` shifts the page-index range to ``[start, start+n_pages)``:
    with the same seed, consecutive ranges extend the same corpus with
    disjoint urls (page i's url embeds i) — the "next crawl batch" shape
    the incremental-update bench needs."""
    import pandas as pd

    parts = partitions or spark.sparkContext.defaultParallelism * 2

    def gen_batch(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                p = _gen_one(int(i), seed, with_text, richness, vocab_size)
                # keep the tz-AWARE datetime: a naive value would be
                # interpreted in spark.sql.session.timeZone inside the
                # worker, shifting warc_ts vs pages_df on non-UTC sessions
                rows.append((p.url, p.warc_ts, p.html,
                             p.text if with_text else None, p.lang))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return spark.range(start, start + n_pages, 1, parts).mapInPandas(
        gen_batch, schema=PAGES)


def expected_canonical_triples(
    n_pages: int, seed: int = 42, vocab_size: int = 0,
) -> set[tuple[str, str, str]]:
    """Ground truth expressed in canonical-id space: each entity's id is
    the lexicographically-smallest normalized surface among the variants
    OBSERVED in this corpus — the same id a perfect clustering of the
    observed alias graph assigns, so P/R compares like with like. (With
    the fixed 8-entity vocabulary every variant is observed at any
    realistic n, so this equals the min over all variants; with a Zipf
    vocabulary a tail entity may surface only a subset.)"""
    from ..operators.canonicalize import normalize_surface

    pages = gen_pages(n_pages, seed, compute_text=False,
                      vocab_size=vocab_size)
    observed: dict[str, set[str]] = {}
    for p in pages:
        for (s_c, _pred, o_c), (s_s, o_s) in zip(p.truth, p.surfaces):
            observed.setdefault(s_c, set()).add(normalize_surface(s_s))
            observed.setdefault(o_c, set()).add(normalize_surface(o_s))
    canon_id = {c: min(norms) for c, norms in observed.items()}
    return {
        (canon_id[s], pr, canon_id[o])
        for p in pages for (s, pr, o) in p.truth
    }
