"""End-to-end KG pipeline tests: extraction, canonicalization, P/R."""

from pyspark.sql import functions as F

from hades_spark.functions.triples import extract_triples
from hades_spark.operators.canonicalize import normalize_surface
from hades_spark.pipeline.corpus import (
    expected_canonical_triples,
    gen_pages,
    pages_df,
)
from hades_spark.pipeline.kg import canonical_triples, distinct_edges


class TestTripleExtraction:
    def test_simple_svo(self):
        ts = extract_triples("HADES uses Spark.")
        assert [(t["subj"], t["pred"], t["obj"]) for t in ts] == \
            [("HADES", "uses", "Spark")]

    def test_multiple_sentences(self):
        ts = extract_triples("A1 uses B2. C3 extends D4.")
        assert [(t["subj"], t["pred"], t["obj"]) for t in ts] == \
            [("A1", "uses", "B2"), ("C3", "extends", "D4")]

    def test_dotted_entity_as_object(self):
        ts = extract_triples("Spark uses H.A.D.E.S..")
        assert [(t["subj"], t["obj"]) for t in ts] == [("Spark", "H.A.D.E.S.")]

    def test_dotted_entity_as_subject(self):
        ts = extract_triples("First one. H.A.D.E.S. uses Spark.")
        # the entity's terminal '.' is consumed as sentence punctuation;
        # canonicalization normalizes both forms identically
        assert [(t["subj"], t["obj"]) for t in ts] == [("H.A.D.E.S", "Spark")]

    def test_multiword_spans(self):
        ts = extract_triples("the HADES system embeds Apache Spark.")
        assert [(t["subj"], t["obj"]) for t in ts] == \
            [("the HADES system", "Apache Spark")]

    def test_no_predicate_no_triple(self):
        assert extract_triples("Nothing interesting here.") == []

    def test_line_bounded(self):
        ts = extract_triples("header line\nAA uses BB.\nfooter")
        assert [(t["subj"], t["obj"]) for t in ts] == [("AA", "BB")]


class TestNormalization:
    def test_normalize_surface(self):
        assert normalize_surface("H.A.D.E.S.") == "h a d e s"
        assert normalize_surface("Apache  Spark!") == "apache spark"
        assert normalize_surface("hades") == "hades"


class TestPipeline:
    def test_stage1_matches_per_page_functions(self, spark):
        """The deploy path's stage 1 (one mapInArrow pass) equals the pure
        per-page functions row for row: null text is extracted through the
        format router, given text is kept, mentions see the html through
        the utf-8 -> latin-1 ladder, and a page with neither mentions nor
        triples gets empty arrays, not nulls. Compared as JSON: map
        columns cannot go through exceptAll."""
        import datetime as dt

        from hades_spark.functions.mentions import detect_mentions
        from hades_spark.pipeline.persist import _stage1
        from hades_spark.schemas import PAGES
        from hades_spark.textcore.html import decode_html_bytes
        from hades_spark.textcore.route import extract_text

        ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        bad, md, empty = ("https://bad.example/0.html",
                          "https://md.example/1.md",
                          "https://e.example/2.html")
        odd = spark.createDataFrame([
            (bad, ts, b"<html><body><p>Caf\xe9 uses Spark.</p>"
             b"<a href='https://x.example/'>caf\xe9 link</a></body></html>",
             None, "en"),
            (md, ts, b"# Title\n[link](https://y.example/) text",
             "Given uses Text.", "en"),
            (empty, ts, b"<html><body><p>nothing here</p></body></html>",
             None, None),
        ], PAGES)
        pages = pages_df(spark, 40, seed=3, with_text=False).unionByName(odd)

        def per_page(r):
            text = r.text if r.text is not None else extract_text(r.url,
                                                                  r.html)
            return (r.url, r.warc_ts, r.lang, text,
                    detect_mentions(decode_html_bytes(r.html), text,
                                    url=r.url),
                    extract_triples(text))

        got = _stage1(pages)
        want = spark.createDataFrame(
            [per_page(r) for r in pages.collect()], got.schema)

        def as_json(df):
            # createDataFrame stores a dict's map entries key-sorted
            sorted_attrs = F.transform("mentions", lambda m: m.withField(
                "attrs", F.map_from_entries(F.array_sort(
                    F.map_entries(m["attrs"])))))
            return df.select("url", "warc_ts", "lang", "text",
                             F.to_json(sorted_attrs).alias("mentions"),
                             F.to_json("triples").alias("triples"))

        assert as_json(got).exceptAll(as_json(want)).count() == 0
        assert as_json(want).exceptAll(as_json(got)).count() == 0
        rows = {r["url"]: r for r in got.collect()}
        assert len(rows) == 43
        for p in gen_pages(40, seed=3):
            assert rows[p.url]["text"] == p.text
        assert rows[bad]["text"].startswith("Café uses Spark.")
        assert rows[bad]["mentions"][0]["surface"] == "café link"
        assert rows[md]["text"] == "Given uses Text."
        assert rows[empty]["mentions"] == [] and rows[empty]["triples"] == []

    def test_pipeline_precision_recall(self, spark):
        n = 120
        pages = pages_df(spark, n, seed=42, with_text=False)
        edges = distinct_edges(canonical_triples(pages))
        got = {(r["subj"], r["pred"], r["obj"])
               for r in edges.select("subj", "pred", "obj").collect()}
        want = expected_canonical_triples(n, seed=42)
        assert want, "generator produced no ground truth?"
        tp = len(got & want)
        precision = tp / max(len(got), 1)
        recall = tp / len(want)
        assert precision >= 0.95, (precision, sorted(got - want)[:10])
        assert recall >= 0.95, (recall, sorted(want - got)[:10])

    def test_edges_are_deduped_and_keyed(self, spark):
        pages = pages_df(spark, 60, seed=1, with_text=False)
        edges = distinct_edges(canonical_triples(pages))
        assert edges.count() == edges.select("edge_key").distinct().count()
        assert edges.filter(F.length("edge_key") != 64).count() == 0


class TestAdaptiveExecution:
    """The local (driver-side) fast paths must agree with the distributed
    paths exactly."""

    def test_cc_local_vs_distributed(self, spark):
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")],
            "a string, b string")
        from hades_spark.operators.components import connected_components

        local = {(r["node"], r["component"])
                 for r in connected_components(pairs).collect()}
        dist = {(r["node"], r["component"])
                for r in connected_components(pairs, local_threshold=0).collect()}
        assert local == dist

    @staticmethod
    def _canonical_by_surface(spark, surfaces, **kw):
        """canonical_norm_map over the normalize_surface'd inputs, read
        back per surface."""
        from hades_spark.operators.canonicalize import (canonical_norm_map,
                                                        normalize_surface)

        norms = spark.createDataFrame(
            [(normalize_surface(s),) for s in surfaces], "norm string")
        by_norm = dict(canonical_norm_map(norms, **kw).collect())
        return {s: by_norm[normalize_surface(s)] for s in surfaces}

    def test_canonical_local_vs_distributed(self, spark):
        surfaces = ["HADES", "hades", "H.A.D.E.S.", "the HADES system",
                    "Apache Spark", "Spark", "apache spark",
                    "PostgreSQL", "Postgres", "unrelated thing"]
        by_surface = self._canonical_by_surface(spark, surfaces)
        assert self._canonical_by_surface(
            spark, surfaces, local_threshold=0) == by_surface
        assert by_surface["HADES"] == by_surface["the HADES system"]
        assert by_surface["Apache Spark"] == by_surface["Spark"]
        assert by_surface["PostgreSQL"] == by_surface["Postgres"]
        assert by_surface["unrelated thing"] not in (
            by_surface["HADES"], by_surface["Apache Spark"])

    def test_giant_norms_capped_out_of_alias_clustering(self, spark):
        """Over-cap squashes (extraction garbage — a format-mismatched
        page emits a whole document as one 'mention') never enter LSH:
        a giant containing a short entity name must NOT merge with it,
        squash-identical giants still merge via the squash key, and the
        local and distributed paths agree on all of it."""
        from hades_spark.operators.canonicalize import (
            MAX_ALIAS_SQUASH_LEN, normalize_surface)

        blob = "alphaproject " + "page window batch scan " * (
            MAX_ALIAS_SQUASH_LEN // 10)
        assert len(blob.replace(" ", "")) > MAX_ALIAS_SQUASH_LEN
        # same squash as blob, but a DIFFERENT norm (one space dropped)
        blob_joined = blob.upper().replace(" ", "", 1)
        assert normalize_surface(blob_joined) != normalize_surface(blob)
        surfaces = ["AlphaProject", "the AlphaProject system",
                    blob, blob_joined,            # squash-identical pair
                    blob + " tail"]               # a DIFFERENT giant
        by = self._canonical_by_surface(spark, surfaces)
        assert self._canonical_by_surface(
            spark, surfaces, local_threshold=0) == by
        # short alias pair still clusters
        assert by["AlphaProject"] == by["the AlphaProject system"]
        # the giant CONTAINS 'alphaproject' (containment 1.0 on the
        # short side) but is excluded from candidates by the cap
        assert by[blob] != by["AlphaProject"]
        # squash-identical giants merge with no shingles at all
        assert by[blob] == by[blob_joined]
        # distinct giants stay apart
        assert by[blob + " tail"] != by[blob]


class TestRealisticPages:
    def test_pr_holds_on_rich_pages(self, spark):
        """Precision/recall on Common-Crawl-sized pages (filler prose,
        tables, citations) — guards against spurious triples from page
        bulk."""
        from hades_spark.pipeline.corpus import gen_pages
        from hades_spark.pipeline.kg import canonical_triples, distinct_edges
        from hades_spark.operators.canonicalize import normalize_surface
        from hades_spark.pipeline.corpus import ENTITIES
        from hades_spark.schemas import PAGES

        n = 80
        pages = gen_pages(n, seed=21, compute_text=False, richness=25)
        df = spark.createDataFrame(
            [(p.url, p.warc_ts, p.html, None, p.lang) for p in pages], PAGES)
        got = {(r["subj"], r["pred"], r["obj"]) for r in
               distinct_edges(canonical_triples(df))
               .select("subj", "pred", "obj").collect()}
        canon_id = {c: min(normalize_surface(v) for v in vs)
                    for c, vs in ENTITIES}
        want = {(canon_id[s], p, canon_id[o])
                for pg in pages for (s, p, o) in pg.truth}
        tp = len(got & want)
        assert tp / max(len(got), 1) >= 0.95, sorted(got - want)[:8]
        assert tp / len(want) >= 0.95, sorted(want - got)[:8]


class TestCanonicalizeCutover:
    def test_cutover_above_local_threshold(self, spark):
        # the adaptive local/distributed switch itself: a vocabulary larger
        # than local_threshold must take the distributed LSH+CC path and
        # produce the same clusters the local path produces
        from hades_spark.operators.canonicalize import canonical_norm_map

        # 300 unique norms + 3 alias groups
        base = [(f"uniq token {i:04d}",) for i in range(300)]
        aliases = [("apache spark",), ("apachespark",),
                   ("postgre sql",), ("postgresql",),
                   ("common crawl",), ("commoncrawl",)]
        norms = spark.createDataFrame(base + aliases, "norm string")

        local = {(r["norm"], r["canonical_id"]) for r in
                 canonical_norm_map(norms, local_threshold=100_000).collect()}
        dist = {(r["norm"], r["canonical_id"]) for r in
                canonical_norm_map(norms, local_threshold=100).collect()}
        assert dist == local
        # the alias pairs actually merged
        d = dict(dist)
        assert d["apachespark"] == d["apache spark"]
        assert d["postgresql"] == d["postgre sql"]


class TestVocabCorpus:
    """Parameterized large-vocabulary corpus (round 3): Zipf-skewed
    synthetic entities whose alias variants must cluster under the
    canonicalization contract regardless of which subset is observed."""

    def test_entity_variant_pairwise_containment(self):
        """DESIGN RULE check: every variant pair of an entity shares
        >= 0.8 char-3-gram containment on the squashed norm (so any
        observed subset forms one connected component), and distinct
        entities stay below the threshold."""
        from hades_spark.pipeline.corpus import synthetic_entity

        def grams(s):
            sq = normalize_surface(s).replace(" ", "")
            return {sq[i:i + 3] for i in range(max(len(sq) - 2, 1))}

        ents = [synthetic_entity(k, seed=7) for k in range(200)]
        for _, variants in ents:
            gs = [grams(v) for v in variants]
            for i in range(len(gs)):
                for j in range(i + 1, len(gs)):
                    cont = len(gs[i] & gs[j]) / min(len(gs[i]), len(gs[j]))
                    assert cont >= 0.8, (variants[i], variants[j], cont)
        # cross-entity: core variants of different entities don't merge
        import itertools
        for (c1, v1), (c2, v2) in itertools.islice(
                itertools.combinations(ents, 2), 2000):
            g1, g2 = grams(v1[0]), grams(v2[0])
            cont = len(g1 & g2) / min(len(g1), len(g2))
            assert cont < 0.8, (v1[0], v2[0], cont)

    def test_entity_deterministic_across_processes(self):
        from hades_spark.pipeline.corpus import synthetic_entity

        c, vs = synthetic_entity(3, seed=42)
        c2, vs2 = synthetic_entity(3, seed=42)
        assert (c, vs) == (c2, vs2)
        assert synthetic_entity(3, seed=43) != (c, vs)

    def test_vocab_corpus_distributed_vs_driver_generation(self, spark):
        from hades_spark.pipeline.corpus import pages_df, pages_df_distributed

        a = pages_df(spark, 30, seed=9, with_text=False, vocab_size=25)
        b = pages_df_distributed(spark, 30, seed=9, partitions=4,
                                 with_text=False, vocab_size=25)
        ra = {(r["url"], bytes(r["html"])) for r in a.collect()}
        rb = {(r["url"], bytes(r["html"])) for r in b.collect()}
        assert ra == rb

    def test_vocab_pipeline_pr_distributed_path(self, spark):
        """P/R >= 0.95 with the DISTRIBUTED LSH+CC canonicalization path
        forced (local_threshold=0) on a Zipf-vocab corpus — the scale path
        the bench measures."""
        from hades_spark.pipeline.corpus import (
            expected_canonical_triples, pages_df)

        n, vocab = 250, 60
        pages = pages_df(spark, n, seed=42, with_text=False,
                         vocab_size=vocab)
        edges = distinct_edges(
            canonical_triples(pages, local_threshold=0))
        got = {(r["subj"], r["pred"], r["obj"])
               for r in edges.select("subj", "pred", "obj").collect()}
        want = expected_canonical_triples(n, seed=42, vocab_size=vocab)
        assert want, "vocab generator produced no ground truth?"
        tp = len(got & want)
        precision = tp / max(len(got), 1)
        recall = tp / len(want)
        assert precision >= 0.95, (precision, sorted(got - want)[:10])
        assert recall >= 0.95, (recall, sorted(want - got)[:10])

    def test_legacy_corpus_unchanged(self, spark):
        """vocab_size=0 must preserve the legacy rng draw order exactly
        (cached bench corpora + staged oracles depend on it) — pinned by
        GOLDEN page-byte hashes, so any draw-order refactor fails loudly
        instead of silently invalidating every cached corpus."""
        import hashlib

        from hades_spark.pipeline.corpus import gen_pages

        pages = gen_pages(3, seed=42, compute_text=False)
        got = [(p.url, hashlib.sha256(p.html).hexdigest()[:16])
               for p in pages]
        assert got == [
            ("https://hub.example/docs/0.html", "20247c1a01a8bfca"),
            ("https://host105.example/docs/1.html", "cfccc95120ff2353"),
            ("https://host180.example/docs/2.html", "401b3c564eef18af"),
        ]
        p = gen_pages(5, seed=42, compute_text=False)[2]
        # surfaces recorded, aligned with truth
        assert len(p.surfaces) == len(p.truth)
        # spot-invariant: truth entities come from the fixed vocabulary
        from hades_spark.pipeline.corpus import SURFACE_TO_CANONICAL
        canon = set(SURFACE_TO_CANONICAL.values())
        for (s, _, o) in p.truth:
            assert s in canon and o in canon
