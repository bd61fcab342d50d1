"""Optimized html_to_text must be byte-identical to the spec transcription.

Property-based (hypothesis) + corpus + adversarial fixtures. This is the
guard that lets the production path fuse regex passes without risking the
per-url byte-identical contract.
"""

from hypothesis import given, settings, strategies as st

from hades_spark.textcore.html import (
    decode_html_bytes, html_to_text, html_to_text_spec, unescape_html,
    unescape_html_spec,
)

TAGS = ["<p>", "</p>", "<div>", "</div>", "<br>", "<br/>", "<h1>", "</h1>",
        "<h6>", "</h6>", "<li>", "</li>", "<tr>", "</tr>", "<script>",
        "</script>", "<style>", "</style>", "<code>", "</code>", "<a href='x'>",
        "</a>", "<span", ">"]
ENTS = ["&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&#39;", "&nbsp;",
        "&mdash;", "&hellip;", "&amp;lt;", "&amp;amp;", "&#65;", "&#x42;",
        "&#999999999;", "&#xFFFFFFFF;", "&", ";", "&amp;#65;",
        "&amp;quot;", "&amp;apos;", "&amp;nbsp;", "&amp;mdash;",
        "&amp;hellip;", "&amp;trade;", "&amp;amp;quot;", "&#38;quot;",
        "&amp;gt;", "&amp;#39;", "&amp;quo", "quot;", "&amp;&quot;"]
WS_RUNS = [" ", "  ", "   ", "\t", "\t\t", " \t", "\t ", " \t \t",
           "\n", "\n\n", "\n\n\n", "\n\n\n\n", "\n\n\n\n\n", " \n\n\n\t"]
# characters IGNORECASE folds onto ASCII letters of tag names: 'ſ' ~ 's',
# 'İ'/'ı' ~ 'i', Kelvin 'K' ~ 'k'
FOLD_TAGS = ["<ſcript>", "</ſcript>", "<SCRİPT>", "</scrıpt>", "<ſtyle>",
             "</ſTYLE>", "ſ", "K", "İ", "<Kbd>", "</kbd>", "<script>",
             "</script>", "<style>", "</style>"]
FRAGS = st.lists(
    st.one_of(
        st.sampled_from(TAGS),
        st.sampled_from(ENTS),
        st.text(alphabet="ab <>&#;/\n\t x1", max_size=12),
        st.text(max_size=8),
    ),
    max_size=40,
)


class TestEquivalence:
    @settings(max_examples=400, deadline=None)
    @given(FRAGS)
    def test_fuzz_html_to_text(self, frags):
        s = "".join(frags)
        assert html_to_text(s) == html_to_text_spec(s)

    @settings(max_examples=400, deadline=None)
    @given(st.text(
        alphabet="&ampltgqunbsmdhexorticpyv;#0123456789abcdefABCDEF x",
        max_size=60))
    def test_fuzz_unescape(self, s):
        # alphabet covers every named-entity letter (quot/apos/nbsp/mdash/
        # ndash/hellip/copy/reg/trade) so double-escapes are reachable
        assert unescape_html(s) == unescape_html_spec(s)

    def test_double_escaped_entities(self):
        # the round-1 regression: '&amp;X;' where X is a post-&amp; entity
        # must cascade exactly as the sequential spec does
        cases = {
            "&amp;quot;": '"', "&amp;apos;": "'", "&amp;nbsp;": " ",
            "&amp;mdash;": "—", "&amp;ndash;": "–", "&amp;hellip;": "…",
            "&amp;copy;": "©", "&amp;reg;": "®", "&amp;trade;": "™",
            # entities BEFORE &amp; in the table must NOT cascade
            "&amp;lt;": "&lt;", "&amp;gt;": "&gt;", "&amp;amp;": "&amp;",
            # numeric-created '&' is never rescanned by named passes
            "&#38;quot;": "&quot;",
            # amp output + numeric tail IS consumed by the numeric passes
            "&amp;#65;": "A", "&amp;#x42;": "B", "&amp;#39;": "'",
            # double-amp chains don't over-replace
            "&amp;amp;quot;": "&amp;quot;",
        }
        for s, want in cases.items():
            assert unescape_html_spec(s) == want, s
            assert unescape_html(s) == want, s

    def test_corpus_equivalence(self):
        from hades_spark.pipeline.corpus import gen_pages

        for p in gen_pages(120, seed=11, compute_text=False, richness=3):
            html = p.html.decode("utf-8", "replace")
            assert html_to_text(html) == html_to_text_spec(html)

    def test_amp_created_numeric_not_rescanned(self):
        # '&amp;#65;' -> named pass yields '&#65;' -> numeric pass DOES
        # convert it (both spec and optimized run numeric after named)
        assert unescape_html("&amp;#65;") == unescape_html_spec("&amp;#65;")

    def test_nested_script_style_order(self):
        s = "a<style>x<script>y</style>z</script>b"
        assert html_to_text(s) == html_to_text_spec(s)

    @settings(max_examples=400, deadline=None)
    @given(st.lists(st.one_of(
        st.sampled_from(WS_RUNS),
        st.sampled_from(FOLD_TAGS),
        st.sampled_from(TAGS),
        st.sampled_from(["&#9;", "&#32;", "&#10;", "&nbsp;", "x", "ab", "."]),
    ), max_size=40))
    def test_fuzz_whitespace_and_case_folds(self, frags):
        # the whitespace passes (tab rewrite + '  +' collapse, 3+ newline
        # collapse) and script/style removal under IGNORECASE case folds
        s = "".join(frags)
        assert html_to_text(s) == html_to_text_spec(s)

    def test_pinned_whitespace_and_case_folds(self):
        for s, want in {
            "a \t \tb": "a b",
            "a\t\tb\tc  d": "a b c d",
            "a \n\n\n\n\t b": "a \n\n b",
            "a</p></p>b": "a\n\nb",
            "a</p>\nb": "a\n\nb",
            "a&#9;&#9;b &#10;&#10;&#10;c": "a b \n\nc",
            "a<ſcript>x</SCRİPT>b": "ab",
            "a<ſtyle>x</ſtyle>b": "ab",
            "a<Kbd>K</kbd>b": "aKb",
        }.items():
            assert html_to_text_spec(s) == want, s
            assert html_to_text(s) == want, s

    def test_corpus_benchmark_shape(self):
        # the benchmark's page shape: richness 30 (long paragraphs, one
        # triple-bearing line per page among ~70 filler lines)
        from hades_spark.pipeline.corpus import gen_pages

        for p in gen_pages(60, seed=1, compute_text=False, richness=30):
            html = decode_html_bytes(p.html)
            assert html_to_text(html) == html_to_text_spec(html)


SVO_WS = [" ", "\n", "\t", "\r", "\x0b", "\x0c", "\x1c", "\x85", "\u2028",
          "\u2029", "\xa0", ".\x85\n", ".\u2028\n", ". \r\n"]


class TestTripleEquivalence:
    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(
        st.sampled_from(["HADES", "uses", "extends", "Spark.", "A1 uses B2.",
                         ".", " ", "\n", "x y. ", "H.A.D.E.S.", "the", "cites"]),
        st.text(alphabet="abc. \nuses", max_size=10),
    ), max_size=30))
    def test_fuzz_extract_triples(self, frags):
        from hades_spark.functions.triples import (
            extract_triples, extract_triples_spec)

        s = " ".join(frags)
        assert extract_triples(s) == extract_triples_spec(s)

    @settings(max_examples=400, deadline=None)
    @given(st.lists(st.one_of(
        st.sampled_from(["uses", "reuses", "usesX", "links", "linkstores",
                         "stores", "mentions", "calls", "A1", "B2", "HADES",
                         "Spark.", "H.A.D.E.S.", ".", ". ", "the"]),
        st.sampled_from(SVO_WS),
        st.text(alphabet="ab. \n\t\r\x85uses", max_size=10),
    ), max_size=40))
    def test_fuzz_extract_triples_whitespace(self, frags):
        # whitespace that str.rstrip strips but split("\n") keeps inside a
        # line (the dot-licensed line-start rule), predicate substrings in
        # longer words (the find-based line prefilter), and several
        # predicate lines per text
        from hades_spark.functions.triples import (
            extract_triples, extract_triples_spec)

        s = "".join(frags)
        assert extract_triples(s) == extract_triples_spec(s)

    def test_several_hit_lines_and_substrings(self):
        from hades_spark.functions.triples import (
            extract_triples, extract_triples_spec)

        s = ("reuses nothing here\nA1 uses B2.\nlinkstores\nno hits\n"
             "C3 linkstores D4. E5 links F6.\nusesX usesX.\nG7 uses H8.\n"
             "I9\tcites\tJ0.")
        got = extract_triples(s)
        assert got == extract_triples_spec(s)
        assert [(t["subj"], t["pred"], t["obj"]) for t in got] == [
            ("A1", "uses", "B2"), ("E5", "links", "F6"), ("G7", "uses", "H8"),
            ("I9", "cites", "J0")]

    def test_corpus_triples_benchmark_shape(self):
        from hades_spark.functions.triples import (
            extract_triples, extract_triples_spec)
        from hades_spark.pipeline.corpus import gen_pages

        for p in gen_pages(60, seed=1, compute_text=True, richness=30):
            assert extract_triples(p.text) == extract_triples_spec(p.text)

    def test_corpus_triples_equivalence(self):
        from hades_spark.functions.triples import (
            extract_triples, extract_triples_spec)
        from hades_spark.pipeline.corpus import gen_pages

        for p in gen_pages(80, seed=13, compute_text=True, richness=4):
            assert extract_triples(p.text) == extract_triples_spec(p.text)


class TestCrossLineSentenceStart:
    """Regression: the sentence-boundary start (?<=\\.)\\s+ crosses
    newlines, so a dot-ended line licenses a subject at the top of the
    NEXT line — and that earlier attempt beats the ^ attempt. The
    per-line fast path must reproduce this (hypothesis-found case)."""

    def test_pinned_counterexamples(self):
        from hades_spark.functions.triples import (extract_triples,
                                                   extract_triples_spec)

        for s in [
            ".\n  uses A1 uses B2.",          # the found case
            ". \n uses uses uses.",            # boundary + ws-only tail
            "A.\n\n  HADES uses Spark.",       # blank line in the run
            "tail\n  uses A1 uses B2.",        # NO dot tail: ^ semantics
            "x.  \n\t HADES extends Spark.",   # tab/space mixes
        ]:
            assert extract_triples(s) == extract_triples_spec(s), s
        # the found case now emits the spec's triple, not nothing
        got = extract_triples(".\n  uses A1 uses B2.")
        assert [(t["subj"], t["pred"], t["obj"], t["start_char"])
                for t in got] == [("uses A1", "uses", "B2", 4)]

    def test_unicode_whitespace_before_licensed_line(self):
        # '\x85' and '\u2028' are whitespace to both str.isspace and \s
        # but do not end a line for split("\n"); a dot before them still
        # licenses the next line's subject, and without the dot it does not
        from hades_spark.functions.triples import (extract_triples,
                                                   extract_triples_spec)

        for s, want in [
            ("A.\x85\n  uses A1 uses B2.", [("uses A1", "uses", "B2", 6)]),
            ("A.\u2028\n  uses A1 uses B2.", [("uses A1", "uses", "B2", 6)]),
            ("A. \x85\n\u2028\n uses A1 uses B2.",
             [("uses A1", "uses", "B2", 8)]),
            ("A.\r\n\x0c\n\x1c uses A1 uses B2.",
             [("uses A1", "uses", "B2", 8)]),
            ("x.\u2028  uses A1 uses B2.", [("uses A1", "uses", "B2", 5)]),
            ("A\x85\n  uses A1 uses B2.", []),
            ("\x85\n  uses A1 uses B2.", []),
        ]:
            spec = extract_triples_spec(s)
            assert extract_triples(s) == spec, s
            assert [(t["subj"], t["pred"], t["obj"], t["start_char"])
                    for t in spec] == want, s
