"""Byte-identical HTML->text contract tests.

Cases mirror the reference extractor's own unit suite
(``/root/reference/tests/core/extractors/test_extractors_markdown.py``) and
the behaviors of ``extractors_markdown.py:619-697``: script/style removal,
block-tag newline rules, entity unescaping (named order-sensitivity, numeric
with U+FFFD fallback), whitespace collapse, and the utf-8 -> latin-1 decode
ladder (``:80-91``).
"""

from hades_spark.textcore.html import (
    decode_html_bytes,
    extract_text_from_html_bytes,
    html_to_text,
    unescape_html,
)


class TestHtmlToText:
    def test_strips_script_and_style(self):
        html = "<html><script>var x=1;</script><style>p{}</style><p>Keep</p></html>"
        assert html_to_text(html) == "Keep"

    def test_script_multiline_case_insensitive(self):
        html = "<SCRIPT type='x'>\nline1\nline2\n</SCRIPT><p>A</p>"
        assert html_to_text(html) == "A"

    def test_block_tags_to_newlines(self):
        html = "<h1>Title</h1><p>Para one.</p><p>Para two.</p>"
        assert html_to_text(html) == "Title\n\nPara one.\n\nPara two."

    def test_br_and_div_single_newline(self):
        html = "<div>a</div><div>b</div>c<br>d"
        assert html_to_text(html) == "a\nb\nc\nd"

    def test_li_and_tr_newlines(self):
        html = "<ul><li>x</li><li>y</li></ul><table><tr><td>1</td></tr></table>"
        assert html_to_text(html) == "x\ny\n1"

    def test_named_entities(self):
        assert html_to_text("<p>a &amp; b &lt;c&gt; &nbsp;&mdash;&hellip;</p>") == \
            "a & b <c> —…"

    def test_amp_entity_order_sensitivity(self):
        # '&amp;lt;' must become literal '&lt;' text, NOT '<'
        assert unescape_html("&amp;lt;") == "&lt;"

    def test_numeric_entities(self):
        assert unescape_html("&#65;&#x42;") == "AB"

    def test_out_of_range_numeric_entity_is_replacement_char(self):
        assert unescape_html("&#999999999;") == "�"
        assert unescape_html("&#xFFFFFFFF;") == "�"

    def test_whitespace_collapse(self):
        html = "<p>a    b\t\tc</p><p>d</p><br><br><br><br>e"
        out = html_to_text(html)
        assert "a b c" in out
        assert "\n\n\n" not in out

    def test_three_plus_newlines_collapse_to_two(self):
        assert html_to_text("a<br><br><br><br>b") == "a\n\nb"

    def test_strip_result(self):
        assert html_to_text("  <p>  x  </p>  ") == "x"

    def test_empty_and_tagless(self):
        assert html_to_text("") == ""
        assert html_to_text("plain text") == "plain text"

    def test_unclosed_tag_stripped(self):
        assert html_to_text("a <span b") == "a <span b"  # no '>' => not a tag
        assert html_to_text("a <span x=1> b") == "a b"


class TestDecodeLadder:
    def test_utf8(self):
        assert decode_html_bytes("héllo".encode("utf-8")) == "héllo"

    def test_latin1_fallback(self):
        assert decode_html_bytes("café".encode("latin-1")) == "café"

    def test_none(self):
        assert decode_html_bytes(None) == ""

    def test_full_invariant(self):
        raw = "<p>café &amp; tea</p>".encode("latin-1")
        assert extract_text_from_html_bytes(raw) == "café & tea"


class TestSparkUdf:
    def test_udf_matches_pure_python(self, spark):
        from hades_spark.pipeline.corpus import gen_pages
        from hades_spark.pipeline.persist import _stage1
        from hades_spark.schemas import PAGES

        pages = gen_pages(60, seed=7)
        df = spark.createDataFrame(
            [(p.url, None, p.html, None, None) for p in pages], PAGES)

        # the stage-1 kernel's routed extraction = the corpus invariant
        # for every format
        got = {r["url"]: r["text"] for r in
               _stage1(df).select("url", "text").collect()}
        for p in pages:
            assert got[p.url] == p.text, f"byte mismatch for {p.url}"

        # the HTML-only extraction must agree on the .html pages
        # (byte-identical per-url contract)
        for p in pages:
            if p.url.endswith(".html"):
                assert extract_text_from_html_bytes(p.html) == got[p.url], \
                    f"byte mismatch {p.url}"
