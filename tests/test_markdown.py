"""Markdown extraction tests — mirror the reference's own unit cases
(tests/core/extractors/test_extractors_markdown.py)."""

from hades_spark.textcore.markdown import (
    markdown_to_text, md_code_blocks, md_headers, md_links, md_tables,
)


class TestMarkdown:
    def test_plain_text(self):
        out = markdown_to_text("# Hello World\n\nThis is a paragraph.")
        assert "Hello World" in out and "This is a paragraph." in out
        assert "#" not in out

    def test_fenced_code_block_with_language(self):
        blocks = md_code_blocks("# X\n\n```python\nprint('hi')\n```\n")
        assert blocks == [{"language": "python", "code": "print('hi')"}]

    def test_cpp_language_tag(self):
        blocks = md_code_blocks("```c++\nint x;\n```")
        assert blocks[0]["language"] == "c++"

    def test_indented_code_block(self):
        blocks = md_code_blocks("para\n\n    indented code\n    line two\n")
        assert blocks == [{"language": "text",
                           "code": "indented code\nline two"}]

    def test_table_with_empty_cells(self):
        md = "| Name | Age |\n|------|-----|\n| Alice | 30 |\n|  | 25 |\n"
        t = md_tables(md)[0]
        assert t["headers"] == ["Name", "Age"]
        assert t["rows"] == [["Alice", "30"], ["", "25"]]

    def test_links_three_forms(self):
        md = ("See [GitHub](https://github.com) and <https://example.com>\n"
              "and [docs][ref]\n\n[ref]: https://docs.example\n")
        links = md_links(md)
        hrefs = {(l["type"], l["href"]) for l in links}
        assert ("inline", "https://github.com") in hrefs
        assert ("autolink", "https://example.com") in hrefs
        assert ("reference", "https://docs.example") in hrefs

    def test_image_not_a_link(self):
        assert md_links("![alt](http://img)") == []

    def test_headers_atx_and_setext_in_position_order(self):
        md = "Title\n=====\n\n## Sub\n\nBody\n-----\n"
        hs = md_headers(md)
        assert [(h["level"], h["text"]) for h in hs] == \
            [(1, "Title"), (2, "Sub"), (2, "Body")]

    def test_bold_italic_and_list_markers_removed(self):
        out = markdown_to_text("**bold** *it* __b2__ _i2_\n- item\n1. num\n> q")
        assert out == "bold it b2 i2\nitem\nnum\nq"

    def test_triples_flow_through_markdown(self):
        from hades_spark.textcore.svo import extract_triples

        md = "# Doc\n\nHADES uses **Apache Spark**.\n"
        ts = extract_triples(markdown_to_text(md))
        assert [(t["subj"], t["pred"], t["obj"]) for t in ts] == \
            [("HADES", "uses", "Apache Spark")]


class TestFormatRouting:
    def test_detect_format(self):
        from hades_spark.textcore.route import detect_format

        assert detect_format("https://x/y.html", "") == "html"
        assert detect_format("https://x/readme.md", "") == "markdown"
        assert detect_format("https://x/page", "<!DOCTYPE html><html>") == "html"
        assert detect_format("https://x/page", "# Title") == "markdown"

    def test_routed_udf(self, spark):
        from hades_spark.pipeline.persist import _stage1
        from hades_spark.schemas import PAGES

        df = spark.createDataFrame(
            [("https://a/x.html", None, b"<p>hello &amp; world</p>", None,
              None),
             ("https://a/y.md", None, b"# Title\n\n**bold** text", None,
              None)], PAGES)
        out = {r["url"]: r["text"] for r in _stage1(df).collect()}
        assert out["https://a/x.html"] == "hello & world"
        assert out["https://a/y.md"] == "Title\n\nbold text"
