"""HTML extraction tests (llm/html_extract.py): hand-written documents
with hand-derived expected text; the boilerplate heuristic is checked on
a page with explicit nav chrome vs. article body."""

from __future__ import annotations

from python_kinesis_streaming_spark.llm.html_extract import (
    extract_document,
    extract_text_frame,
)

PAGE = """<!DOCTYPE html>
<html><head>
  <title>An &amp; Example</title>
  <style>body { color: red }</style>
  <script>var x = "<p>not text</p>";</script>
</head><body>
  <nav><a href="/">Home</a> <a href="/about">About</a></nav>
  <h1>Heading&nbsp;One</h1>
  <p>This is the first real paragraph of the article body with more
     than ten words inside it.</p>
  <p>Short one.</p>
  <div>Second real paragraph, also containing comfortably more than ten
     words, with an <a href="x">inline link</a> inside the prose.</div>
  <footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>
</body></html>"""


def test_extract_document_structure():
    d = extract_document(PAGE)
    assert d["title"] == "An & Example"
    # script/style bodies never leak
    assert "color: red" not in d["text"]
    assert "not text" not in d["text"]
    # entities decode
    assert "Heading One" in d["text"]
    assert d["n_links"] == 5
    blocks = d["text"].split("\n")
    assert "Home About" in blocks  # nav text present in full text...
    assert d["parse_ok"] if "parse_ok" in d else True


def test_main_text_drops_chrome():
    d = extract_document(PAGE)
    main = d["main_text"]
    assert "first real paragraph" in main
    assert "Second real paragraph" in main
    assert "Home" not in main  # pure-link nav: link density 1.0
    assert "Terms" not in main
    assert "Short one." not in main  # under the word threshold


def test_malformed_html_does_not_raise():
    d = extract_document("<p>unclosed <div><b>nested <i>mess")
    assert "unclosed" in d["text"] and "mess" in d["text"]
    d2 = extract_document("")
    assert d2["text"] == "" and d2["n_blocks"] == 0


def test_extract_text_frame_seam(spark):
    df = spark.createDataFrame(
        [(1, PAGE), (2, "<p>tiny</p>"), (3, None)], "id long, html string"
    )
    out = {r["id"]: r for r in extract_text_frame(df, "html").collect()}
    assert out[1]["title"] == "An & Example"
    assert out[1]["parse_ok"] and out[1]["n_links"] == 5
    assert "first real paragraph" in out[1]["main_text"]
    assert out[2]["text"] == "tiny" and out[2]["main_text"] == ""
    assert out[3]["parse_ok"] and out[3]["text"] == ""  # None -> empty
