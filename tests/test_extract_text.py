"""Byte-identity invariant for the HTML->text stage (BASELINE.json
input_hint: byte-identical extracted text per url)."""

from __future__ import annotations

import hashlib
import html.parser

from hypothesis import given, settings, strategies as st

from ontology_pipeline_spark.operators.extract_text import (
    _BLOCK_TAGS,
    _SKIP_TAGS,
    extract_text,
    extract_text_bytes,
)


class _MainTextParser(html.parser.HTMLParser):
    """The oracle: block-level text outside boilerplate containers, collected
    by the standard library's parser."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._parts: list[str] = []
        self._current: list[str] = []

    def _flush(self) -> None:
        txt = "".join(self._current).strip()
        self._current = []
        if txt:
            self._parts.append(txt)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self._current.append(data)


def oracle_text(raw: str) -> str | None:
    parser = _MainTextParser()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        return None
    parser._flush()
    return "\n".join(parser._parts)


def test_pure_function_byte_identity(corpus):
    for url, _ts, html, text, _lang in corpus.pages:
        extracted = extract_text_bytes(html)
        assert extracted == text, url
        assert hashlib.sha256(extracted.encode()).hexdigest() == corpus.text_sha256[url]


def test_spark_stage_byte_identity(spark, pages, corpus):
    out = extract_text(pages.drop("text"), out_col="text").select("url", "text")
    got = {r["url"]: r["text"] for r in out.collect()}
    want = {p[0]: p[3] for p in corpus.pages}
    assert got == want


def test_boilerplate_stripped():
    html = (
        b"<html><head><title>T</title><style>p{}</style></head><body>"
        b"<nav>Home | About</nav><script>var x=1;</script>"
        b"<article><p>Alpha beta.</p><p>Gamma &amp; delta.</p></article>"
        b"<footer>(c) 2025</footer></body></html>"
    )
    assert extract_text_bytes(html) == "Alpha beta.\nGamma & delta."


def test_null_and_garbage_html(spark):
    assert extract_text_bytes(None) is None
    assert extract_text_bytes(b"") == ""
    # malformed HTML degrades, never raises (reference lenient-parse ethos,
    # src/extractor.py:120-128)
    assert isinstance(extract_text_bytes(b"<p>ok"), str)


def test_matches_parser_oracle_on_corpus(corpus):
    for _url, _ts, html, _text, _lang in corpus.pages:
        assert extract_text_bytes(html) == oracle_text(html.decode("utf-8"))


# fragments of malformed HTML: unclosed comments and tags, '>' in quoted
# attributes, '<' in text, nested and unbalanced skip tags, '</script' inside
# a script, entities with and without ';' (and split by a tag), upper-case
# tags, self-closing tags, declarations and marked sections
_FRAGMENTS = [
    "<p>", "</p>", "<P>", "</P >", "<div class='a>b'>", '<a href="x>y">', "<br/>", "<br />",
    "<BR/>", "<a b=c/>", "<nav>", "</nav>", "<Nav>", "<nav/>", "<footer x='1'>", "</footer>",
    "<head>", "</head>", "<title>", "</title>", "<noscript>", "</aside>", "<h1>", "</h1 x>",
    "<script>", "</script>", "</script", "</ScRiPt >", "</scripty>", "<script/>", "<style>",
    "</style>", "<!--", "-->", "-- >", "<!-- c -->", "<!doctype html>", "<!x>", "<?pi?>", "<?",
    "<![CDATA[", "]]>", "<![if", "]>", "<![endif]>", "<![", "<![ x", "<![foo]>", "&amp;", "&amp",
    "&am", "p;", "&lt", "&#65;", "&#x41", "&", "<", ">", "<x", "<a b", "<a b=", '<a b="', "'", '"',
    "=", "/", "<a/b>", "</>", "</ p>", "</1>", "<1>", "< p>", "<p<b>", "</p<b>", "<a\x00>",
    "\x00", "\u017f", "\u0130", "</\u017fcript>", "<\xe9>", "a", " b ", "\n", "Zog.",
]


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.one_of(st.sampled_from(_FRAGMENTS), st.text(alphabet="<>/!-?[]='\" a&;#\n", max_size=4)),
        max_size=16,
    )
)
def test_tokenizer_matches_parser_oracle(fragments):
    raw = "".join(fragments)
    assert extract_text_bytes(raw.encode("utf-8")) == oracle_text(raw)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_garbage_bytes_never_raise(data):
    got = extract_text_bytes(data)
    assert got == oracle_text(data.decode("utf-8", errors="replace"))


def test_entities_unescaped_per_data_chunk():
    # a tag between "&am" and "p;" must not make an entity of the joined text
    assert extract_text_bytes(b"<p>&am<b>p; &amp;x &lt</p>") == "&amp; &x <"
    assert extract_text_bytes(b"<p>&am<b>p;</p>") == oracle_text("<p>&am<b>p;</p>")
    # a malformed marked section is None, as when the parser raises
    assert extract_text_bytes(b"<p>a</p><![ x]>") is None
