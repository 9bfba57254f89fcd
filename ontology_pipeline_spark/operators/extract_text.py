"""HTML -> text extraction stage (S1).

Replaces the reference's whole-file transcript read (reference
src/extractor.py:206-207, :481-482, :822-823) for Common-Crawl-style pages:
a trafilatura-style main-content extractor that strips boilerplate
(nav/header/footer/aside/script/style) and keeps paragraph text.

`extract_text_bytes` is PURE, with pinned normalization (entities decoded
per data chunk, paragraphs stripped and joined by "\\n"), so extracted text
is byte-identical per url across runs and parallelism levels (BASELINE.json
input_hint).  One compiled token regex, walked by a skip-depth/block-flush
loop, yields the tokens of Python 3.11's `html.parser` on malformed markup
too (an `HTMLParser` subclass in tests/ is the differential oracle), and
None where that parser raises, on a malformed `<![` section.  As a Column it
runs in an Arrow-batched pandas UDF: narrow, no shuffle.
"""

from __future__ import annotations

import re
from html import unescape

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SKIP_TAGS = {"script", "style", "nav", "header", "footer", "aside", "noscript", "head", "title"}
_BLOCK_TAGS = {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "br", "article", "section"}

# start-tag attributes, consumed as html.parser's attribute loop consumes them
_ATTRS = (
    r"""(?>(?:\s|/(?!>))*(?:(?<=['"\s/])[^\s/>][^\s/=>]*"""
    r"""(?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*))?(?:\s|/(?!>))*)*)"""
)
_SECTION = r"(?ai:temp|cdata|ignore|include|rcdata|if|else|endif)(?![-_.a-zA-Z0-9])"
# a whole script/style element, its body up to an ASCII-case-insensitive close
_RAW_TEXT = "|".join(
    rf"<{ci}(?![^\t\n\r\f />\x00]){_ATTRS}>(?s:.*?)(?:</\s*{ci}\s*>|\Z)"
    for ci in ("".join(f"[{c}{c.upper()}]" for c in tag) for tag in ("script", "style"))
)
# one match per data run and the markup after it; groups: text, end-tag name
# (strict, tolerant), bad section, start-tag name, its attributes, its '>' or
# '/>' (empty when the tag is text), unterminated markup
_TOKEN = re.compile(
    rf"""([^<]*)(?:
      <!--(?s:.*?)--\s*>
    | </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>
    | </([a-zA-Z][^\t\n\r\f\ />\x00]*+)[^>]*>
    | </[^>]*> | <\?[^>]*>
    | <!\[(?ai:temp|cdata|ignore|include|rcdata)(?![-_.a-zA-Z0-9])(?s:.*?)\]\s*\]\s*>
    | <!\[(?ai:if|else|endif)(?![-_.a-zA-Z0-9])(?s:.*?)\]\s*>
    | (<!\[(?:(?![a-zA-Z])(?!\Z)|(?!{_SECTION})[a-zA-Z][-_.a-zA-Z0-9]*+\s*+(?!\Z)))
    | <!(?!--|\[)[^>]*>
    | {_RAW_TEXT}
    | <([a-zA-Z][^\t\n\r\f\ />\x00]*+)({_ATTRS})(?:(/?>)|(?![a-zA-Z=/]|\Z))
    | (<(?=[a-zA-Z]|!--|!\[)[^>]*>|<)
    )?""",
    re.VERBOSE,
)


def extract_text_bytes(html_bytes: bytes | None) -> str | None:
    """Pure, deterministic HTML -> text. The byte-identity unit of the engine."""
    if html_bytes is None:
        return None
    try:
        raw = html_bytes.decode("utf-8", errors="replace")
    except Exception:
        return None
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    for text, end1, end2, bad, name, attrs, close, data in _TOKEN.findall(raw):
        if text and not depth:
            cur.append(unescape(text))
        if close or end1 or end2:
            tag = (name if close else end1 or end2).lower()
            if tag in _SKIP_TAGS:  # '<nav/>' opens and closes at once
                if close == ">":
                    depth += 1
                elif not close and depth:
                    depth -= 1
            elif tag in _BLOCK_TAGS:
                parts.append("".join(cur).strip())
                cur = []
        elif bad:  # html.parser raises here
            return None
        elif not depth and (data or name):
            # a start tag cut short by a character no attribute can hold is
            # text as written, without entity decoding
            cur.append(unescape(data) if data else "<" + name + attrs)
    parts.append("".join(cur).strip())
    return "\n".join(filter(None, parts))


@pandas_udf(StringType())
def extracted_text(html_col: pd.Series) -> pd.Series:
    """Column expression: extracted main text from an HTML binary column."""
    return html_col.map(extract_text_bytes)


def extract_text(pages: DataFrame, html_col: str = "html", out_col: str = "text") -> DataFrame:
    """Add/replace the extracted-text column on a pages DataFrame."""
    return pages.withColumn(out_col, extracted_text(F.col(html_col)))
