"""Relation scoring stage (S3) — replaces the reference's LLM relationship
pass M6 (reference src/extractor.py:690-759; 4-pass variant
src/prompts.py:224-264).

Semantics: deterministic class-pair rules over sentence-level co-occurrence,
using the reference's own edge vocabulary (edge construction at
streamlit_app.py:744-760):

    assessment   + construct     -> (assessment,  "measures",    construct)
    intervention + construct     -> (intervention, "targets",    construct)
    assessment   + intervention  -> (assessment,  "informs",     intervention)
    construct    + construct     -> (earlier,     "association", later)

The rules live once, in `_pair_triples`, and run inside ONE mapInPandas
pass that also detects the mentions: co-occurrence is sentence-local, so
the whole triple extraction is shuffle-free.  This is the 100 TB hot path:
one narrow stage from page scan to triple rows; the only shuffles left in
the pipeline are the final aggregations.  Two entry points share that
stage:

* `extract_triples_fused(pages, lexicon)` — pages carrying extracted text;
* `extract_triples_from_html(pages, lexicon)` — pages carrying raw HTML,
  with HTML->text done in the same Python pass.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import TRIPLES
from .extract_text import extract_text_bytes
from .mentions import _compile, scan_text
from .stage import map_rows

# unordered class-pair -> (subject_class, predicate)
PAIR_RULES: dict[frozenset, tuple[str, str]] = {
    frozenset(["assessment", "construct"]): ("assessment", "measures"),
    frozenset(["intervention", "construct"]): ("intervention", "targets"),
    frozenset(["assessment", "intervention"]): ("assessment", "informs"),
}


def _pair_triples(ments: list[tuple]) -> list[tuple]:
    """Pure pairing over one page's mentions: [(url, sent_id, pos, surface,
    canonical, class)] -> [(subj, subj_class, pred, obj, obj_class, url)]."""
    by_sent: dict[int, list] = defaultdict(list)
    for url, sent_id, pos, _surface, canonical, cls in ments:
        by_sent[sent_id].append((pos, canonical, cls, url))
    out = []
    for sent in by_sent.values():
        sent.sort()
        for i in range(len(sent)):
            for j in range(i + 1, len(sent)):
                pa, ca, cla, url = sent[i]
                pb, cb, clb, _ = sent[j]
                if ca == cb and cla == clb:
                    continue
                if cla == "construct" and clb == "construct":
                    out.append((ca, cla, "association", cb, clb, url))
                    continue
                rule = PAIR_RULES.get(frozenset([cla, clb]))
                if rule is None:
                    continue
                subj_class, pred = rule
                if cla == subj_class:
                    out.append((ca, cla, pred, cb, clb, url))
                else:
                    out.append((cb, clb, pred, ca, cla, url))
    # page-local dedup (order-preserving): the triple sink holds distinct
    # (subj, pred, obj, url) rows without needing a corpus-wide shuffle
    return list(dict.fromkeys(out))


def _fused_triples_stage(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    value_col: str,
    id_col: str,
    to_text,
) -> DataFrame:
    """Shared row function for both fused variants: one implementation,
    parameterized by a per-row text accessor, so pairing and schema can
    never drift between the text and html entry points."""
    lex = tuple(tuple(r) for r in lexicon_rows)

    def make_row_fn():
        pattern, lookup = _compile(lex)
        return lambda url, val: _pair_triples(
            scan_text(url, to_text(val), pattern, lookup)
        )

    return map_rows(pages, [id_col, value_col], TRIPLES, make_row_fn)


def extract_triples_fused(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """pages -> triples in one shuffle-free mapInPandas stage (the hot path)."""
    return _fused_triples_stage(pages, lexicon_rows, text_col, id_col, lambda t: t)


def extract_triples_from_html(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    html_col: str = "html",
    id_col: str = "url",
) -> DataFrame:
    """pages(html) -> triples in ONE Python stage: HTML->text (same pure
    function as the extract_text stage, so the byte-identity invariant is
    preserved) + mention scan + pairing, all inside a single mapInPandas.

    One Arrow round-trip instead of two (pandas-UDF text extraction followed
    by a second mapInPandas) — at 100 TB this halves the JVM<->Python worker
    transfer on the hot path and keeps the whole extraction narrow.
    """
    return _fused_triples_stage(
        pages, lexicon_rows, html_col, id_col, extract_text_bytes
    )


def distinct_triples(triples: DataFrame) -> DataFrame:
    """Corpus-level distinct (subj, pred, obj) with provenance counts.

    Skew note: head entities ("Sleep Quality"-class nodes) concentrate a huge
    fraction of rows on a few group keys.  countDistinct partial-aggregates
    map-side, so the skewed key ships pre-combined counts, not url strings.
    The full provenance list (the reference's `files` lists at
    streamlit_app.py:103) is never materialized: provenance stays as rows in
    the triple table.
    """
    return triples.groupBy("subj", "subj_class", "pred", "obj", "obj_class").agg(
        F.countDistinct("url").alias("n_pages"),
        F.min("url").alias("first_url"),
    )
