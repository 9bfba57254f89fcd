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
the pipeline are the final aggregations.

`fused_triples_stage` is that pass; after a page's triple rows it emits one
page row `(url, n_triples)`, from which a commit writes lineage without
reading its triples back.  `triple_rows`/`page_rows` split the two.  The
public entry points return the triple rows only:

* `extract_triples_fused(pages, lexicon)` — pages carrying extracted text;
* `extract_triples_from_html(pages, lexicon)` — pages carrying raw HTML,
  with HTML->text done in the same Python pass.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..lexicon import lexicon_rows as default_lexicon_rows
from ..schemas import TRIPLES
from .extract_text import extract_text_bytes
from .mentions import _compile, scan_text
from .stage import map_rows

# TRIPLES plus the page row's count; page rows carry "" in the triple columns
# and triple rows -1 in n_triples, so every column stays non-null
STAGED = StructType([*TRIPLES.fields, StructField("n_triples", LongType(), False)])

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


def fused_triples_stage(
    pages: DataFrame,
    lexicon_rows: list[tuple] | None = None,
    from_html: bool = True,
    value_col: str | None = None,
    id_col: str = "url",
) -> DataFrame:
    """pages -> `STAGED` rows in one shuffle-free mapInPandas stage: each
    page's triple rows, then its page row.  One row function for both
    inputs (`value_col` defaults to "html" or "text"), so pairing and schema
    can never drift between the text and html entry points."""
    # `is None`, not truthiness: an explicitly passed empty lexicon means
    # "extract nothing", not "use the default vocabulary"
    lex = default_lexicon_rows() if lexicon_rows is None else lexicon_rows
    lex = tuple(tuple(r) for r in lex)
    to_text = extract_text_bytes if from_html else (lambda t: t)
    value_col = value_col or ("html" if from_html else "text")

    def make_row_fn():
        pattern, lookup = _compile(lex)
        names = TRIPLES.fieldNames()

        def rows(url, val):
            triples = _pair_triples(scan_text(url, to_text(val), pattern, lookup))
            page = (*(url if n == "url" else "" for n in names), len(triples))
            return [*(t + (-1,) for t in triples), page]

        return rows

    return map_rows(pages, [id_col, value_col], STAGED, make_row_fn)


def triple_rows(staged: DataFrame) -> DataFrame:
    """The `TRIPLES` rows of a `fused_triples_stage` output."""
    return staged.filter(F.col("n_triples") < 0).drop("n_triples")


def page_rows(staged: DataFrame) -> DataFrame:
    """One `(url, n_triples)` row per page of a `fused_triples_stage` output."""
    return staged.filter(F.col("n_triples") >= 0).select("url", "n_triples")


def extract_triples_fused(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """pages -> triples in one shuffle-free mapInPandas stage (the hot path)."""
    return triple_rows(fused_triples_stage(pages, lexicon_rows, False, text_col, id_col))


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
    return triple_rows(fused_triples_stage(pages, lexicon_rows, True, html_col, id_col))


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
