"""Mention detection stage (S2) — replaces the reference's LLM extraction
passes M1-M4 (reference src/extractor.py:178-188, :613-636; prompt schemas
src/prompts.py:64-169, :390-600).

Semantics: ontology-schema-constrained extraction — only lexicon surface
forms become mentions, mirroring the reference's "use terminology from the
examples when possible" constraint (src/prompts.py:82, :103).

Execution: one `mapInPandas` over pages with a declared output schema.  The
lexicon is compiled once per executor into a single alternation regex
(longest-first, so "VO2 Max Test" wins over its substring "VO2 Max") — an
Aho-Corasick-style multi-pattern scan.  The stage is narrow (no shuffle) and
Arrow-batched; at 100 TB it scales linearly with input partitions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..schemas import MENTIONS
from .stage import map_rows

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+|\n")

# per-executor compiled-matcher cache, keyed by the lexicon tuple ITSELF —
# not hash(lexicon_rows): a 64-bit hash collision between two different
# lexicons would silently return the wrong compiled matcher (wrong mentions,
# no error).  Dict lookup on the tuple compares full contents on collision.
# BOUNDED (LRU, insertion-ordered dict): long-lived executors see many
# distinct lexicons (e.g. the per-run augmented lexicons the fuzzy
# canonicalization loop builds) — an unbounded cache pins every lexicon
# tuple + compiled regex for the process lifetime.
_MATCHER_CACHE: dict[tuple, tuple] = {}
_MATCHER_CACHE_MAX = 4


def _compile(lexicon_rows: tuple) -> tuple:
    """(regex, {lower_surface: [(canonical, entity_class), ...]})"""
    key = lexicon_rows
    hit = _MATCHER_CACHE.get(key)
    if hit is not None:
        _MATCHER_CACHE[key] = _MATCHER_CACHE.pop(key)  # mark most-recent
        return hit
    lookup: dict[str, list[tuple[str, str]]] = {}
    for entity_class, canonical, alias, _parent, _unit in lexicon_rows:
        lookup.setdefault(alias.lower(), []).append((canonical, entity_class))
    surfaces = sorted(lookup, key=len, reverse=True)  # longest-first alternation
    if not surfaces:
        # empty lexicon: no mentions (an empty alternation "()" would match
        # the empty string at every position and KeyError in the lookup)
        compiled = (None, lookup)
    else:
        pattern = re.compile(
            "(?<![A-Za-z0-9])(" + "|".join(re.escape(s) for s in surfaces) + ")(?![A-Za-z0-9])",
            re.IGNORECASE,
        )
        compiled = (pattern, lookup)
    _MATCHER_CACHE[key] = compiled
    while len(_MATCHER_CACHE) > _MATCHER_CACHE_MAX:
        _MATCHER_CACHE.pop(next(iter(_MATCHER_CACHE)))  # evict least-recent
    return compiled


def scan_text(
    url: str, text: str | None, pattern: re.Pattern, lookup: dict
) -> list[tuple[str, int, int, str, str, str]]:
    """Pure sentence-scan: (url, sent_id, pos, surface, canonical, class) rows."""
    if not text or pattern is None:
        return []
    out = []
    for sent_id, sent in enumerate(_SENT_SPLIT.split(text)):
        for m in pattern.finditer(sent):
            surface = m.group(1)
            for canonical, entity_class in lookup[surface.lower()]:
                out.append((url, sent_id, m.start(1), surface, canonical, entity_class))
    return out


def detect_mentions(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """pages -> mentions via Arrow-batched mapInPandas (no shuffle)."""
    lex = tuple(tuple(r) for r in lexicon_rows)

    def make_row_fn():
        pattern, lookup = _compile(lex)
        return lambda url, text: scan_text(url, text, pattern, lookup)

    return map_rows(pages, [id_col, text_col], MENTIONS, make_row_fn)
