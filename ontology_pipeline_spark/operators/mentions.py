"""Mention detection stage (S2) — replaces the reference's LLM extraction
passes M1-M4 (reference src/extractor.py:178-188, :613-636; prompt schemas
src/prompts.py:64-169, :390-600).

Semantics: ontology-schema-constrained extraction — only lexicon surface
forms become mentions, mirroring the reference's "use terminology from the
examples when possible" constraint (src/prompts.py:82, :103).

Execution: one `mapInPandas` over pages with a declared output schema.  The
lexicon is compiled once per executor into one IGNORECASE regex whose
alternation is a trie of the lower-cased surfaces.  A node that ends a
surface makes its children a greedy optional group, so the longest surface
is tried first ("VO2 Max Test" beats "VO2 Max") and a failed trailing guard
backtracks to a shorter one: the matches of a flat longest-first
alternation, with each shared prefix matched once.  The stage is narrow (no
shuffle) and Arrow-batched; at 100 TB it scales linearly with partitions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..schemas import MENTIONS
from .stage import map_rows

# r"(?<=[.!?])\s+|\n", led by a class so the engine scans for it in C
_SENT_SPLIT = re.compile(r"\s(?:(?<=[.!?]\s)\s*|(?<=\n))")

# per-executor LRU of compiled matchers, keyed by the lexicon tuple itself
# (a hash key could collide and silently return another lexicon's matcher);
# bounded, as long-lived executors see many per-run augmented lexicons
_MATCHER_CACHE: dict[tuple, tuple] = {}
_MATCHER_CACHE_MAX = 4


def _alternation(surfaces: list[str]) -> str:
    """Trie-factored alternation: one branch per first letter (letters that
    IGNORECASE equates share one, so at most one branch can match), made
    optional where a surface ends."""
    branches: dict[str, list[str]] = {}
    for surface in filter(None, surfaces):
        ch = surface[0]
        if ch not in branches:
            ch = next((k for k in branches if re.fullmatch(re.escape(k), ch, re.I)), ch)
        branches.setdefault(ch, []).append(surface[1:])
    alts = [re.escape(ch) + _alternation(rest) for ch, rest in branches.items()]
    if not alts:
        return ""
    body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
    return f"(?:{body})?" if "" in surfaces else body


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
    if not lookup:
        # empty lexicon: no mentions (an empty alternation "()" would match
        # the empty string at every position)
        compiled = (None, lookup)
    else:
        pattern = re.compile(
            "(?<![A-Za-z0-9])(" + _alternation(list(lookup)) + ")(?![A-Za-z0-9])", re.IGNORECASE
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
            hits = lookup.get(surface.lower())
            if hits is None:  # IGNORECASE folds 'İ'/'ı' to 'i' and 'ſ' to 's'; lower() does not
                same = (k for k in lookup
                        if len(k) == len(surface) and re.fullmatch(re.escape(k), surface, re.I))
                hits = lookup.get(next(same, None), [])
            for canonical, entity_class in hits:
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
