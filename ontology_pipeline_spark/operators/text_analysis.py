"""Text-analysis operators for large-scale corpus curation.

Engine extensions beyond the reference's inventory (SURVEY.md §2.10 notes the
reference has no numeric text analytics): language ID, quality scoring, token
counting, and document fingerprinting over a `documents(doc_id, text, ...)`
table.  Everything is built-in `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen'd, no Python on the hot path — so these scale to 100 TB
as embarrassingly parallel narrow stages.

Reference analogs: keyword predicate scan (diagnostic_analysis.py:22-31),
string length (src/extractor.py:234), lowercasing (diagnostic_analysis.py:30).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (public common-word lists; deterministic).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "pour", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "con", "para", "una", "que"],
}


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization with empty-token filtering (deterministic).

    Lambda-free on purpose: the analyzer gives every lambda occurrence fresh
    variable ids, so a `filter(..., lambda)` form is never a common
    subexpression and an expression that tokenizes the same text several
    times (lang_id: once per language) re-splits it each time."""
    return F.array_remove(F.split(text_col, r"\s+"), "")


def token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column) -> Column:
    """Sub-word-ish token count: words, numbers, and punctuation runs counted
    separately (a BPE-style proxy via regex, no tokenizer dependency)."""
    return F.size(
        F.filter(
            F.split(text_col, r"(?<=[a-zA-Z0-9])(?=[^a-zA-Z0-9\s])|(?<=[^a-zA-Z0-9\s])(?=[a-zA-Z0-9])|\s+"),
            lambda t: F.length(t) > 0,
        )
    )


def type_token_ratio(text_col: Column) -> Column:
    toks = tokens(F.lower(text_col))
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    ).otherwise(F.lit(0.0))


def stopword_ratio(text_col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(text_col))
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text_col: Column) -> Column:
    n = F.length(text_col)
    n_punct = n - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Composite [0,1] quality heuristic: favors mid-length documents with
    lexical diversity and low punctuation noise (training-data curation
    style).  Deterministic, pure expression."""
    length_term = F.least(F.length(text_col) / F.lit(500.0), F.lit(1.0))
    diversity = type_token_ratio(text_col)
    noise = punct_ratio(text_col)
    score = F.round(
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), 0.4 * length_term + 0.5 * diversity - 0.5 * noise + F.lit(0.1)),
        ),
        6,
    )
    # F.least/greatest skip NULLs, so guard explicitly: NULL text -> NULL score
    return F.when(text_col.isNotNull(), score)


def lang_id(text_col: Column) -> Column:
    """Stopword-overlap language ID: argmax over per-language hit counts with
    deterministic tie-break (language code order).  'und' when no evidence."""
    toks = F.array_distinct(tokens(F.lower(text_col)))
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code, ws in sorted(STOPWORDS.items())
        ]
    )
    # argmax with deterministic tie-break: min code among the max-hit entries
    max_hits = F.array_max(F.transform(scored, lambda s: s["hits"]))
    winners = F.filter(scored, lambda s: s["hits"] == max_hits)
    first_winner = F.array_min(F.transform(winners, lambda s: s["code"]))
    return F.when(max_hits > 0, first_winner).otherwise(F.lit("und"))


def fingerprint(text_col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased text.  Portable (same value in any engine) — the exact-dedup
    key."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text_col)), r"\s+", " "))


def simhash(text_col: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens using xxhash64 — pure expressions.

    For each bit position, majority-vote over token hashes and set the bit if
    more than half the tokens have it set.  32 bits by default to keep the
    generated expression tree (one filter per bit) codegen-friendly.
    """
    toks = tokens(F.lower(text_col))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    out = F.lit(0).cast("long")
    for b in range(bits):
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        ones = F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))
        out = out.bitwiseOR(
            F.when(ones * 2 > F.size(hashes), mask).otherwise(F.lit(0).cast("long"))
        )
    return F.when(F.size(toks) > 0, out).otherwise(F.lit(0).cast("long"))


def dup_line_fraction(text_col: Column) -> Column:
    """Gopher/RefinedWeb-style repetition signal: fraction of lines that are
    duplicates of an earlier line (1 - distinct/total over non-empty trimmed
    lines).  Boilerplate-heavy web pages (repeated nav/footer rows) score
    high; prose scores ~0.  Pure expression, round(6)."""
    lines = F.filter(
        F.transform(F.split(text_col, r"\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n = F.size(lines)
    frac = F.lit(1.0) - F.size(F.array_distinct(lines)) / n
    return F.when(n > 0, F.round(frac, 6)).otherwise(F.lit(0.0))


def dup_token_fraction(text_col: Column) -> Column:
    """Fraction of tokens that repeat an earlier token (1 - ttr).  The
    Gopher report's word-repetition family reduced to its expression-only
    member; round(6)."""
    toks = tokens(F.lower(text_col))
    n = F.size(toks)
    frac = F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    return F.when(n > 0, F.round(frac, 6)).otherwise(F.lit(0.0))


def structural_flags(
    text_col: Column,
    max_dup_line_frac: float = 0.3,
    max_dup_token_frac: float = 0.7,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.2,
) -> Column:
    """Gopher-style structural quality gate as one boolean Column: passes
    documents whose repetition and character-shape statistics look like
    prose.  Each sub-signal is a pure expression; compose with the curation
    chain's language/quality gates (they fuse into the same scan).

    The token array is built ONCE and shared by the dup-token and
    mean-word-length signals (HOF expressions are CodegenFallback, so
    Catalyst's subexpression elimination is not guaranteed to merge
    duplicate tokenize subtrees — don't hand it two)."""
    toks = tokens(F.lower(text_col))
    n = F.size(toks)
    dup_tok = F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / n,
    ).otherwise(F.lit(0.0))
    # Java regex char class: braces are literal; backslash and both square
    # brackets need a single escape ('[' would otherwise open a NESTED class
    # in Java and silently drop the brackets from the count).
    sym = F.length(text_col) - F.length(
        F.regexp_replace(text_col, r"[#{}<>|\\^~\[\]]", "")
    )
    sym_ratio = F.when(F.length(text_col) > 0, sym / F.length(text_col)).otherwise(F.lit(0.0))
    return (
        (dup_line_fraction(text_col) <= max_dup_line_frac)
        & (dup_tok <= max_dup_token_frac)
        & mean_wlen.between(min_mean_word_len, max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
    )


def profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full analysis column set to a documents DataFrame."""
    t = F.col(text_col)
    return documents.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(type_token_ratio(t), 6).alias("ttr"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fp"),
    )
