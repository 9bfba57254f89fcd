"""Mention detection vs the synthetic corpus's by-construction golden set."""

from __future__ import annotations

from ontology_pipeline_spark.lexicon import lexicon_rows
from ontology_pipeline_spark.operators.mentions import _compile, detect_mentions, scan_text


def test_mentions_match_golden(spark, pages, corpus):
    out = detect_mentions(pages, lexicon_rows())
    got = {
        (r["url"], r["canonical"], r["entity_class"])
        for r in out.select("url", "canonical", "entity_class").distinct().collect()
    }
    want = set(corpus.expected_mentions)
    assert got == want


def test_longest_match_wins(spark):
    df = spark.createDataFrame(
        [("u1", "The VO2 Max Test reports VO2 Max in ml/kg/min.")], ["url", "text"]
    )
    rows = detect_mentions(df, lexicon_rows()).collect()
    got = {(r["canonical"], r["entity_class"]) for r in rows}
    assert ("VO2 Max Test", "assessment") in got
    assert ("VO2 Max", "metric") in got
    # the assessment match consumed its span: exactly two mentions
    assert len(rows) == 2


def test_alias_and_case_insensitive(spark):
    df = spark.createDataFrame(
        [("u1", "We use the CMJ and track sleep quality plus SBP.")], ["url", "text"]
    )
    got = {
        (r["canonical"], r["entity_class"])
        for r in detect_mentions(df, lexicon_rows()).collect()
    }
    assert got == {
        ("Countermovement Jump", "assessment"),
        ("Sleep Quality", "construct"),
        ("Systolic Blood Pressure", "metric"),
    }


def test_word_boundaries(spark):
    # substring inside a larger token must not match ("RERuns" != RER)
    df = spark.createDataFrame([("u1", "RERuns and xRER are not metrics.")], ["url", "text"])
    assert detect_mentions(df, lexicon_rows()).count() == 0


def test_empty_lexicon_detects_nothing(spark):
    """Regression: an empty lexicon must yield zero mentions, not an
    empty-alternation regex that matches everywhere and KeyErrors."""
    from ontology_pipeline_spark.operators.mentions import detect_mentions

    df = spark.createDataFrame([("u1", "some text here")], ["url", "text"])
    assert detect_mentions(df, []).count() == 0


def test_scan_resolves_regex_only_case_folds():
    """IGNORECASE matches 'ſ' (U+017F) as 's' and 'İ'/'ı' (U+0130/U+0131) as
    'i', but str.lower() of such a match is not a lookup key: the match
    resolves to the surface it matched instead of raising KeyError."""
    pattern, lookup = _compile(tuple(tuple(r) for r in lexicon_rows()))
    for text in (
        "I track \u017fleep quality daily.",
        "I track sleep QUAL\u0130TY daily.",
        "I track Sleep Qual\u0131ty daily.",
    ):
        rows = scan_text("u", text, pattern, lookup)
        assert [(r[1], r[2], r[4], r[5]) for r in rows] == [(0, 8, "Sleep Quality", "construct")]
        assert rows[0][3] == text[8:21]
