"""M5 goals/constraints cue-scan pass (reference src/extractor.py:638-688)."""

from __future__ import annotations

from ontology_pipeline_spark.lexicon import lexicon_rows
from ontology_pipeline_spark.operators.cues import (
    cue_scan,
    extract_goals_constraints,
    sentences,
)

PAGES = [
    (
        "u1",
        "The client's goal is to improve Sleep Quality and Aerobic Capacity.\n"
        "She prefers morning sessions and wants to avoid maximal testing.\n"
        "Adaptation depends on training history and recovery.",
    ),
    ("u2", "Nothing interesting here."),
]


def _pages(spark):
    return spark.createDataFrame(PAGES, ["url", "text"])


def test_sentences_keeps_positions(spark):
    got = {(r["url"], r["sent_id"]): r["sentence"] for r in sentences(_pages(spark)).collect()}
    assert got[("u1", 0)].startswith("The client's goal")
    assert got[("u1", 2)].startswith("Adaptation depends")
    assert ("u2", 0) in got


def test_cue_scan_kinds(spark):
    got = {(r["url"], r["sent_id"], r["kind"]) for r in cue_scan(_pages(spark)).collect()}
    assert got == {
        ("u1", 0, "client_goal"),
        ("u1", 1, "client_goal"),            # "wants to"
        ("u1", 1, "constraint_preference"),  # "prefers" / "avoid"
        ("u1", 2, "moderating_factor"),      # "depends on"
        ("u1", 2, "individual_difference"),  # "training history"
    }


def test_goals_constraints_attach_constructs(spark):
    out = extract_goals_constraints(_pages(spark), lexicon_rows()).collect()
    by_key = {(r["url"], r["sent_id"], r["kind"]): list(r["related_constructs"]) for r in out}
    assert by_key[("u1", 0, "client_goal")] == ["Aerobic Capacity", "Sleep Quality"]
    assert by_key[("u1", 2, "moderating_factor")] == []


def test_sent_id_alignment_unicode_whitespace(spark):
    """Regression: Java \\s is ASCII-only by default, so a NBSP after a
    period split on the Python (mentions) side but not the JVM (sentences)
    side, shifting every later sent_id.  The (?U) flag aligns them."""
    from ontology_pipeline_spark.operators.cues import sentences
    from ontology_pipeline_spark.operators.mentions import _SENT_SPLIT

    text = (
        "Goal reached.\u00a0She wants to improve sleep quality.\nNext sentence."
    )
    df = spark.createDataFrame([("u1", text)], ["url", "text"])
    jvm_sents = {
        r["sent_id"]: r["sentence"] for r in sentences(df).collect()
    }
    py_sents = {
        i: s for i, s in enumerate(_SENT_SPLIT.split(text)) if s.strip()
    }
    assert jvm_sents == py_sents


def test_sent_id_alignment_every_python_whitespace(spark):
    """Every code point Python's \\s matches (29 of them) splits a sentence
    after a period on both sides: `sentences()` and the mention rows of
    `scan_text` agree on sent_id.  Java's (?U)\\s alone misses the
    separators U+001C-U+001F, which `str.isspace` counts as whitespace."""
    import re

    from ontology_pipeline_spark.operators.mentions import _compile, scan_text

    spaces = [c for c in map(chr, range(0x110000)) if re.match(r"\s", c)]
    assert len(spaces) == 29
    texts = {f"u{ord(c):04x}": f"Sleep quality.{c}VO2 Max Test here." for c in spaces}
    df = spark.createDataFrame(list(texts.items()), ["url", "text"])
    jvm = {(r["url"], r["sent_id"]): r["sentence"] for r in sentences(df).collect()}
    pattern, lookup = _compile(tuple(tuple(r) for r in lexicon_rows()))
    for url, text in texts.items():
        ments = scan_text(url, text, pattern, lookup)
        assert [m[1] for m in ments] == [0, 1], (url, ments)
        for _u, sent_id, pos, surface, _c, _k in ments:
            sent = jvm.get((url, sent_id), "")
            assert sent[pos : pos + len(surface)] == surface, (url, sent_id, sent)
