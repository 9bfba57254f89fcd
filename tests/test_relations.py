"""Relation scoring: the fused path vs the golden set and explicit rows."""

from __future__ import annotations

from ontology_pipeline_spark.lexicon import lexicon_rows
from ontology_pipeline_spark.operators.relations import extract_triples_fused


def _key_set(rows):
    return {(r["subj"], r["pred"], r["obj"], r["url"]) for r in rows}


def test_fused_triples_match_golden(spark, pages, corpus):
    got = _key_set(extract_triples_fused(pages, lexicon_rows()).collect())
    want = set(corpus.expected_triples)
    assert got == want


def test_join_path_equals_fused_on_repeats_and_shared_positions(spark):
    """Regression for the two historical divergences: (a) a mention repeated
    in one sentence must not double-emit (page-local dedup); (b) one alias
    mapped to two classes (same position, two mentions) must pair as both
    classes."""
    from ontology_pipeline_spark.lexicon import simple_lexicon

    lex = simple_lexicon(
        {"assessment": ["cmj scan"], "construct": ["leg power"]}
    ) + simple_lexicon({"intervention": ["plyo block"]})
    # same alias in two classes (same position -> two mentions whose pairing
    # is observable: assessment+construct => a "measures" triple):
    lex = lex + [("construct", "cmj scan", "cmj scan", None, None)]
    df = spark.createDataFrame(
        [
            ("u1", "cmj scan measures leg power then cmj scan again"),
            ("u2", "plyo block improves leg power"),
        ],
        ["url", "text"],
    )
    fused = sorted(
        (r["subj"], r["subj_class"], r["pred"], r["obj"], r["obj_class"], r["url"])
        for r in extract_triples_fused(df, lex).collect()
    )
    assert fused == [
        ("cmj scan", "assessment", "measures", "cmj scan", "construct", "u1"),
        ("cmj scan", "assessment", "measures", "leg power", "construct", "u1"),
        ("cmj scan", "construct", "association", "leg power", "construct", "u1"),
        ("leg power", "construct", "association", "cmj scan", "construct", "u1"),
        ("plyo block", "intervention", "targets", "leg power", "construct", "u2"),
    ]
    # repeated mention produced ONE row, not two
    assert len([t for t in fused if t[5] == "u1" and t[0] == "cmj scan"]) == len(
        {t for t in fused if t[5] == "u1" and t[0] == "cmj scan"}
    )


def test_rule_directions(spark):
    lex = lexicon_rows()
    df = spark.createDataFrame(
        [
            ("u1", "Light Therapy targets Sleep Quality."),
            ("u2", "I assess Aerobic Capacity using the VO2 Max Test."),
            ("u3", "The Sleep Study informs Sleep Restriction Therapy."),
            ("u4", "Sleep Quality is associated with Heart Rate Variability."),
        ],
        ["url", "text"],
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in extract_triples_fused(df, lex).collect()
    }
    assert got == {
        ("Light Therapy", "targets", "Sleep Quality"),
        ("VO2 Max Test", "measures", "Aerobic Capacity"),
        ("Sleep Study", "informs", "Sleep Restriction Therapy"),
        ("Sleep Quality", "association", "Heart Rate Variability"),
    }


def test_no_cross_sentence_pairs(spark):
    df = spark.createDataFrame(
        [("u1", "Light Therapy is popular.\nSleep Quality matters.")], ["url", "text"]
    )
    assert extract_triples_fused(df, lexicon_rows()).count() == 0
