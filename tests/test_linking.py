"""Entity linking: exact fast path, LSH fuzzy fallback, canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontology_pipeline_spark.lexicon import lexicon_df
from ontology_pipeline_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
)
from ontology_pipeline_spark.operators.linking import link_entities, link_exact


def test_exact_fast_path(spark):
    lex = lexicon_df(spark)
    surfaces = spark.createDataFrame(
        [("sleep quality",), ("CMJ",), ("unknown thing",)], ["surface"]
    )
    out = {r["surface"]: (r["linked_canonical"], r["linked_class"]) for r in link_exact(surfaces, lex).collect()}
    assert out["sleep quality"] == ("Sleep Quality", "construct")
    assert out["CMJ"] == ("Countermovement Jump", "assessment")
    assert out["unknown thing"] == (None, None)


def test_fuzzy_fallback_links_typos(spark):
    lex = lexicon_df(spark)
    surfaces = spark.createDataFrame(
        [
            ("Sleep Qualityy",),      # typo -> Sleep Quality
            ("Heart Rate Variabilty",),  # typo -> Heart Rate Variability
            ("zzzzqqq",),             # garbage -> unlinked
        ],
        ["surface"],
    )
    links = lambda df: {
        r["surface"]: (r["linked_canonical"], r["linked_class"], r["link_method"])
        for r in link_entities(df, lex).collect()
    }
    rows = links(surfaces)
    assert rows["Sleep Qualityy"][0] == "Sleep Quality"
    assert rows["Sleep Qualityy"][2] == "lsh"
    assert rows["Heart Rate Variabilty"][0] == "Heart Rate Variability"
    assert rows["zzzzqqq"][0] is None
    # the whole linker is partition-invariant (its only fuzzy tier is)
    assert links(surfaces.repartition(3)) == rows


def test_exact_never_overridden(spark):
    lex = lexicon_df(spark)
    surfaces = spark.createDataFrame([("VO2max Test",)], ["surface"])
    row = link_entities(surfaces, lex).collect()[0]
    assert row["linked_canonical"] == "VO2 Max Test"
    assert row["link_method"] == "exact"


def test_fuzzy_grams_links_typos_and_matches_schema(spark):
    """The deterministic grams-MinHash fuzzy tier links every seeded typo,
    never links garbage, and is stable across partitionings."""
    from ontology_pipeline_spark.operators.linking import link_fuzzy_grams
    from ontology_pipeline_spark.synth import MISSPELL_TARGETS, misspell

    lex = lexicon_df(spark)
    rows = [(misspell(t),) for t in MISSPELL_TARGETS] + [("zzzzqqq",), ("The Countermovement Jump",)]
    surfaces = spark.createDataFrame(rows, ["surface"])
    got = {r["surface"]: r for r in link_fuzzy_grams(surfaces, lex).collect()}
    for t in MISSPELL_TARGETS:
        assert got[misspell(t)]["linked_canonical"] == t, t
        assert got[misspell(t)]["jaccard_distance"] <= 0.5
    assert "zzzzqqq" not in got  # garbage gets no candidate at all
    assert got["The Countermovement Jump"]["linked_canonical"] == "Countermovement Jump"
    # partitioning invariance
    got3 = {
        r["surface"]: (r["linked_canonical"], r["jaccard_distance"])
        for r in link_fuzzy_grams(surfaces.repartition(3), lex).collect()
    }
    assert got3 == {s: (r["linked_canonical"], r["jaccard_distance"]) for s, r in got.items()}


def test_misspelled_corpus_needs_fuzzy_recovery(spark):
    """End-to-end fixture sanity: exact-lexicon extraction on the misspelled
    corpus LOSES golden triples (the misspellings are invisible to the
    regex), so the flagship fuzzy query's green oracle row is evidence of
    recovery, not of an untouched corpus."""
    from ontology_pipeline_spark.lexicon import lexicon_rows
    from ontology_pipeline_spark.operators.relations import extract_triples_fused
    from ontology_pipeline_spark.synth import generate_misspelled_corpus, pages_df

    corpus, injected = generate_misspelled_corpus(n_pages=200, seed=17)
    assert len(injected) >= 3  # several distinct misspellings actually seeded
    pages = pages_df(spark, corpus)
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in extract_triples_fused(pages, lexicon_rows())
        .select("subj", "pred", "obj", "url")
        .collect()
    }
    want = set(corpus.expected_triples)
    assert got < want  # strictly missing triples without the fuzzy tier


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], ["src", "dst"]
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["p"] == "p"


def test_canonical_mapping_transitive_aliases(spark):
    # A~B exact, B~C fuzzy => one canonical id for all three
    pairs = spark.createDataFrame(
        [("HRV ms", "HRV"), ("HRV", "Heart Rate Var"), ("CMJ", "Countermovement Jump")],
        ["surface", "linked_canonical"],
    )
    m = {r["name"]: r["canonical_id"] for r in canonical_mapping(pairs).collect()}
    assert m["HRV ms"] == m["HRV"] == m["Heart Rate Var"]
    assert m["CMJ"] == m["Countermovement Jump"]
    assert m["CMJ"] != m["HRV"]


def test_cc_chain_converges(spark):
    # long path graph exercises multi-round label propagation
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(15)], ["src", "dst"]
    )
    cc = connected_components(edges, max_iter=30)
    assert cc.select("component").distinct().count() == 1


def test_cc_deep_chain_default_iters(spark):
    """Pointer jumping makes convergence O(log diameter): a 60-node chain
    (diameter 59 — far beyond one-hop-per-round reach in 40 rounds without
    jumping) must converge with the DEFAULT budget.  The min label's reach
    doubles per round (~2^(r-1) hops after r rounds) plus one fixpoint-
    detection round; a measured 300k-page templated corpus produced a
    ~300k-node path component in the capped near-dup graph and needed 21
    rounds, which is why the default budget is 40, not 20."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(59)], ["src", "dst"]
    )
    cc = connected_components(edges)  # default max_iter
    comp = {r["component"] for r in cc.collect()}
    assert comp == {"n000"}


def test_cc_null_partner_node_kept(spark):
    """A node whose only edge rows have a null partner still gets its own
    singleton component (it is a referenced node, not droppable)."""
    edges = spark.createDataFrame(
        [("x", None), ("a", "b")], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"x": "x", "a": "a", "b": "a"}


def test_cc_skewed_head_entity(spark):
    """SURVEY §7 hard-part 4: a head entity (star hub with thousands of
    neighbors — the 'Breast Cancer Risk' shape) plus a chain hanging off one
    leaf.  Map-side partial aggregation folds the hub's reduce; labels must
    still reach the chain tail, and isolated components stay separate."""
    hub_edges = [("hub", f"leaf{i:05d}") for i in range(5000)]
    chain_edges = [("leaf00000", "c1"), ("c1", "c2"), ("c2", "c3")]
    other = [("z1", "z2")]
    edges = spark.createDataFrame(hub_edges + chain_edges + other, ["src", "dst"])
    cc = connected_components(edges, max_iter=10)
    rows = {r["node"]: r["component"] for r in cc.collect()}
    assert len(rows) == 5006
    # min label of the big component is "c1"
    big = {n for n in rows if n != "z1" and n != "z2"}
    assert {rows[n] for n in big} == {"c1"}
    assert rows["z1"] == rows["z2"] == "z1"
