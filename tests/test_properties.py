"""Property-based tests (hypothesis) — beyond the reference's test strategy
(SURVEY.md §5 notes the reference has no property testing at all)."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from ontology_pipeline_spark.lexicon import lexicon_rows
from ontology_pipeline_spark.operators.extract_text import extract_text_bytes
from ontology_pipeline_spark.operators.mentions import _compile, scan_text
from ontology_pipeline_spark.operators.relations import _pair_triples
from ontology_pipeline_spark.synth import wrap_html

LEX = tuple(tuple(r) for r in lexicon_rows())
PATTERN, LOOKUP = _compile(LEX)

# words that can never collide with lexicon surfaces
FILLER_WORD = st.sampled_from(["zog", "mep", "quib", "dran", "volp", "snee"])
LEX_SURFACE = st.sampled_from([alias for _c, _n, alias, _p, _u in LEX])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(FILLER_WORD, LEX_SURFACE), min_size=0, max_size=30))
def test_scan_counts_match_naive_matcher(words):
    """Scanner output == a naive token matcher on space-separated token text."""
    text = " ".join(words)
    got = sorted(
        (m[4], m[5]) for m in scan_text("u", text, PATTERN, LOOKUP)
    )
    # naive: count each lexicon surface as a standalone token sequence
    want = []
    joined = f" {text.lower()} "
    for _cls, canon, alias, _p, _u in LEX:
        pat = re.compile(
            r"(?<![a-z0-9])" + re.escape(alias.lower()) + r"(?![a-z0-9])"
        )
        # longest-first semantics: skip aliases contained in a longer alias hit
        for m in pat.finditer(joined):
            longer = [
                a for _c2, _n2, a, _p2, _u2 in LEX
                if len(a) > len(alias) and alias.lower() in a.lower()
            ]
            covered = False
            for la in longer:
                for lm in re.finditer(
                    r"(?<![a-z0-9])" + re.escape(la.lower()) + r"(?![a-z0-9])", joined
                ):
                    if lm.start() <= m.start() and m.end() <= lm.end():
                        covered = True
            if not covered:
                want.append((canon, _cls))
    assert got == sorted(want)


@st.composite
def _lexicon_and_text(draw):
    """A random lexicon whose surfaces are prefixes of each other and hold
    '.', '-', spaces, digits and non-ASCII letters, and a text of its
    surfaces (case-flipped; some twinned by regex-only case folds such as
    's'/'\u017f') glued by separators, some alphanumeric so a
    trailing guard fails and the match backtracks to a shorter surface."""
    chars = st.sampled_from(list("ab.- 1") + ["s", "\u017f", "i", "\u0131", "\u0130", "\xe9", "k"])
    bases = draw(st.lists(st.text(chars, min_size=1, max_size=6), min_size=1, max_size=4))
    twin = str.maketrans({"s": "\u017f", "\u017f": "s", "i": "\u0131", "\u0131": "i"})
    aliases = []
    for base in bases + [b.translate(twin) for b in bases if draw(st.booleans())]:
        cuts = draw(st.lists(st.integers(1, len(base)), min_size=1, max_size=3))
        aliases += [base[:c] for c in cuts]
    rows = tuple(
        (draw(st.sampled_from(["construct", "assessment"])), f"C{i}", a, None, None)
        for i, a in enumerate(aliases)
    )
    pieces = draw(
        st.lists(
            st.one_of(
                st.tuples(st.sampled_from(aliases), st.sampled_from([str, str.upper, str.title])).map(
                    lambda alias_case: alias_case[1](alias_case[0])
                ),
                st.sampled_from([" ", ".", "-", "x", "1", "s", ". ", "\n"]),
            ),
            max_size=12,
        )
    )
    return rows, "".join(pieces)


@settings(max_examples=600, deadline=None)
@given(_lexicon_and_text())
def test_trie_pattern_equals_flat_longest_first(lex_text):
    """The trie-factored pattern gives the same scan_text rows as the flat
    longest-first alternation over the same lower-cased surfaces."""
    rows, text = lex_text
    pattern, lookup = _compile(rows)
    flat = re.compile(
        "(?<![A-Za-z0-9])("
        + "|".join(re.escape(s) for s in sorted(lookup, key=len, reverse=True))
        + ")(?![A-Za-z0-9])",
        re.IGNORECASE,
    )
    assert scan_text("u", text, pattern, lookup) == scan_text("u", text, flat, lookup)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet="abc &<>", min_size=0, max_size=20), min_size=0, max_size=6))
def test_html_roundtrip_byte_identity(paragraphs):
    """wrap_html -> extract_text_bytes is the identity on paragraph text
    (modulo the pinned normalization: blank paragraphs dropped, edges
    stripped)."""
    norm = [p.strip() for p in paragraphs]
    norm = [p for p in norm if p]
    html = wrap_html("T", paragraphs)
    assert extract_text_bytes(html) == "\n".join(norm)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # sent_id
            st.integers(0, 50),  # pos
            st.sampled_from(
                [("Sleep Quality", "construct"), ("VO2 Max Test", "assessment"),
                 ("Light Therapy", "intervention"), ("Oura Ring", "technology")]
            ),
        ),
        max_size=12,
    )
)
def test_pairing_properties(mentions):
    """Pairing invariants: no self-loops, no duplicates, subject class always
    matches the rule table, technology never appears in a triple."""
    ments = [
        ("u", sid, pos, name, name, cls) for sid, pos, (name, cls) in mentions
    ]
    out = _pair_triples(ments)
    assert len(out) == len(set(out))  # local dedup
    for subj, scls, pred, obj, ocls, _url in out:
        assert subj != obj or scls != ocls
        assert "technology" not in (scls, ocls)
        assert (scls, pred) in {
            ("assessment", "measures"),
            ("intervention", "targets"),
            ("assessment", "informs"),
            ("construct", "association"),
        }


def test_replay_xxh64_matches_spark_on_random_inputs(spark):
    """The golden-replay foundation: the pure-Python XXH64 (spec-standard,
    seed=42 — Spark's semantics) must equal F.xxhash64 for arbitrary byte
    lengths (covering the 32-byte stripes, 8/4/1-byte tails) and for longs."""
    import os
    import random
    import sys

    from pyspark.sql import functions as F

    scripts_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    sys.path.insert(0, scripts_dir)
    try:
        from golden_replay import xxh64, xxh64_long
    finally:
        sys.path.remove(scripts_dir)

    rng = random.Random(99)
    strings = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(n))
        for n in list(range(0, 40)) + [63, 64, 65, 100, 255]
    ]
    sdf = spark.createDataFrame([(s,) for s in strings], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in sdf.collect():
        assert xxh64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])

    longs = [0, 1, -1, 7, -7, 2**62, -(2**62), rng.getrandbits(63)]
    ldf = spark.createDataFrame([(l,) for l in longs], "l long").select(
        "l", F.xxhash64("l").alias("h")
    )
    for r in ldf.collect():
        assert xxh64_long(r["l"]) == r["h"], r["l"]


def test_replay_murmur3_long_array_matches_spark(spark):
    """The LSH band-bucket replay: pure-Python Murmur3 over array<long>
    (element-folded hashLong, seed 42) must equal F.hash — the band bucket is
    F.hash(slice(signature)), so replayed candidate generation is bit-exact,
    Murmur3 collisions included (ADVICE r2)."""
    import os
    import random
    import sys

    from pyspark.sql import functions as F

    scripts_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    sys.path.insert(0, scripts_dir)
    try:
        from golden_replay import murmur3_long_array
    finally:
        sys.path.remove(scripts_dir)

    rng = random.Random(7)
    arrays = [
        [rng.randrange(0, (1 << 31) - 1) for _ in range(n)] for n in (1, 2, 4, 8, 13)
    ] + [[-(1 << 63), (1 << 63) - 1, 0, 1, -1], []]
    sdf = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i int, a array<long>"
    ).select("i", F.hash("a").alias("h"))
    got = {r["i"]: r["h"] for r in sdf.collect()}
    for i, a in enumerate(arrays):
        assert murmur3_long_array(a) == got[i], a


def _replay_module():
    import importlib
    import os
    import sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    sys.path.insert(0, scripts_dir)
    try:
        return importlib.import_module("golden_replay")
    finally:
        sys.path.remove(scripts_dir)


def test_replay_chunk_pack_matches_operator_on_property_corpus(spark):
    """The chunked_pack_stats golden replay must equal the Spark operators
    on a corpus exercising the boundary shapes: empty doc, 1 token, exactly
    chunk_tokens, one past the tail-window cutoff, long multi-chunk docs."""
    import random

    from pyspark.sql import functions as F

    from ontology_pipeline_spark.operators.chunking import (
        chunk_documents,
        pack_chunks,
        pack_texts,
    )

    gr = _replay_module()
    rng = random.Random(7)
    sizes = [0, 1, 8, 56, 57, 64, 65, 120, 121, 500, 701]
    rows = [
        (i, " ".join(f"w{rng.randrange(100)}" for _ in range(n)))
        for i, n in enumerate(sizes)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8)
    packed = pack_chunks(chunks, budget=256, n_groups=4).localCheckpoint(
        eager=False
    )
    per_group = packed.groupBy("pack_group").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.max("pack_id") + 1).alias("n_packs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.max("pack_fill").alias("max_fill"),
        F.sum(F.length("chunk_text")).alias("sum_chars"),
    )
    bins = pack_texts(packed, sep="\n").groupBy("pack_group").agg(
        F.sum(F.pmod(F.xxhash64("text"), F.lit(1 << 40))).alias("bins_hash"),
    )
    got = sorted(tuple(r) for r in per_group.join(bins, "pack_group").collect())
    want = sorted(gr.replay_chunk_pack_stats(rows, 64, 8, 256, 4))
    assert got == want


def test_replay_duplicated_span_stats_matches_operator(spark):
    """The duplicated_span_stats golden replay must equal the Spark
    detection+removal pair, including canonical owners (0 dropped) and
    merged overlapping runs."""
    from pyspark.sql import functions as F

    from ontology_pipeline_spark.operators.dedup import (
        drop_duplicated_spans,
        duplicated_spans,
    )

    gr = _replay_module()
    run = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"intro {run} outro bits"),
        (2, f"{run} different tail"),
        (3, f"prefix junk {run}"),
        (4, "nothing shared here at all in any way whatsoever"),
        (5, f"{run} and again {run}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    per_doc = duplicated_spans(docs, n=8, min_docs=2).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
        F.sum("n_dup_grams").alias("n_dup_grams"),
    )
    removed = drop_duplicated_spans(docs, n=8, min_docs=2).select(
        "doc_id", "n_dropped_tokens"
    )
    got = sorted(tuple(r) for r in per_doc.join(removed, "doc_id").collect())
    want = sorted(gr.replay_duplicated_span_stats(rows, n=8, min_docs=2))
    assert got == want
    by_id = dict((t[0], t) for t in got)
    assert by_id[1][4] == 0  # canonical owner (least (doc_id, pos)) keeps it


@st.composite
def _boilerplate_corpus(draw):
    """Documents over a small vocab with a shared boilerplate run injected
    into a random subset at random offsets — the corpus shape Lee-et-al
    substring dedup targets.  Some docs carry irregular whitespace so the
    untouched-docs-keep-bytes property is actually exercised."""
    vocab = [f"w{k}" for k in range(12)]
    boiler = draw(
        st.lists(st.sampled_from(vocab), min_size=4, max_size=7).map(tuple)
    )
    n_docs = draw(st.integers(min_value=2, max_value=7))
    docs = []
    for i in range(n_docs):
        toks = draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=18))
        if draw(st.booleans()):
            at = draw(st.integers(min_value=0, max_value=len(toks)))
            toks[at:at] = list(boiler)
        sep = draw(st.sampled_from([" ", "  ", "\t", " \n "]))
        docs.append((i, sep.join(toks)))
    return docs


@settings(max_examples=12, deadline=None)
@given(_boilerplate_corpus())
def test_drop_duplicated_spans_matches_canonical_owner_oracle(spark, corpus):
    """VERDICT r4 #7: detection and removal are tied together by a pure-
    Python recomputation of the canonical-owner rule on a randomized
    boilerplate corpus — every non-canonical flagged gram position falls
    inside a removed span, canonical owners keep byte-identical text, and
    the rewritten text/drop counts equal the oracle exactly."""
    from ontology_pipeline_spark.operators.dedup import (
        drop_duplicated_spans,
        duplicated_spans,
    )

    n, min_docs = 3, 2
    # ---- pure-Python oracle (gram STRINGS, not hashes) -----------------
    toks_low = {i: t.lower().split() for i, t in corpus}
    occurrences: dict[tuple, list[tuple[int, int]]] = {}
    for i, tl in toks_low.items():
        for pos in range(max(len(tl) - n + 1, 0)):
            occurrences.setdefault(tuple(tl[pos : pos + n]), []).append((i, pos))
    doomed: dict[int, set[int]] = {i: set() for i, _ in corpus}
    flagged: dict[int, set[int]] = {i: set() for i, _ in corpus}
    for occ in occurrences.values():
        if len({d for d, _ in occ}) < min_docs:
            continue
        canon = min(occ)
        for d, p in occ:
            flagged[d].add(p)
            if (d, p) != canon:
                doomed[d].add(p)

    def merge(positions: set[int]) -> list[tuple[int, int]]:
        spans: list[tuple[int, int]] = []
        for p in sorted(positions):
            if spans and p <= spans[-1][1]:  # operator rule: pos > prev max end starts a new span
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + n))
            else:
                spans.append((p, p + n))
        return spans

    expect = {}
    for i, text in corpus:
        spans = merge(doomed[i])
        if not spans:
            expect[i] = (text, 0)
            continue
        orig = text.split()
        kept = [
            t for k, t in enumerate(orig)
            if not any(s <= k < e for s, e in spans)
        ]
        expect[i] = (" ".join(kept), len(orig) - len(kept))

    docs = spark.createDataFrame(list(corpus), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_dropped_tokens"])
        for r in drop_duplicated_spans(docs, n=n, min_docs=min_docs).collect()
    }
    assert got == expect
    # detection ties in: every doomed position sits inside a DETECTED span
    # (detection flags canonical occurrences too, so spans may be wider)
    det = {}
    for r in duplicated_spans(docs, n=n, min_docs=min_docs).collect():
        det.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for i, _ in corpus:
        for p in doomed[i]:
            assert any(s <= p and p + n <= e for s, e in det.get(i, []))
        # and detection == the same merge over ALL flagged positions
        assert sorted(det.get(i, [])) == merge(flagged[i])
