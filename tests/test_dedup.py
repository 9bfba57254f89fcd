"""Dedup operators: exact, Jaccard, MinHash-LSH, SimHash, embedding cosine."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontology_pipeline_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_dedup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en", "a"),
    (1, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG", "en", "a"),  # exact dup of 0 (normalized)
    (2, "the quick brown fox jumps over the lazy cat", "en", "a"),  # near dup of 0
    (3, "completely different text about spark engines", "en", "a"),
    (4, "unrelated words describing quantum computing topics", "en", "b"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang", "source"])


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark))
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 2, 3, 4}


def test_ngram_jaccard_pairs(spark):
    pairs = ngram_jaccard_pairs(
        _docs(spark), block_cols=["lang", "source"], n=1, threshold=0.7
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got  # identical token sets
    assert (0, 2) in got  # 8/10 shared tokens -> 0.8
    assert all(p in {(0, 1), (0, 2), (1, 2)} for p in got)


def _brute_jaccard(rows, block, threshold):
    """Every in-block pair scored in pure Python: the reference for
    `ngram_jaccard_pairs` at n=1.  Tokens split on Java's `\\s` class as
    `text_analysis.tokens` does; scores rounded HALF_UP to 6 places on the
    double's decimal string, as Spark's `round` does."""
    import itertools
    import re
    from decimal import ROUND_HALF_UP, Decimal

    sets = [
        (
            r["doc_id"],
            tuple(r[c] for c in block),
            {t for t in re.split(r"[ \t\n\x0b\f\r]+", r["text"].lower()) if t},
        )
        for r in rows
    ]
    out = set()
    for (ia, ka, sa), (ib, kb, sb) in itertools.combinations(sets, 2):
        if ka != kb or not (sa | sb):
            continue
        j = len(sa & sb) / len(sa | sb)
        j = float(Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if j >= threshold:
            out.add((min(ia, ib), max(ia, ib), j))
    return out


def _pair_set(df):
    return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}


def test_ngram_jaccard_salt_invariance(spark):
    """Spreading the input over more partitions does not change the pairs."""
    kw = dict(block_cols=["lang", "source"], n=1, threshold=0.7)
    base = ngram_jaccard_pairs(_docs(spark), **kw)
    spread = ngram_jaccard_pairs(_docs(spark).repartition(3), **kw)
    assert _pair_set(base) == _pair_set(spread)


def test_ngram_jaccard_prefix_filter_equivalence(spark):
    """The PPJoin-style prefix-filtered candidate path returns exactly the
    pairs+scores of exhaustive in-block enumeration — the filter is lossless
    for Jaccard >= t."""
    got = _pair_set(
        ngram_jaccard_pairs(_docs(spark), block_cols=["lang", "source"], n=1, threshold=0.7)
    )
    assert got == _brute_jaccard(_docs(spark).collect(), ["lang", "source"], 0.7)


def test_ngram_jaccard_prefix_float_boundary(spark):
    """Regression: threshold*|S| mathematically integer but rounding UP in
    float (t=39/76, |S|=228 -> 117.00000000000001) used to shorten the
    prefix by one and drop a qualifying pair."""
    shared = [f"s{i}" for i in range(117)]
    a_only = [f"a{i}" for i in range(111)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(shared + a_only), "en", "x"),
            (1, " ".join(shared), "en", "x"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    got = ngram_jaccard_pairs(
        docs, block_cols=["lang", "source"], n=1, threshold=39 / 76
    )
    assert _pair_set(got) == {(0, 1, 0.513158)}


def test_ngram_jaccard_prefix_filter_equivalence_corpus(spark):
    """Same losslessness on a realistic corpus (driver testdata, sf0.001:
    real vocabulary, shared templates, many borderline scores)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = _pair_set(
        ngram_jaccard_pairs(docs, block_cols=["lang", "source"], n=1, threshold=0.8)
    )
    assert got == _brute_jaccard(docs.collect(), ["lang", "source"], 0.8)
    assert len(got) > 0  # the fixture corpus must actually exercise the path


def test_minhash_lsh_finds_near_dups_without_n2(spark):
    pairs = minhash_lsh_pairs(_docs(spark), num_hashes=32, bands=16, shingle_n=1)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got and got[(0, 2)] >= 0.5
    assert (3, 4) not in got


def test_minhash_hot_bucket_cap_bounds_the_pair_join(spark):
    """A band bucket with B members emits B^2/2 candidates; on boilerplate
    corpora one hot bucket turns the join quadratic.  max_bucket_size must
    drop ONLY hot-bucket pairs (identical docs share every band, so a cap
    below the group size removes all their pairs) while pairs living in
    sane buckets survive, and None must stay exhaustive for the goldens."""
    n_hot = 60
    hot = [(i, "identical boilerplate page body repeated across the whole crawl")
           for i in range(n_hot)]
    # a genuine near-dup pair with its own small buckets
    distinct = [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(hot + distinct, ["doc_id", "text"])
    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(docs, shingle_n=1).collect()}
    assert (1000, 1001) in uncapped
    assert sum(1 for a, b in uncapped if a < n_hot and b < n_hot) == n_hot * (n_hot - 1) // 2
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs(docs, shingle_n=1, max_bucket_size=16).collect()}
    assert (1000, 1001) in capped                      # sane buckets untouched
    assert not any(a < n_hot for a, _ in capped)       # hot group dropped
    # the cluster path threads the cap through
    clusters = minhash_dedup_clusters(docs, shingle_n=1, max_bucket_size=16).collect()
    assert {r["doc_id"] for r in clusters} == {1000, 1001}


def test_simhash_buckets_group_near_dups(spark):
    out = simhash_buckets(_docs(spark), prefix_bits=8).collect()
    buckets = {tuple(r["doc_ids"]) for r in out}
    assert any({0, 1} <= set(b) for b in buckets)


def test_simhash_hot_bucket_state_is_bounded(spark):
    """VERDICT r2 #5: a hot bucket (many identical docs -> one prefix
    bucket) must report its full n_docs but carry only a capped,
    deterministic doc_id sample — and the rank<=k sample must compile to
    WindowGroupLimit (applied map-side below the exchange), never an
    unbounded collect_list over the whole bucket."""
    n = 500
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    out = simhash_buckets(docs, prefix_bits=8, sample_k=8).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_docs"] == n
    assert list(row["doc_ids"]) == list(range(8))  # smallest ids, sorted
    plan = (
        simhash_buckets(docs, prefix_bits=8, sample_k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_embedding_cosine_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"]) for r in embedding_cosine_pairs(df, threshold=0.99).collect()}
    assert got == {(0, 1)}


def test_minhash_hot_buckets_reports_cap_impact(spark):
    """The occupancy report names the buckets a cap would skip: the
    60-identical-doc group shows up as bands buckets of n_docs=60."""
    from ontology_pipeline_spark.operators.dedup import minhash_hot_buckets

    docs = spark.createDataFrame(
        [(i, "identical boilerplate page body repeated") for i in range(60)]
        + [(1000, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    rows = minhash_hot_buckets(docs, shingle_n=1, min_size=17).collect()
    assert len(rows) == 8  # one hot bucket per band, nothing else
    assert all(r["n_docs"] == 60 and r["min_doc_id"] == 0 for r in rows)


def test_band_collision_pairs_self_join_probe_and_cap(spark):
    """The one collision join behind every LSH pair operator: self-join
    pairs are distinct across bands with id_a < id_b; probe pairs take id_a
    from `left`; the probe cap counts combined left+right occupancy; and
    minhash_hot_buckets(min_size=cap + 1) names exactly the buckets the
    self-join cap prunes."""
    from ontology_pipeline_spark.operators.dedup import (
        band_collision_pairs,
        minhash_hot_buckets,
    )

    slim = lambda rows: spark.createDataFrame(rows, "id long, band int, bucket int")
    pairs = lambda df: [tuple(r) for r in df.collect()]

    # 1~2 collide in two bands (one pair), 3 meets them in band 1 only
    left = slim([(1, 0, 7), (2, 0, 7), (1, 1, 8), (2, 1, 8), (3, 1, 8), (4, 0, 9)])
    assert sorted(pairs(band_collision_pairs(left))) == [(1, 2), (1, 3), (2, 3)]
    right = slim([(10, 0, 7), (11, 1, 8), (12, 0, 9)])
    assert sorted(pairs(band_collision_pairs(left, right))) == [
        (1, 10), (1, 11), (2, 10), (2, 11), (3, 11), (4, 12)
    ]

    # 10 left + 10 right rows in one bucket: hot at cap 16 only when probing
    hot_l = [(100 + i, 0, 5) for i in range(10)]
    hot_r = [(200 + i, 0, 5) for i in range(10)]
    cold_l, cold_r = slim(hot_l + [(300, 0, 6)]), slim(hot_r + [(301, 0, 6)])
    assert pairs(band_collision_pairs(cold_l, cold_r, 16)) == [(300, 301)]
    assert len(pairs(band_collision_pairs(cold_l, cold_r))) == 10 * 10 + 1
    assert len(pairs(band_collision_pairs(slim(hot_l), max_bucket_size=16))) == 45

    # the occupancy report and the cap agree at the boundary: a 17-member
    # family (n_docs = cap + 1) is pruned, a 16-member one (= cap) is not
    cap = 16
    docs = spark.createDataFrame(
        [(i, "identical boilerplate page body repeated") for i in range(cap + 1)]
        + [(100 + i, "other template text about quantum spark engines") for i in range(cap)],
        ["doc_id", "text"],
    )
    hot = minhash_hot_buckets(docs, shingle_n=1, min_size=cap + 1).collect()
    assert len(hot) == 8 and all(r["n_docs"] == cap + 1 for r in hot)
    capped = pairs(minhash_lsh_pairs(docs, shingle_n=1, max_bucket_size=cap).select("id_a", "id_b"))
    assert sorted(capped) == [(100 + i, 100 + j) for i in range(cap) for j in range(i + 1, cap)]


def test_embedding_lsh_hot_bucket_cap(spark):
    """Same guard as the MinHash cap: a flood of identical embeddings fills
    every band bucket it touches; the cap drops those pairs while a
    near-dup pair living in sane buckets is still returned."""
    from ontology_pipeline_spark.operators.dedup import embedding_lsh_pairs

    flood = [(i, [0.5, 0.5, -0.5, 0.5]) for i in range(40)]
    near = [(1000, [1.0, 0.01, 0.0, 0.0]), (1001, [1.0, 0.012, 0.0, 0.0])]
    vecs = spark.createDataFrame(flood + near, ["vec_id", "embedding"])
    capped = {(r["id_a"], r["id_b"])
              for r in embedding_lsh_pairs(vecs, threshold=0.99, max_bucket_size=8).collect()}
    assert (1000, 1001) in capped
    assert not any(a < 40 for a, _ in capped)
    uncapped = {(r["id_a"], r["id_b"]) for r in embedding_lsh_pairs(vecs, threshold=0.99).collect()}
    assert sum(1 for a, b in uncapped if a < 40 and b < 40) == 40 * 39 // 2


def test_minhash_dedup_clusters_transitive(spark):
    """A~B and B~C near-dup pairs must collapse into ONE cluster with the
    min doc_id as representative, even when A~C alone would not pair."""
    from ontology_pipeline_spark.operators.dedup import minhash_dedup_clusters

    base = "the quick brown fox jumps over the lazy dog near the river bank today " * 4
    a = base
    b = base.replace("river", "creek")                       # ~A
    c = base.replace("river", "creek").replace("lazy", "idle")  # ~B
    far = "completely different content about spark shuffles and partitions " * 5
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_dedup_clusters(docs, threshold=0.6).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert 9 not in got  # no near-dup partner -> no dedup decision needed


def test_embedding_lsh_pairs_equals_blocked_on_near_dup_fixture(spark):
    """VERDICT r2 #6: the docstring-promised LSH blocking for embedding
    dedup, composed end-to-end.  On a seeded near-dup fixture (every 4th
    sf0.001 vector gets a scaled + lightly-perturbed clone, cosine ~0.999)
    the banded sign-LSH path must find EXACTLY the pairs the label-blocked
    and the unblocked brute-force paths find at the near-dup threshold —
    same ids, same rounded cosines — while never enumerating O(n^2)."""
    import random

    from pyspark.sql import functions as F

    from ontology_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_lsh_pairs,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = base.select("vec_id", "label", "embedding").collect()
    rng = random.Random(5)
    clones = []
    for r in rows:
        if r["vec_id"] % 4 == 0:
            v = [float(x) for x in r["embedding"]]
            pert = [x * 1.05 + rng.gauss(0.0, 0.002) for x in v]
            clones.append((r["vec_id"] + 100_000, r["label"], pert))
    fixture = spark.createDataFrame(
        [(r["vec_id"], r["label"], [float(x) for x in r["embedding"]]) for r in rows] + clones,
        "vec_id long, label string, embedding array<double>",
    )

    t = 0.98
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(fixture, threshold=t).collect()
    }
    label_blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(fixture, block_col="label", threshold=t).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_lsh_pairs(fixture, threshold=t).collect()
    }
    assert len(brute) == len(clones) > 0  # each clone pairs with its source only
    assert banded == label_blocked == brute


def test_embedding_lsh_pairs_empty_and_null_safe(spark):
    """Empty input / all-NULL vectors return an empty pair frame (matching
    embedding_cosine_pairs) instead of raising at plan-construction time;
    passing dim= keeps construction job-free and equal."""
    from ontology_pipeline_spark.operators.dedup import embedding_lsh_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_lsh_pairs(empty).count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], "vec_id long, embedding array<double>")
    assert embedding_lsh_pairs(nulls).count() == 0
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.02, 0.0]), (2, None), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r["id_a"], r["id_b"]) for r in embedding_lsh_pairs(vecs, threshold=0.99).collect()}
    want = {(r["id_a"], r["id_b"]) for r in embedding_lsh_pairs(vecs, threshold=0.99, dim=3).collect()}
    assert got == want == {(0, 1)}


def test_duplicated_spans_cross_doc_runs(spark):
    """Exact-substring dedup report: token runs shared across >= 2 docs are
    flagged as merged maximal spans; unshared and within-doc-only repeats
    are not."""
    from ontology_pipeline_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} outro"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing in common with anybody at all whatsoever"),
            # doc 4 repeats ITS OWN 5-gram twice but shares it with no one
            (4, "aa bb cc dd ee ff aa bb cc dd ee ff"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in duplicated_spans(docs, n=5, min_docs=2).collect()
    }
    # doc1: shared run occupies tokens 3..12 (inclusive) -> 6 flagged 5-gram
    # positions 3..8, merged span [3, 13)
    assert out[1] == (3, 13, 6)
    # doc2: run at tokens 0..9 -> positions 0..5, span [0, 10)
    assert out[2] == (0, 10, 6)
    assert 3 not in out and 4 not in out


def test_duplicated_spans_merges_overlapping_and_distinct_runs(spark):
    from ontology_pipeline_spark.operators.dedup import duplicated_spans

    a = "one two three four five"          # run A: 5 tokens
    b = "six seven eight nine ten"         # run B: 5 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{a} XX {b}"),             # A at 0..4, B at 6..10 -> 2 spans
            (2, f"{a} filler filler"),
            (3, f"padding {b}"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_spans(docs, n=5, min_docs=2)
        .filter("doc_id = 1").collect()
    )
    assert spans == [(0, 5), (6, 11)]


def test_drop_duplicated_spans_keeps_one_canonical_occurrence(spark):
    """Removal closes the detection loop: every cross-doc duplicated run
    survives exactly once corpus-wide, owned by the least (doc_id, pos)
    occurrence; untouched docs keep their text byte-for-byte."""
    from ontology_pipeline_spark.operators.dedup import drop_duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} outro"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing  in   common with anybody at all whatsoever"),
            (4, f"padding {shared}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_dropped_tokens"])
        for r in drop_duplicated_spans(docs, n=5, min_docs=2).collect()
    }
    # canonical owner is doc 1 (least doc_id; its pos 3 is the only
    # occurrence there): doc 1 keeps everything
    assert out[1] == (f"intro words here {shared} outro", 0)
    # docs 2 and 4 lose the run
    assert out[2] == ("completely different ending text", 10)
    assert out[4] == ("padding", 10)
    # untouched doc keeps ORIGINAL whitespace (no re-join normalization)
    assert out[3] == ("nothing  in   common with anybody at all whatsoever", 0)


def test_drop_duplicated_spans_composes_and_detection_agrees(spark):
    """After removal, re-running detection finds nothing left to flag
    (the fixpoint property), and row count / other columns pass through."""
    from ontology_pipeline_spark.operators.dedup import (
        drop_duplicated_spans,
        duplicated_spans,
    )

    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{run} unique tail one", "en"),
            (2, f"{run} other stuff here", "en"),
            (3, f"middle bit {run} end", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    cleaned = drop_duplicated_spans(docs, n=5, min_docs=2)
    assert cleaned.columns == ["doc_id", "text", "lang", "n_dropped_tokens"]
    rows = {r["doc_id"]: r for r in cleaned.collect()}
    assert rows[1]["text"].startswith(run)  # canonical owner
    assert rows[2]["n_dropped_tokens"] == 8
    assert rows[3]["n_dropped_tokens"] == 8
    assert rows[3]["lang"] == "fr"
    again = duplicated_spans(
        cleaned.select("doc_id", "text"), n=5, min_docs=2
    ).collect()
    assert again == []


def test_ivf_blocked_pairs_equals_brute_on_near_dup_fixture(spark):
    """VERDICT r3 #3: IVF-cell blocking (sampled_centers -> ivf_assign_multi
    -> blocked cosine pairs) for the mid-threshold regime.  On the same
    seeded clone fixture as the LSH test, the IVF-blocked path must find
    EXACTLY the brute-force pairs at the near-dup threshold (a clone and
    its source share their nearest cell by construction); returned cosines
    are exact, recall-only approximation."""
    import random

    from ontology_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs,
        ivf_blocked_pairs,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = base.select("vec_id", "label", "embedding").collect()
    rng = random.Random(5)
    clones = []
    for r in rows:
        if r["vec_id"] % 4 == 0:
            v = [float(x) for x in r["embedding"]]
            pert = [x * 1.05 + rng.gauss(0.0, 0.002) for x in v]
            clones.append((r["vec_id"] + 100_000, r["label"], pert))
    fixture = spark.createDataFrame(
        [(r["vec_id"], r["label"], [float(x) for x in r["embedding"]]) for r in rows] + clones,
        "vec_id long, label string, embedding array<double>",
    )

    t = 0.98
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(fixture, threshold=t).collect()
    }
    ivf = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in ivf_blocked_pairs(fixture, threshold=t, n_centroids=8, n_assign=2).collect()
    }
    assert len(brute) == len(clones) > 0
    assert ivf == brute
    # pair dedup: multi-assignment must not emit a shared-two-cells pair twice
    raw = ivf_blocked_pairs(fixture, threshold=t, n_centroids=8, n_assign=2)
    assert raw.count() == raw.select("id_a", "id_b").distinct().count()


def test_ivf_assign_multi_contains_single_assignment(spark):
    """n_assign=1 multi-assignment equals ivf_assign exactly; n_assign=2
    is a superset per vector (the nearest cell is always included)."""
    from ontology_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_multi,
        sampled_centers,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    centers = sampled_centers(emb, 8)
    single = {
        r["vec_id"]: r["ivf_cell"] for r in ivf_assign(emb, centers).collect()
    }
    multi1 = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf_assign_multi(emb, centers, n_assign=1).collect()
    }
    assert multi1 == single
    multi2: dict[int, set] = {}
    for r in ivf_assign_multi(emb, centers, n_assign=2).collect():
        multi2.setdefault(r["vec_id"], set()).add(r["ivf_cell"])
    for vid, cell in single.items():
        assert cell in multi2[vid] and len(multi2[vid]) == 2


def test_exact_dedup_against_history(spark):
    """Incremental exact dedup: a shard loses byte-duplicates of the
    persisted fingerprint table AND its own internal dups, keeps fresh
    docs; whitespace/case normalization matches exact_dedup's key."""
    from ontology_pipeline_spark.operators.dedup import (
        exact_dedup_against,
        exact_fingerprints,
    )

    history = spark.createDataFrame(
        [(1, "the cat sat"), (2, "some other doc")], "doc_id long, text string"
    )
    seen = exact_fingerprints(history).select("fp")
    shard = spark.createDataFrame(
        [
            (10, "THE  cat   sat"),   # normalizes to a seen fingerprint
            (11, "a brand new doc"),
            (12, "a brand new doc"),  # intra-shard dup (min id 11 wins)
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    out = sorted(r["doc_id"] for r in exact_dedup_against(shard, seen).collect())
    assert out == [11, 13]


def test_minhash_probe_equals_full_run_cross_pairs(spark):
    """Incremental near-dup probe == the cross-shard slice of a full-corpus
    minhash_lsh_pairs run: same ids, same est_jaccard (shared coefficient
    schedule), nothing intra-shard, nothing intra-history."""
    from ontology_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs,
        minhash_probe_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    history = docs.filter("doc_id % 3 != 0")
    # shard: the held-out docs plus perturbed near-clones of history docs
    clones = history.filter("doc_id % 5 == 0").select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
    )
    shard = docs.filter("doc_id % 3 = 0").unionByName(clones)

    idx = minhash_index(history)
    probed = {
        (r["new_id"], r["indexed_id"]): r["est_jaccard"]
        for r in minhash_probe_near_dups(shard, idx, threshold=0.8).collect()
    }
    full = minhash_lsh_pairs(history.unionByName(shard))
    shard_ids = {r["doc_id"] for r in shard.select("doc_id").collect()}
    want = {}
    for r in full.collect():
        if r["est_jaccard"] < 0.8:
            continue
        a, b = r["id_a"], r["id_b"]
        if (a in shard_ids) != (b in shard_ids):  # cross pairs only
            new, old = (a, b) if a in shard_ids else (b, a)
            want[(new, old)] = r["est_jaccard"]
    assert probed == want and len(probed) > 0


def test_minhash_probe_hot_bucket_cap_bounds_the_index_join(spark):
    """Probe-side analog of test_minhash_hot_bucket_cap_bounds_the_pair_join:
    a template family whose band signature collides puts its whole history
    population in one index bucket, and every shard member then meets ALL of
    them — the candidate join grows linearly with the index (measured 105M
    candidate rows at 500k-doc history vs 26M at its quarter).  The cap must
    drop ONLY hot-bucket candidates (combined shard+index occupancy) while
    cross pairs in sane buckets survive, and None must stay exhaustive."""
    from ontology_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_probe_near_dups,
    )

    boiler = "identical boilerplate page body repeated across the whole crawl"
    # "the and of with" keeps the pair past the ingest plan's language gate
    history = spark.createDataFrame(
        [(i, boiler) for i in range(40)]
        + [(1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa the and of with")],
        ["doc_id", "text"],
    )
    shard = spark.createDataFrame(
        [(10_000 + i, boiler) for i in range(20)]
        + [(11_000, "alpha beta gamma delta epsilon zeta eta theta iota lambda the and of with")],
        ["doc_id", "text"],
    )
    idx = minhash_index(history, shingle_n=1)

    uncapped = {
        (r["new_id"], r["indexed_id"])
        for r in minhash_probe_near_dups(
            shard, idx, shingle_n=1, threshold=0.5
        ).collect()
    }
    assert (11_000, 1000) in uncapped
    assert sum(1 for n, o in uncapped if n >= 10_000 and o < 40) == 20 * 40

    capped = {
        (r["new_id"], r["indexed_id"])
        for r in minhash_probe_near_dups(
            shard, idx, shingle_n=1, threshold=0.5, max_bucket_size=16
        ).collect()
    }
    assert (11_000, 1000) in capped            # sane buckets untouched
    assert not any(o < 40 for _n, o in capped)  # hot family dropped

    # the ingest plan threads the cap through (hot shard members survive the
    # probe stage; the family's intra-shard collapse is the cluster stage's
    # job and the cross-shard byte-dup drop is exact_dedup_against's)
    from ontology_pipeline_spark.plans.ingest import ParquetStateStore, ingest_shard

    import tempfile

    store = ParquetStateStore(tempfile.mkdtemp(prefix="cap_ingest_"))
    ingest_shard(spark, history, store=store, shard_id="h", min_quality=0.0,
                 dedup_threshold=0.5, shingle_n=1, max_bucket_size=16)
    res = ingest_shard(spark, shard, store=store, shard_id="s", min_quality=0.0,
                       dedup_threshold=0.5, shingle_n=1, max_bucket_size=16)
    # exact dedup drops the byte-identical family regardless of the cap:
    # only the near-dup survivor remains to be probed, and its sane bucket
    # keeps working -> it is dropped as a cross near-dup of doc 1000
    assert res["exact_survivors"] == 1 and res["new_docs"] == 0


def test_minhash_probe_plan_keeps_signatures_out_of_the_collision_join(spark, tmp_path):
    """Plan pin for the round-5 probe restructure (BENCH/ingest.md): the
    collision join must scan only the slim (band, bucket, doc_id) index
    projection — the heavy per-band signature array rides in exactly ONE
    scan, the band-0 pushed-filter lookup that feeds candidates AFTER pair
    dedup.  Before the restructure the payload was shuffled through the
    join (~30 s extra per probe against a 500k-doc index)."""
    from ontology_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_probe_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx_path = str(tmp_path / "idx")
    minhash_index(docs.filter("doc_id % 2 = 0")).write.parquet(idx_path)
    probed = minhash_probe_near_dups(
        docs.filter("doc_id % 2 = 1"),
        spark.read.parquet(idx_path),
        threshold=0.8,
        max_bucket_size=2048,
    )
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    schemas = [
        seg.splitlines()[0].strip()
        for seg in plan.split("ReadSchema: ")[1:]
    ]
    sig_scans = [s for s in schemas if "signature" in s]
    slim_scans = [s for s in schemas if "signature" not in s]
    # exactly one signature-carrying scan, and it is the band=0 lookup
    assert len(sig_scans) == 1, plan
    assert "EqualTo(band,0)" in plan, plan
    # the collision-join / hot-set scans are signature-free
    assert slim_scans, plan


def test_ingest_shard_job_count_pin(spark, dup_shard, tmp_path):
    """Job-count pin for the staged ingest (BENCH/ingest.md): gates,
    fingerprint and MinHash signature are computed once per shard, and the
    connected-components loop pins its edges and reads convergence off the
    checkpointed labels.  A warm ingest_shard of the `dup_shard` fixture
    (capped, against a committed history) must not run more Spark jobs than
    the count measured after that restructure (72; it ran 96 before it)."""
    import shutil

    from ontology_pipeline_spark.plans.ingest import ingest_shard

    history, shard = dup_shard
    base = str(tmp_path / "base")
    ingest_shard(spark, history, base, "hist", max_bucket_size=16)
    sc = spark.sparkContext
    jobs = []
    for attempt in ("warm-up", "measured"):
        state = str(tmp_path / attempt)
        shutil.copytree(base, state)
        group = f"ingest-job-pin-{attempt}"
        sc.setJobGroup(group, group)
        try:
            ingest_shard(spark, shard, state, "day", max_bucket_size=16)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] <= 72, jobs
