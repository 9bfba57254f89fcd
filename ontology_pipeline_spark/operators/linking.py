"""Entity linking stage (S4) — generalizes the reference's exact-name dict
keying (reference streamlit_app.py:111, :128, :159, :171) into a two-tier
linker over the broadcast alias dictionary:

1. **Exact fast path** (primary): broadcast hash join on lower(surface) —
   reproduces the reference's exact-match canonicalization, zero shuffle on
   the big side.  This path alone must carry P/R (SURVEY.md §7 hard-part 2);
   the fuzzy tier may only add recall, never remove exact matches.
2. **MinHash-LSH fallback** (secondary, `link_fuzzy_grams`): surfaces that
   miss the dictionary are banded on a character-3-gram MinHash signature
   against the broadcast lexicon, keeping the candidate join sub-quadratic
   at web scale; candidates are verified with the exact gram Jaccard and
   the best (lowest-distance, tie-broken deterministically) one within the
   threshold wins.  Pure JVM expressions, so the result does not depend on
   the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _char_ngrams(col, n: int = 3):
    """Character n-gram array via built-ins (no Python UDF): slide over
    the lowercased, space-normalized string."""
    s = F.lower(F.regexp_replace(col, r"\s+", " "))
    # start offsets 1..len-n+1 -> substrings; all JVM-side, no Python UDF
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
                lambda i: s.substr(i, F.lit(n)),
            ),
            lambda g: F.length(g) == n,
        )
    )


def link_exact(surfaces: DataFrame, lexicon: DataFrame, surface_col: str = "surface") -> DataFrame:
    """Broadcast equi-join surfaces -> (canonical, entity_class); unmatched rows
    keep null canonical (for the fuzzy tier)."""
    dict_df = (
        lexicon.select(
            F.lower(F.col("alias")).alias("_alias_lc"),
            F.col("canonical_name").alias("linked_canonical"),
            F.col("entity_class").alias("linked_class"),
        )
        # deterministic winner when a caller-supplied lexicon maps the same
        # (alias, class) to several canonicals: smallest canonical wins
        # (dropDuplicates alone keeps an arbitrary partition-order row)
        .groupBy("_alias_lc", "linked_class")
        .agg(F.min("linked_canonical").alias("linked_canonical"))
    )
    return surfaces.join(
        F.broadcast(dict_df),
        F.lower(F.col(surface_col)) == F.col("_alias_lc"),
        "left",
    ).drop("_alias_lc")


def candidate_surfaces(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate entity spans for linking, from clean (boilerplate-stripped)
    text: maximal runs of capitalized tokens PLUS each individual capitalized
    token (the sub-token fallback recovers an exact alias when a
    sentence-initial "The" glues onto a name).  Pure JVM expressions; the
    distinct is one shuffle over the (small) candidate vocabulary.

    Precision is intentionally loose — candidates that link to nothing are
    dropped by the linker; this stage only needs recall over surface forms
    the lexicon regex cannot see (misspellings, unseen variants)."""
    runs = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[A-Z][A-Za-z0-9-]*(?: [A-Z][A-Za-z0-9-]*)*"), 0
    )
    # regexp_extract_all, NOT split+filter: splitting 1M pages on a
    # char-class regex measured 57 s vs 1.3 s for direct extraction (the
    # split materializes every lowercase token only to discard it).  This is
    # also slightly WIDER than a boundary-anchored token filter: an
    # uppercase run starting mid-token ("xCOSMED" -> "COSMED") becomes a
    # candidate too — intentional, candidates are recall-loose by design and
    # unlinkable fragments are dropped by the linker.
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Z][A-Za-z0-9-]*"), 0)
    return (
        df.select(F.explode(F.array_union(runs, toks)).alias("surface"))
        .filter(F.length("surface") > 0)
        .distinct()
    )


def link_fuzzy_grams(
    unmatched: DataFrame,
    lexicon: DataFrame,
    surface_col: str = "surface",
    jaccard_max_distance: float = 0.5,
    num_hashes: int = 24,
    bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Deterministic fuzzy tier: char-3-gram MinHash banding against the
    BROADCAST lexicon, with EXACT Jaccard verification of band candidates —
    banding only affects recall, never emits a false positive past the
    threshold.

    Scale shape: the banded lexicon is tiny and broadcast, so the big
    surface side joins without a shuffle; per surface the work is
    O(bands + verified candidates).  Returns (surface, linked_canonical,
    linked_class, jaccard_distance), best candidate per surface,
    deterministic tie-break.
    """
    rows_per_band = num_hashes // bands
    assert num_hashes % bands == 0
    # same machinery as document near-dup (one shared implementation of the
    # coefficient schedule / signature fold / banding in operators/dedup.py)
    from .dedup import _MERSENNE, band_structs, minhash_coeffs, minhash_fold

    coeffs = minhash_coeffs(num_hashes, seed)

    def sig_of(gram_col):
        hashes = F.transform(gram_col, lambda g: F.pmod(F.xxhash64(g), F.lit(_MERSENNE)))
        return minhash_fold(hashes, coeffs)

    def banded(df, sig_name):
        return df.select(
            "*",
            F.explode(
                band_structs(F.col(sig_name), bands, rows_per_band, "_band", "_bucket")
            ).alias("_bb"),
        ).select("*", "_bb._band", "_bb._bucket").drop("_bb")

    left = (
        unmatched.select(F.col(surface_col).alias("surface"))
        .distinct()
        .withColumn("_lg", _char_ngrams(F.col("surface")))
        .filter(F.size("_lg") > 0)
        # stage+pin: the signature expression feeds the band explode and
        # would otherwise be re-evaluated per consumer (module discipline)
        .withColumn("_lsig", sig_of(F.col("_lg")))
        .localCheckpoint(eager=False)
    )
    right = (
        lexicon.select(
            F.col("canonical_name").alias("linked_canonical"),
            F.col("entity_class").alias("linked_class"),
            F.col("alias"),
        )
        .withColumn("_rg", _char_ngrams(F.col("alias")))
        .filter(F.size("_rg") > 0)
        .withColumn("_rsig", sig_of(F.col("_rg")))
    )
    cand = (
        banded(left, "_lsig")
        .join(
            F.broadcast(banded(right, "_rsig").drop("_rsig")),
            ["_band", "_bucket"],
        )
        # dedup the multi-band repeats per (surface, alias) BEFORE scoring —
        # a canonical-level dedup here would keep an arbitrary alias's grams
        # and make the verified distance nondeterministic
        .select("surface", "_lg", "alias", "linked_canonical", "linked_class", "_rg")
        .dropDuplicates(["surface", "alias", "linked_canonical", "linked_class"])
    )
    dist = F.round(
        F.lit(1.0)
        - F.size(F.array_intersect("_lg", "_rg"))
        / F.size(F.array_union("_lg", "_rg")),
        6,
    )
    scored = cand.withColumn("jaccard_distance", dist).filter(
        F.col("jaccard_distance") <= jaccard_max_distance
    )
    w = Window.partitionBy("surface").orderBy(
        "jaccard_distance", "linked_canonical", "linked_class", "alias"
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("surface", "linked_canonical", "linked_class", "jaccard_distance")
    )


def link_entities(
    surfaces: DataFrame,
    lexicon: DataFrame,
    surface_col: str = "surface",
    fuzzy: bool = True,
    jaccard_max_distance: float = 0.5,
) -> DataFrame:
    """Full two-tier linker.  Output adds (linked_canonical, linked_class,
    link_method) to the input rows; unlinkable rows keep nulls.  The fuzzy
    tier is `link_fuzzy_grams`."""
    exact = link_exact(surfaces, lexicon, surface_col).withColumn(
        "link_method", F.when(F.col("linked_canonical").isNotNull(), F.lit("exact"))
    )
    if not fuzzy:
        return exact
    # the exact join feeds four consumers (miss check, fuzzy left side, the
    # repair join, and the final hit filter) — pin it so the surfaces scan
    # + broadcast join run once, not per consumer.  localCheckpoint, not
    # cache(): checkpoint blocks are GC-released with the DataFrame, while a
    # cache() would leak one copy per call for the session lifetime
    exact = exact.localCheckpoint(eager=False)
    misses = exact.filter(F.col("linked_canonical").isNull()).drop(
        "linked_canonical", "linked_class", "link_method"
    )
    if misses.isEmpty():
        return exact
    fz = link_fuzzy_grams(misses, lexicon, surface_col, jaccard_max_distance)
    repaired = (
        misses.join(
            fz.withColumnRenamed("surface", "_fz_surface"),
            F.col(surface_col) == F.col("_fz_surface"),
            "left",
        )
        .drop("_fz_surface", "jaccard_distance")
        .withColumn(
            "link_method", F.when(F.col("linked_canonical").isNotNull(), F.lit("lsh"))
        )
    )
    return exact.filter(F.col("linked_canonical").isNotNull()).unionByName(repaired)
