"""Graph read-side operators over the triple table.

The triple DataFrame IS the graph (SURVEY.md §2.9): nodes are the distinct
endpoint names, `pred` is the edge label.  These reproduce the reference's
analytics-layer graph features (reference streamlit_app.py:713-795) as
DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import literal_frame


def nodes(triples: DataFrame) -> DataFrame:
    """Distinct typed nodes (reference node_types dict, streamlit_app.py:732)."""
    return (
        triples.select(F.col("subj").alias("name"), F.col("subj_class").alias("node_type"))
        .unionByName(
            triples.select(F.col("obj").alias("name"), F.col("obj_class").alias("node_type"))
        )
        .distinct()
    )


def degrees(triples: DataFrame) -> DataFrame:
    """(name, out_degree, in_degree, degree) over distinct edges."""
    e = triples.select("subj", "obj").distinct()
    out_d = e.groupBy(F.col("subj").alias("name")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = e.groupBy(F.col("obj").alias("name")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "name", "full")
        .select(
            "name",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def filter_node_types(triples: DataFrame, keep: list[str]) -> DataFrame:
    """Edge filter on endpoint types (reference safe_add_edge guard,
    streamlit_app.py:735-742)."""
    return triples.filter(
        F.col("subj_class").isin(keep) & F.col("obj_class").isin(keep)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    undirected: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration over DataFrames —
    entity-importance ranking for the KG (which canonicals anchor the
    corpus), the iterative-compute sibling of `canonicalize`'s connected
    components.

    Per round: contribs = rank/degree shipped along edges (one shuffle on
    dst), rank = (1-d)/N + d * sum(contribs); each round's frame is
    localCheckpoint-ed so plans stay flat over n_iter rounds.  Dangling
    nodes cannot occur under ``undirected=True`` (every node has degree
    >= 1 by construction); with ``undirected=False`` their rank mass decays
    per the standard simplified formulation.

    Returns (node, rank) with rank rounded to 6 digits.  Float caveat for
    oracle use: the per-round contribution SUM is a cross-row double sum
    (partition-order dependent at ~1e-15); the round(6) + the contract
    checker's 1e-9 tolerance absorb that except for values within ~1e-15 of
    a rounding boundary — vanishingly unlikely on a fixed fixture, but this
    operator deliberately deviates from the "no cross-row double sums in
    oracle queries" rule because power iteration IS a sum.
    """
    pair = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        # pin BEFORE the symmetrizing union: both union branches consume this
        # frame, and an un-pinned computed edge plan would execute twice
        # (multi-consumer rule)
        .localCheckpoint(eager=False)
    )
    if undirected:
        pair = pair.union(pair.select(F.col("b").alias("a"), F.col("a").alias("b")))
    pair = pair.distinct().localCheckpoint(eager=True)

    nodes_df = (
        pair.select(F.col("a").alias("node"))
        .union(pair.select(F.col("b").alias("node")))
        .distinct()
    )
    deg = pair.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("_deg"))
    base = nodes_df.join(deg, "node", "left").localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        # legal degenerate input (no co-occurrences found): empty result,
        # not a driver-side ZeroDivisionError
        return base.select("node", F.lit(0.0).alias("rank"))
    ranks = base.select("node", "_deg", F.lit(1.0 / n).alias("rank"))

    for _ in range(n_iter):
        contribs = (
            pair.join(ranks.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            base.join(contribs, "node", "left")
            .select(
                "node",
                "_deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def ego_edges(triples: DataFrame, node: str, hops: int = 1) -> DataFrame:
    """k-hop ego subgraph edges (reference 1-hop isolation,
    streamlit_app.py:771-777) via iterated self-joins."""
    frontier = literal_frame(triples.sparkSession, "name string", (node,))
    seen = frontier
    for _ in range(hops):
        nbrs = (
            triples.join(F.broadcast(seen), triples["subj"] == seen["name"])
            .select(F.col("obj").alias("name"))
            .unionByName(
                triples.join(F.broadcast(seen), triples["obj"] == seen["name"]).select(
                    F.col("subj").alias("name")
                )
            )
            .distinct()
        )
        seen = seen.unionByName(nbrs).distinct()
    return triples.join(
        F.broadcast(seen.withColumnRenamed("name", "_s")), triples["subj"] == F.col("_s")
    ).drop("_s").join(
        F.broadcast(seen.withColumnRenamed("name", "_o")), triples["obj"] == F.col("_o")
    ).drop("_o")
