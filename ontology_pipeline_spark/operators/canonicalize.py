"""Canonicalization stage (S5) — connected components over the mention
co-reference graph.

The reference canonicalizes by exact string match on the entity name
(reference streamlit_app.py:111, :128, :159, :171 — dict keying).  The
engine generalizes this: linking (S4) emits equivalence edges
(surface ~ canonical, alias ~ canonical), and this stage collapses each
connected component to a single canonical id, so transitive alias chains
(A~B from exact, B~C from LSH) resolve to one entity.

Algorithm: iterative minimum-label propagation over the undirected edge set
— each node adopts the smallest label in its neighborhood until fixpoint
(the classic "hash-to-min" DataFrame CC; converges in O(component diameter)
rounds, and co-reference components are shallow).  Scale notes:

* every round is one aggregate (groupBy node) plus the label joins; AQE
  handles skew from high-degree head entities
  (`spark.sql.adaptive.skewJoin.enabled`), and map-side partial aggregation
  sends at most one row per node per map task to a super-node's reducer;
* the edges are pinned once and `localCheckpoint` per round truncates the
  lineage, so a round never re-runs the plan that produced the edges and
  plans stay flat;
* iteration is bounded (`max_iter`) with an early-exit convergence check
  read off the checkpointed labels — the only driver-side value per round
  is whether any label dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Edges (src, dst) -> (node, component) with component = min label.

    Labels are the node strings themselves; the representative of each
    component is its lexicographically smallest member (deterministic).
    Every non-null endpoint gets a row, including nodes whose only edges
    have a null partner (they become their own singleton component).

    Each round combines one-hop neighbor-min propagation with pointer
    jumping (label := label of my label), so convergence is O(log diameter)
    rounds, not O(diameter): the min label's reach doubles per round
    (~2^(r-1) hops after r rounds), plus one final round to detect the
    fixpoint.  A 300k-node PATH component (measured: the hot-bucket-capped
    near-dup graph of a templated 300k-page corpus, where url order tracks
    template order) therefore needs 21 rounds — the old default of 20 was
    exactly one short.  max_iter=40 covers diameter ~2^39 at zero cost to
    shallow graphs (the loop exits at the fixpoint).  If the loop still
    exhausts without converging, this RAISES rather than returning
    silently-unmerged components.

    The neighbor min is a plain groupBy(node).min: its map-side partial
    aggregation already folds a super-node's incoming labels to one row per
    map task before the shuffle, so a salted two-phase min would only add a
    shuffle per round.  Labels never increase (each is the least of itself
    and its candidates), so a round changed something iff some new label is
    below its old one; that flag rides in the checkpointed labels instead
    of a second join per round.
    """
    # pinned: the edges feed the node set and every round's neighbor join,
    # and their upstream plan (e.g. an LSH self-join) must not re-run per round
    pair = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    sym = (
        pair.union(pair.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        pair.select(F.explode(F.array("a", "b")).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint(eager=True)

    for _ in range(max_iter):
        # candidate label for each node = min(label of neighbors, own label)
        cand = (
            sym.join(labels.select(F.col("node").alias("b"), "component"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("cand"))
        )
        # pointer jumping: my label's current label (path halving)
        parent = labels.select(
            F.col("node").alias("component"), F.col("component").alias("_parent")
        )
        new = F.least(
            F.col("component"),
            F.coalesce(F.col("cand"), F.col("component")),
            F.coalesce(F.col("_parent"), F.col("component")),
        )
        labels = (
            labels.select("node", "component")
            .join(cand, "node", "left")
            .join(parent, "component", "left")
            .select("node", new.alias("component"), (new < F.col("component")).alias("_chg"))
            .localCheckpoint(eager=True)
        )
        if labels.filter("_chg").isEmpty():
            return labels.drop("_chg")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (components deeper than 2^max_iter hops)"
    )


def canonical_mapping(
    link_pairs: DataFrame,
    surface_col: str = "surface",
    canonical_col: str = "linked_canonical",
) -> DataFrame:
    """(surface, linked_canonical) equivalences -> (name, canonical_id) where
    canonical_id is the component representative."""
    edges = link_pairs.select(
        F.col(surface_col).alias("src"), F.col(canonical_col).alias("dst")
    ).filter(F.col("dst").isNotNull())
    cc = connected_components(edges)
    return cc.select(F.col("node").alias("name"), F.col("component").alias("canonical_id"))
