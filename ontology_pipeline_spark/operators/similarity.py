"""Similarity search over embedding columns (`array<float>`).

Engine extension for training-data pipelines: approximate-nearest-neighbor
over an embeddings table.

* `cosine_topk` — exact brute-force baseline: one narrow pass computing the
  dot product with a broadcast query vector (JVM `aggregate`/`zip_with`
  expressions, no Python), then a top-k.  At 100 TB this is a full scan but
  zero shuffle (top-k is a tree-aggregated `orderBy ... limit`).
* `with_lsh_bucket` + `lsh_probe_topk` — the scale path: random-hyperplane
  (sign-LSH) bucketing built once; the query probes only its own bucket(s),
  so the scan is pruned by the bucket predicate (partition the table by
  bucket to make this partition pruning).  `ivf_index`/`ivf_assign` +
  `ivf_probe_topk` are the data-adaptive IVF counterpart.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _unit(v: Column) -> Column:
    """`v` L2-normalized; a zero vector stays as it is."""
    nrm = _norm(v)
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)


def _center_scores(v: Column, centers: list[list[float]]) -> Column:
    """array<struct<cos, negi>>: `v`'s cosine to each literal center (0 for
    a zero vector) with `negi = -index`.  Structs compare field by field, so
    the largest struct is the max-cosine center, ties -> lowest index."""
    nrm = _norm(v)
    cnorms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centers]
    return F.array(
        *[
            F.struct(
                F.when(
                    nrm > 0,
                    _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                    / (nrm * F.lit(cnorms[i])),
                )
                .otherwise(F.lit(0.0))
                .alias("cos"),
                F.lit(-i).alias("negi"),
            )
            for i, c in enumerate(centers)
        ]
    )


def cosine_scores(
    embeddings: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    score_col: str = "cosine",
    ndigits: int = 6,
) -> DataFrame:
    """Attach cosine(query, vec) — the brute-force kernel (rounded for
    cross-engine reproducibility)."""
    v = F.col(vec_col).cast("array<double>")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    cos = _dot(v, q) / (_norm(v) * F.lit(qn))
    return embeddings.withColumn(score_col, F.round(cos, ndigits))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine, deterministic tie-break on id."""
    return (
        cosine_scores(embeddings, query_vec, vec_col)
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    bits = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        bits = bits.bitwiseOR(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bits


def with_lsh_bucket(
    embeddings: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign each vector its sign-LSH bucket (write-partition by this column
    for ANN partition pruning at scale)."""
    return embeddings.withColumn(
        bucket_col, _bucket_expr(F.col(vec_col).cast("array<double>"), planes)
    )


def probe_buckets(
    planes: list[list[float]], query_vec: list[float], max_hamming: int = 1
) -> list[int]:
    """Driver-side multi-probe set for sign-LSH: the query's bucket plus all
    buckets within `max_hamming` bit flips (tiny: sum of binomials)."""
    from itertools import combinations

    qbits = 0
    for i, p in enumerate(planes):
        d = sum(float(a) * float(b) for a, b in zip(query_vec, p))
        if d >= 0:
            qbits |= 1 << i
    probe = [qbits]
    for h in range(1, max_hamming + 1):
        for bits in combinations(range(len(planes)), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe.append(qbits ^ flip)
    return probe


def lsh_probe_topk(
    bucketed: DataFrame,
    planes: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """PROBE a prebuilt sign-LSH index (the output of `with_lsh_bucket`,
    ideally read back from a `bucket_col`-partitioned table): exact cosine
    top-k within the multi-probe Hamming ball.  The bucket `isin` filter
    becomes partition pruning on a partitioned read — no per-query bucket
    recompute, no corpus scan outside the probed buckets (the sign-LSH
    mirror of `ivf_probe_topk`; plan asserted in tests/test_similarity.py).
    Build once per corpus with `with_lsh_bucket`, probe per query with
    this."""
    probe = probe_buckets(planes, query_vec, max_hamming)
    cands = bucketed.filter(F.col(bucket_col).isin(probe))
    return cosine_topk(cands, query_vec, k, id_col, vec_col)


def ivf_index(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    max_iter: int = 10,
    seed: int = 42,
    cell_col: str = "ivf_cell",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means over the corpus (pyspark.ml, seeded),
    returning (embeddings + cell assignment, centroid list).

    At scale the assignment is computed once and the table is WRITTEN
    partitioned/bucketed by `cell_col`, so a query's probe of `n_probe` cells
    becomes partition pruning on the scan — the IVF analog of the sign-LSH
    bucket predicate above.  Centroids (n_centroids x dim) are tiny and live
    on the driver / in the query plan as literals.

    Vectors are L2-NORMALIZED before fitting/assignment: the downstream
    search metric is cosine, and on the unit sphere Euclidean k-means order
    equals cosine order — without this, a small-norm vector directionally
    aligned with a query can be Euclidean-assigned to an origin-hugging cell
    whose centroid points elsewhere, and the true top-cosine neighbor sits
    in a cell the probe ranking never selects.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = _unit(F.col(vec_col).cast("array<double>"))
    feat = embeddings.withColumn("_fv", array_to_vector(unit))
    model = KMeans(
        k=n_centroids,
        maxIter=max_iter,
        seed=seed,
        featuresCol="_fv",
        predictionCol=cell_col,
    ).fit(feat)
    assigned = model.transform(feat).drop("_fv")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centers


def sampled_centers(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic seed centroids for a sampled-centroid IVF coarse
    quantizer: the L2-normalized vectors of the `n_centroids` rows ranked
    first by (pmod(xxhash64(cast(id AS string)), 2^31-1), id) — a seeded
    uniform sample any engine can replay exactly (unlike a k-means fit,
    whose distributed float reductions are not bit-reproducible).

    The top-n is a tree-aggregated orderBy+limit: no full shuffle, and only
    n_centroids rows reach the driver — centroids are tiny by definition."""
    unit = _unit(F.col(vec_col).cast("array<double>"))
    rows = (
        embeddings.select(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")), F.lit((1 << 31) - 1)
            ).alias("_rk"),
            F.col(id_col).alias("_id"),
            unit.alias("_u"),
        )
        .orderBy("_rk", "_id")
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["_u"]] for r in rows]


def ivf_assign(
    embeddings: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """BUILD step of the IVF index: assign each vector to its max-cosine
    center (ties -> lowest center index), as pure JVM expressions against
    literal centers.  Write the result partitioned by `cell_col` so probes
    become partition pruning; computed once per corpus, never per query."""
    scored = _center_scores(F.col(vec_col).cast("array<double>"), centers)
    return embeddings.withColumn(cell_col, -F.array_max(scored)["negi"])


def ivf_assign_multi(
    embeddings: DataFrame,
    centers: list[list[float]],
    n_assign: int = 2,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Multi-assignment BUILD step for IVF-blocked PAIR generation: each
    vector is exploded into its `n_assign` max-cosine cells (one output row
    per (vector, cell); ties -> lowest center index, same total order as
    `ivf_assign`).  Two vectors become pair candidates iff they share any
    assigned cell — the neighbor-cell expansion that catches pairs
    straddling a cell boundary, the IVF analog of multi-probe.

    Pure JVM expressions against literal centers: score array -> descending
    sort -> slice(n_assign) -> explode.  Row fan-out is exactly n_assign x,
    a constant; no shuffle (the explode is narrow)."""
    scored = _center_scores(F.col(vec_col).cast("array<double>"), centers)
    top = F.slice(F.sort_array(scored, asc=False), 1, n_assign)
    return embeddings.withColumn(
        cell_col, F.explode(F.transform(top, lambda s: -s["negi"]))
    )


def probe_cells(
    centers: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The n_probe cell ids whose centroids are nearest the query by cosine
    (driver-side: centroids are tiny), deterministic tie-break on cell id."""
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def cos_to_q(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    return sorted(range(len(centers)), key=lambda i: (-cos_to_q(centers[i]), i))[:n_probe]


def ivf_probe_topk(
    assigned: DataFrame,
    centers: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """PROBE a prebuilt IVF index (the output of `ivf_assign`/`ivf_index`,
    ideally read back from a `cell_col`-partitioned table so the `isin`
    filter prunes partitions): exact cosine top-k within the n_probe nearest
    cells.  No fitting, no corpus scan outside the probed cells."""
    probe = probe_cells(centers, query_vec, n_probe)
    cands = assigned.filter(F.col(cell_col).isin(probe))
    return cosine_topk(cands, query_vec, k, id_col, vec_col)

