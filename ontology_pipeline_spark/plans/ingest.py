"""Incremental (shard-at-a-time) corpus curation — the daily-ingest analog
of plans/curate.py, against PERSISTED dedup state instead of the full corpus.

    new shard --staging pass: gates (clean/structural/lang/quality)
                + fingerprint + MinHash signature, one pinned projection-->
      --exact_dedup_against (persisted fingerprint table)-->
      --one near-dup graph: intra-shard LSH pairs + cross-shard probe pairs
        (persisted MinHash index), one connected_components, one keep rule-->
      survivors -> append documents + fingerprints + index rows + lineage

The staging pass runs once per shard, spread over every slot and pinned
eagerly; every later phase reads only its slim `_fp` / `_sig` columns
through the "after the signatures" halves of the dedup operators
(`exact_dedup_against_fingerprinted`, `lsh_pairs_from_signatures`,
`probe_from_signatures`, `index_from_signatures`), so the shard's text is
tokenized, fingerprinted and MinHash-signed exactly once.  Keep rule: a
shard doc survives iff it is the smallest shard id of its component and no
cross edge touches that component.

Semantic anchor: the reference's resume/merge (`load_existing_results` +
skip-processed at /root/reference/src/extractor.py:46-104) is exactly this
shape at file granularity; here the unit is a corpus shard and the "existing
results" are the dedup state tables.  plans/pipeline.py composes the same
protocol for KG construction; this module composes it for curation.

Commit protocol (mirrors plans/pipeline.py): state partitions land under
their shard_id FIRST (dynamic partition overwrite — a same-shard_id retry
replaces, never double-appends), the lineage row that names the shard_id
lands SECOND, and every read goes through the committed view (semi-join
against lineage shard_ids).  A crash between the two writes leaves orphan
shard partitions that readers never see; the retry overwrites them cleanly.

Scale notes (100 TB):
* The historical corpus TEXT is never re-read.  Each ingest touches the new
  shard plus two slim state tables: fingerprints (32-char keys) and the
  (band, bucket, doc_id, signature) MinHash index, both partitioned by
  shard_id on disk; write them bucketed by fp / (band, bucket) on a real
  cluster and the anti-join/probe become co-located lookups.
* Only the shard is tokenized/shingled; the probe's candidate space is band
  -collision bounded AND hot-bucket capped (``max_bucket_size`` prunes
  template/boilerplate-family buckets on both sides before the join — the
  piece that keeps the probe O(shard) as the index grows; see
  operators/dedup.py:minhash_probe_near_dups).
* Batch parity (tests/test_ingest.py: two shards == one batch, with and
  without chains) assumes monotone ids: every history id is below every
  shard id, so the batch chain's min-id keep of a component that reaches
  history is a history doc, and dropping the whole shard side of that
  component (including docs that reach history only through same-shard
  near-dups) matches it.  Estimates equal a full-corpus run's (shared
  `dedup.minhash_coeffs` schedule); parity is claimed uncapped
  (``max_bucket_size=None``), the cap being a documented recall trade-off.
* Remaining gap: a chain through a history doc dropped in an EARLIER shard
  (D~H dropped on shard 1, then X~D arrives) is not closed, because the
  index holds only survivors.  Closing it needs tombstone index rows for
  dropped near-dups, which grow the persisted state per ingested shard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import connected_components
from ..operators.dedup import (
    exact_dedup_against_fingerprinted,
    index_from_signatures,
    lsh_pairs_from_signatures,
    probe_from_signatures,
    spread_over_slots,
    with_minhash_signature,
)
from ..operators.text_analysis import fingerprint
from ..sources.tables import literal_frame
from .curate import gate_documents


class ParquetStateStore:
    """Persisted curation state (local/parquet impl of the seam; an Iceberg
    deployment maps each directory to a table and the dynamic partition
    overwrite to `overwritePartitions()`, exactly like the triple sink).

        <root>/documents/shard_id=<s>/     curated survivors (full rows)
        <root>/fingerprints/shard_id=<s>/  (doc_id, fp)
        <root>/minhash_index/shard_id=<s>/ (band, bucket, doc_id, signature)
        <root>/lineage/shard_id=<s>/       one commit row per shard (append)
    """

    def __init__(self, root: str):
        self.root = root
        self.documents_path = os.path.join(root, "documents")
        self.fingerprints_path = os.path.join(root, "fingerprints")
        self.index_path = os.path.join(root, "minhash_index")
        self.lineage_path = os.path.join(root, "lineage")

    # -- committed view ----------------------------------------------------
    def committed_shards(self, spark: SparkSession) -> DataFrame | None:
        """Distinct shard_ids with a landed lineage row (None = no state)."""
        from ..sources.tables import _hadoop_exists

        if not _hadoop_exists(spark, self.lineage_path):
            return None
        return spark.read.parquet(self.lineage_path).select("shard_id").distinct()

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        from ..sources.tables import _hadoop_exists

        if not _hadoop_exists(spark, self.lineage_path):
            return None
        return spark.read.parquet(self.lineage_path)

    def _read_committed(self, spark: SparkSession, path: str) -> DataFrame | None:
        """Committed-only view of a state table: semi-join on lineage
        shard_ids makes orphan (crashed, pre-lineage) partitions invisible."""
        from ..sources.tables import _hadoop_exists

        committed = self.committed_shards(spark)
        if committed is None or not _hadoop_exists(spark, path):
            return None
        return spark.read.parquet(path).join(committed, "shard_id", "left_semi")

    def read_fingerprints(self, spark: SparkSession) -> DataFrame | None:
        return self._read_committed(spark, self.fingerprints_path)

    def read_index(self, spark: SparkSession) -> DataFrame | None:
        return self._read_committed(spark, self.index_path)

    def read_documents(self, spark: SparkSession) -> DataFrame | None:
        d = self._read_committed(spark, self.documents_path)
        return None if d is None else d.drop("shard_id")

    # -- commit (phase 1: state partitions, phase 2: lineage) ---------------
    def _overwrite_shard(self, df: DataFrame, path: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id")
            .parquet(path)
        )

    def write_shard_state(
        self, documents: DataFrame, fingerprints: DataFrame, index: DataFrame
    ) -> None:
        self._overwrite_shard(documents, self.documents_path)
        self._overwrite_shard(fingerprints, self.fingerprints_path)
        self._overwrite_shard(index, self.index_path)

    def append_lineage(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy("shard_id").parquet(self.lineage_path)


def ingest_shard(
    spark: SparkSession,
    shard: DataFrame,
    state_dir: str | None = None,
    shard_id: str = "shard_000",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    dedup_threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    clean: bool = False,
    structural_gate: bool = False,
    max_bucket_size: int | None = 2048,
    resume: bool = True,
    store: ParquetStateStore | None = None,
) -> dict:
    """Curate one new shard against the persisted state and commit it.
    Returns summary counters (mirroring run_pipeline's contract).

    Idempotency: an already-committed shard_id is skipped when ``resume``
    (new_docs 0); a crashed same-shard_id retry reprocesses and REPLACES its
    partitions (dynamic overwrite), so no double-append is possible.

    The MinHash geometry (num_hashes, bands, shingle_n) is part of the
    persisted index's identity: a mismatch against what previous ingests
    committed (or a lineage that already holds two geometries) raises
    instead of silently probing an incompatible index."""
    if store is None:
        if state_dir is None:
            raise ValueError("ingest_shard needs state_dir or an explicit store")
        store = ParquetStateStore(state_dir)

    lineage = store.read_lineage(spark)
    if lineage is not None:
        # one read answers both questions: the committed geometries (exactly
        # one is valid) and whether this shard_id is already committed
        committed = (
            lineage.groupBy("num_hashes", "bands", "shingle_n")
            .agg(F.max(F.col("shard_id") == shard_id).alias("_has_shard"))
            .collect()
        )
        geometries = sorted(tuple(r[:3]) for r in committed)
        if geometries and geometries != [(num_hashes, bands, shingle_n)]:
            raise ValueError(
                "MinHash geometry mismatch vs persisted state: committed "
                f"(num_hashes, bands, shingle_n) {geometries}, got ({num_hashes}, "
                f"{bands}, {shingle_n}) — rebuild the index or match the parameters"
            )
        if resume and any(r["_has_shard"] for r in committed):
            return {"shard_id": shard_id, "total_docs": None, "new_docs": 0}

    total = shard.count()
    # the staging pass: gates, fingerprint and MinHash signature in one
    # projection over every slot, pinned once; each later phase reads only
    # the slim `_fp` / `_sig` columns of it
    gated = gate_documents(
        spread_over_slots(shard),
        text_col,
        lang=lang,
        min_quality=min_quality,
        clean=clean,
        structural_gate=structural_gate,
    )
    staged = with_minhash_signature(
        gated.select("*", fingerprint(F.col(text_col)).alias("_fp")),
        text_col,
        num_hashes,
        shingle_n,
        out_col="_sig",
    ).localCheckpoint(eager=True)

    def signatures(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"), F.col("_sig").alias("signature")
        ).filter(F.col("signature").isNotNull())

    seen_fps = store.read_fingerprints(spark)
    if seen_fps is None:
        # first shard: exact_dedup_against with an empty fingerprint table
        # degenerates to intra-shard exact dedup
        seen_fps = literal_frame(spark, "doc_id long, fp string", (None, None)).limit(0)
    # pin: the exact-survivor frame feeds the near-dup graph, its anti-join
    # AND the counter (multi-consumer rule)
    d = exact_dedup_against_fingerprinted(staged, seen_fps, id_col).localCheckpoint(
        eager=False
    )
    n_exact = d.count()

    # one near-dup graph over every exact survivor: the intra-shard pairs
    # (hot buckets capped on shard occupancy) plus each cross-shard pair at
    # its shard end (capped on combined occupancy), so every node is a shard
    # doc and a component's label is its smallest shard id
    edges = lsh_pairs_from_signatures(signatures(d), num_hashes, bands, max_bucket_size)
    edges = edges.filter(F.col("est_jaccard") >= dedup_threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    index = store.read_index(spark)
    if index is not None:
        # pinned: the hit shard ends feed the graph and flag its components
        hits = probe_from_signatures(
            signatures(d), index.drop("shard_id"), num_hashes, bands, dedup_threshold,
            max_bucket_size,
        ).select(F.col("new_id").alias("node")).localCheckpoint(eager=False)
        edges = edges.union(hits.select("node", "node"))
    labels = connected_components(edges)
    # keep rule: a shard doc survives iff it is its component's label and no
    # cross edge touches the component.  Touched components are found through
    # the hit shard ends, never through node ids (a shard doc may reuse an
    # indexed doc's id); `dups` already holds all their members but the label
    dups = labels.filter(F.col("node") != F.col("component")).select("node")
    drop = dups if index is None else dups.union(labels.join(hits, "node").select("component"))
    # pin the survivors: they feed the document, fingerprint and index
    # writes, and the count
    d = d.join(drop.withColumnRenamed("node", id_col), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    n_intra = n_exact - dups.count()
    n_survivors = d.count()

    stamp = F.lit(shard_id).alias("shard_id")
    store.write_shard_state(
        d.drop("_fp", "_sig").select("*", stamp),
        d.select(F.col(id_col), F.col("_fp").alias("fp"), stamp),
        index_from_signatures(signatures(d), num_hashes, bands).select("*", stamp),
    )
    store.append_lineage(
        literal_frame(
            spark,
            "shard_id string, total_docs long, exact_survivors long, "
            "intra_survivors long, new_docs long, num_hashes int, bands int, "
            "shingle_n int, threshold double",
            (shard_id, total, n_exact, n_intra, n_survivors, num_hashes, bands, shingle_n,
             float(dedup_threshold)),
        ).withColumn("committed_ts", F.current_timestamp())
    )
    return {
        "shard_id": shard_id,
        "total_docs": total,
        "exact_survivors": n_exact,
        "intra_survivors": n_intra,
        "new_docs": n_survivors,
    }


def read_curated(
    spark: SparkSession, state_dir: str | None = None, store: ParquetStateStore | None = None
) -> DataFrame:
    """All committed curated documents across ingested shards (orphan
    partitions from crashed ingests are invisible — see module docstring)."""
    if store is None:
        if state_dir is None:
            raise ValueError("read_curated needs state_dir or an explicit store")
        store = ParquetStateStore(state_dir)
    d = store.read_documents(spark)
    if d is None:
        raise ValueError(f"no committed state under {store.root}")
    return d
