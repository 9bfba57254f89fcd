"""Hypertable-style continuous aggregate: time-chunked rollup with
incremental refresh.

Engine extension (no analog in the reference, which is batch-only over
files): a materialized event rollup partitioned by time chunk, where a
refresh recomputes ONLY the chunks whose underlying data changed — the
continuous-aggregate pattern of time-series stores, expressed as plain
Spark + dynamic partition overwrite.

Design:

* the rollup sink is parquet partitioned by `chunk` (one directory per
  day/hour), written with `partitionOverwriteMode=dynamic` so a refresh
  replaces exactly the dirty chunk partitions and never touches the rest;
* dirtiness is detected by comparing per-chunk source row counts against the
  manifest recorded at last refresh — one cheap count aggregate over the
  source (on Iceberg the same check reads the snapshot's incremental scan /
  partition stats instead of scanning, but the plan shape is identical);
* the refresh is idempotent: running it twice refreshes nothing the second
  time, and the rollup always equals the full recompute (tested).

At scale: source and rollup share the chunk partitioning, so the refresh
aggregation shuffles only the dirty chunks' rows (partition pruning on the
chunk predicate), not the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _hadoop_exists


def chunked(events: DataFrame, ts_col: str, chunk: str) -> DataFrame:
    return events.withColumn("chunk", F.date_trunc(chunk, F.col(ts_col)))


def rollup_events(events: DataFrame, ts_col: str, chunk: str) -> DataFrame:
    """The aggregate a refresh materializes: counts + value sums per
    (chunk, event_type)."""
    return (
        chunked(events, ts_col, chunk)
        .groupBy("chunk", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2).alias(
                "value_sum"
            ),
        )
    )


def refresh_rollup(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    chunk: str = "day",
) -> dict:
    """Incrementally refresh the chunked rollup at `out_dir`.

    Dirtiness is (row count, content fingerprint) per chunk — the
    fingerprint is an order-insensitive XOR of full-row hashes, so
    count-preserving edits are detected, not just inserts.  Chunks deleted
    from the source trigger a full rebuild of the sink (dynamic partition
    overwrite cannot remove a partition it does not write; deletions are
    rare in append-mostly event stores, so the rebuild path is the
    exception).  One bookkeeping aggregate over the source feeds the dirty
    set, the totals, and the manifest.

    Returns {"chunks_total", "chunks_refreshed"}.
    """
    rollup_path = os.path.join(out_dir, "rollup")
    manifest_path = os.path.join(out_dir, "manifest")

    data_cols = [F.col(c) for c in events.columns]
    counts = (
        chunked(events, ts_col, chunk)
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64(*data_cols)).alias("fingerprint"),
        )
    )
    # Driver-side manifest diff: bounded by CHUNK COUNT, not row count —
    # one row per (chunk) after the aggregate, e.g. 365/year at day chunks,
    # ~8.8k/year at hour chunks; at finer granularities or decade spans,
    # keep the diff as an anti-join instead of collecting.
    new_state = {
        r["chunk"]: (r["n_rows"], r["fingerprint"]) for r in counts.collect()
    }

    old_state: dict = {}
    if _hadoop_exists(spark, manifest_path):
        old_state = {
            r["chunk"]: (r["n_rows"], r["fingerprint"])
            for r in spark.read.parquet(manifest_path).collect()
        }
    dirty = [c for c, s in new_state.items() if old_state.get(c) != s]
    deleted = [c for c in old_state if c not in new_state]
    total = len(new_state)

    if dirty or deleted:
        ev = chunked(events, ts_col, chunk)
        if deleted:
            # full rebuild: plain overwrite drops the stale partitions
            rollup_events(events, ts_col, chunk).write.mode("overwrite").partitionBy(
                "chunk"
            ).parquet(rollup_path)
            dirty = list(new_state)
        else:
            agg = rollup_events(
                ev.filter(F.col("chunk").isin(dirty)).drop("chunk"), ts_col, chunk
            )
            (
                agg.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("chunk")
                .parquet(rollup_path)
            )
        # manifest is tiny (one row per chunk): full rewrite each refresh
        spark.createDataFrame(
            [(c, n, fp) for c, (n, fp) in new_state.items()],
            schema="chunk timestamp, n_rows long, fingerprint long",
        ).withColumn("refreshed_at", F.current_timestamp()).write.mode(
            "overwrite"
        ).parquet(manifest_path)
    return {"chunks_total": total, "chunks_refreshed": len(dirty)}


def read_rollup(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "rollup"))
