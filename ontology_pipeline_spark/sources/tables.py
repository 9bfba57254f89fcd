"""Source/sink helpers (SURVEY.md §2.1).

Local runs use parquet directories; on a cluster the same call sites switch to
Iceberg (`spark.read.table` / `writeTo(...).append()`) — the plan shapes are
identical, which is why the engine keeps all path/table handling here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# ---------------------------------------------------------------------------
# Triple-sink seam (VERDICT r1 #7): the pipeline's commit protocol talks to
# this interface only, so a cluster deployment swaps ParquetTripleSink for
# IcebergTripleSink in one constructor — plan code unchanged.
# ---------------------------------------------------------------------------


class ParquetTripleSink:
    """Parquet + hand-rolled two-phase commit (the sandbox/local impl; the
    exact protocol semantics are documented and crash-tested in
    plans/pipeline.py); a commit never reads its run back.  Layout:

        <root>/triples/run_id=<r>/bucket=<b>/part-*.parquet
        <root>/lineage/run_id=<r>/part-*.parquet   (append)
        <root>/metrics/part-*.parquet              (append)
    """

    def __init__(self, root: str, n_subject_buckets: int = 32):
        self.root = root
        self.n_subject_buckets = n_subject_buckets
        self.triples_path = os.path.join(root, "triples")
        self.lineage_path = os.path.join(root, "lineage")
        self.metrics_path = os.path.join(root, "metrics")

    # -- resume -----------------------------------------------------------
    def read_done_urls(self, spark: SparkSession, exclude_run_id: str) -> DataFrame | None:
        """Urls already committed by OTHER runs (None when no lineage yet).
        The current run_id is excluded so a same-run_id retry reprocesses its
        whole run (see plans/pipeline.py for why that is load-bearing)."""
        if not _hadoop_exists(spark, self.lineage_path):
            return None
        return (
            spark.read.parquet(self.lineage_path)
            .filter(F.col("run_id") != exclude_run_id)
            .select("url")
            .distinct()
        )

    # -- commit (phase 1: triples, phase 2: lineage) ----------------------
    def write_run_triples(self, df: DataFrame) -> None:
        """Replace this run's partitions atomically-enough for the protocol:
        dynamic partition overwrite of (run_id, bucket).  The subject-hash
        `bucket` column is THIS sink's physical-layout detail (parquet has no
        hidden partition transforms); Iceberg expresses the same layout as a
        `bucket(N, subj)` transform with no data column — which is why the
        plan above the seam does not add it."""
        (
            df.withColumn(
                "bucket", F.pmod(F.xxhash64("subj"), F.lit(self.n_subject_buckets))
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "bucket")
            .parquet(self.triples_path)
        )

    def append_lineage(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.lineage_path)

    def append_metrics(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.metrics_path)

    # -- committed view ---------------------------------------------------
    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Committed triples only: semi-join of the triples sink against
        lineage on (run_id, url) — both crash windows safe (orphan run
        partitions invisible; partial lineage exposes exactly the landed
        urls).  On Iceberg the snapshot mechanism removes this join."""
        t = spark.read.parquet(self.triples_path)
        if not _hadoop_exists(spark, self.lineage_path):
            return t.filter(F.lit(False)).drop("bucket", "run_id")
        committed = (
            spark.read.parquet(self.lineage_path).select("run_id", "url").distinct()
        )
        return t.join(committed, ["run_id", "url"], "left_semi").drop("bucket", "run_id")


class IcebergTripleSink:
    """Iceberg impl of the same seam (cluster deployments).  Import-guarded:
    constructing it without the iceberg-spark runtime on the classpath raises
    a descriptive error instead of failing deep inside an executor.

    Mapping from the parquet protocol:
    * write_run_triples  -> `writeTo(triples_table).overwritePartitions()`
      against a table partitioned by (run_id, bucket(N, subj)) — ONE snapshot
      commit replaces the run's partitions;
    * append_lineage     -> `writeTo(lineage_table).append()`;
    * read_committed     -> the same (run_id, url) semi-join; deployments
      that commit triples+lineage in one transaction (e.g. a multi-table
      transaction catalog, or lineage folded into the triples table's
      snapshot summary) can override this with a plain `table()` read.
    """

    def __init__(
        self,
        spark: SparkSession,
        triples_table: str,
        lineage_table: str,
        metrics_table: str,
    ):
        try:
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        except Exception as e:  # pragma: no cover - sandbox has no Iceberg
            raise RuntimeError(
                "IcebergTripleSink requires the iceberg-spark-runtime package "
                "on the Spark classpath and a configured catalog "
                "(spark.sql.catalog.*); use ParquetTripleSink locally"
            ) from e
        self.spark = spark
        self.triples_table = triples_table
        self.lineage_table = lineage_table
        self.metrics_table = metrics_table

    def read_done_urls(self, spark: SparkSession, exclude_run_id: str) -> DataFrame | None:
        from pyspark.errors import AnalysisException

        try:
            lineage = spark.read.table(self.lineage_table)
        except AnalysisException as e:
            # ONLY table-not-found means "no lineage yet".  Swallowing other
            # failures (catalog/auth/network) would silently disable resume,
            # reprocess every page under a new run_id, and make the committed
            # view return two copies of every triple for those urls.
            err_class = getattr(e, "getErrorClass", lambda: None)() or ""
            if "TABLE_OR_VIEW_NOT_FOUND" not in (err_class + " " + str(e)):
                raise
            return None
        return (
            lineage.filter(F.col("run_id") != exclude_run_id).select("url").distinct()
        )

    def write_run_triples(self, df: DataFrame) -> None:
        df.writeTo(self.triples_table).overwritePartitions()

    def append_lineage(self, df: DataFrame) -> None:
        df.writeTo(self.lineage_table).append()

    def append_metrics(self, df: DataFrame) -> None:
        df.writeTo(self.metrics_table).append()

    def read_committed(self, spark: SparkSession) -> DataFrame:
        t = spark.read.table(self.triples_table)
        committed = (
            spark.read.table(self.lineage_table).select("run_id", "url").distinct()
        )
        return t.join(committed, ["run_id", "url"], "left_semi").drop("bucket", "run_id")


def literal_frame(spark: SparkSession, ddl: str, row: tuple) -> DataFrame:
    """The one-row frame `row` typed by `ddl`, built from JVM literals: a
    `createDataFrame` row goes through Python and takes ~2x as long to write."""
    fields = StructType.fromDDL(ddl).fields
    return spark.range(1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, fields, strict=True)]
    )


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (local paths and object stores alike)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))
