"""End-to-end KG-construction plan (the engine's EP1 analog; reference
lifecycle at main.py:282-292 -> src/extractor.py:918-977).

    pages --anti-join lineage--> fused stage (HTML->text, mentions, pairs;
      each page's triple rows + one page row, pinned once)
      -> triple rows: append to triples sink (bucketed by subject hash)
      -> page rows: append per-url lineage rows (resume checkpoint)

Resume semantics mirror the reference exactly: `load_existing_results` +
"skip already-processed files" (src/extractor.py:46-74, :934-935) becomes a
left_anti join of pages against committed lineage urls; re-running after a
partial failure recomputes only missing urls and the final triple set is
identical (tested).

Sink layout (parquet here; Iceberg `writeTo(...).append()` on a real
cluster — same plan shape):
    <out>/triples/   bucket=<pmod(xxhash64(subj), n_buckets)>/part-*.parquet
    <out>/lineage/   run_id=<run>/part-*.parquet
Bucketing by subject hash co-locates each entity's edges, so downstream
per-subject aggregations and ego-subgraph joins read few buckets instead of
the whole table.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relations import distinct_triples, fused_triples_stage, page_rows, triple_rows
from ..sources.tables import ParquetTripleSink, literal_frame


def build_triples(
    pages: DataFrame,
    lexicon_rows: list[tuple] | None = None,
    from_html: bool = True,
) -> DataFrame:
    """pages -> per-page triples (one shuffle-free fused Python stage)."""
    return triple_rows(fused_triples_stage(pages, lexicon_rows, from_html))


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str | None = None,
    run_id: str | None = None,
    lexicon_rows: list[tuple] | None = None,
    resume: bool = True,
    from_html: bool = True,
    sink=None,
) -> dict:
    """Execute one (resumable) batch commit. Returns summary counters,
    mirroring the reference's corpus summary (src/extractor.py:946-955).

    All storage goes through the triple-sink seam (`sources.tables`):
    the default is `ParquetTripleSink(out_dir)`; pass an `IcebergTripleSink`
    to land the same plan on Iceberg tables — no plan code changes."""
    if sink is None:
        if out_dir is None:
            raise ValueError("run_pipeline needs out_dir or an explicit sink")
        sink = ParquetTripleSink(out_dir)
    run_id = run_id or dt.datetime.now(dt.timezone.utc).strftime("run_%Y%m%dT%H%M%S%f")

    # not pinned (that would hold every page's HTML): its one consumer is the fused stage
    pages = spark.read.parquet(pages_path)
    total_pages = new_pages = pages.count()

    # The done-set excludes THIS run_id: a same-run_id retry after a crash
    # mid-lineage-append would otherwise skip the urls whose lineage rows
    # landed before the crash, and the dynamic (run_id, bucket) partition
    # overwrite below would then REPLACE bucket partitions that also hold
    # those urls' triples — permanently losing committed rows (their lineage
    # would claim them committed with no rows behind it).  Reprocessing the
    # whole run under its own run_id makes the overwrite complete and
    # idempotent; urls committed under OTHER runs stay skipped.
    done = sink.read_done_urls(spark, exclude_run_id=run_id) if resume else None
    if done is not None:
        pages = pages.join(done, "url", "left_anti")

    # Pinned once, by its first action (a resume's count of the page rows,
    # else the triples write): the stage and the anti-join (a lineage scan
    # and a distinct over every committed url) run once, and new_pages is
    # exactly the set this commit writes.
    staged = fused_triples_stage(pages, lexicon_rows, from_html).localCheckpoint(eager=False)
    per_url = page_rows(staged)
    if done is not None:
        new_pages = per_url.count()
    summary = dict(run_id=run_id, total_pages=total_pages, new_pages=new_pages, new_triples=0)
    if new_pages == 0:
        return summary

    # Commit protocol (atomicity): triples land under their run_id partition
    # FIRST, the lineage rows that reference the run_id land SECOND, and
    # read_triples only surfaces runs present in lineage.  A crash between
    # the two writes leaves an orphan run partition that readers never see
    # and the next resume run reprocesses cleanly — no duplicate triples in
    # the committed view (the Iceberg analog is a single snapshot commit).
    # replace-not-append: retrying a crashed run with the SAME caller-supplied
    # run_id must replace that run's partitions, or the retry would append a
    # second copy of every triple under them.  Physical layout (the parquet
    # sink's explicit `bucket` column vs Iceberg's hidden bucket(N, subj)
    # transform) is the SINK's concern — plan code only stamps run_id.
    sink.write_run_triples(triple_rows(staged).withColumn("run_id", F.lit(run_id)))

    # per-url lineage from the page rows: every new page commits a row even
    # if it emitted no triples (negative pages must not be reprocessed forever)
    sink.append_lineage(
        per_url.select(
            "url",
            F.lit(run_id).alias("run_id"),
            F.lit(None).cast("long").alias("n_mentions"),
            "n_triples",
            F.lit("ok").alias("status"),
            F.lit(None).cast("string").alias("error"),
            F.current_timestamp().alias("committed_ts"),
        )
    )

    summary["new_triples"] = int(per_url.agg(F.sum("n_triples")).first()[0] or 0)
    # run-level metrics row alongside the commit (reference corpus summary,
    # src/extractor.py:946-955; north rule: lineage + metrics per commit)
    sink.append_metrics(
        literal_frame(
            spark,
            "run_id string, total_pages long, new_pages long, new_triples long",
            (run_id, total_pages, new_pages, summary["new_triples"]),
        ).withColumn("committed_ts", F.current_timestamp())
    )
    return summary


def read_triples(spark: SparkSession, out_dir: str | None = None, sink=None) -> DataFrame:
    """Committed triples only: the committed view is the semi-join of the
    triples sink against lineage on (run_id, url).  This makes BOTH crash
    windows safe: an orphan run partition (crash before any lineage landed)
    is invisible, and a PARTIAL lineage commit (crash mid-append: some urls'
    rows landed, others not) exposes exactly the landed urls — the missing
    urls are reprocessed by the next resume under a new run_id and only that
    run's copy is visible, never both.  (On Iceberg a single snapshot commit
    replaces this pair-join.)"""
    if sink is None:
        if out_dir is None:
            raise ValueError("read_triples needs out_dir or an explicit sink")
        sink = ParquetTripleSink(out_dir)
    return sink.read_committed(spark)


def corpus_triples(spark: SparkSession, out_dir: str | None = None, sink=None) -> DataFrame:
    """Distinct corpus-level knowledge graph with provenance."""
    return distinct_triples(read_triples(spark, out_dir, sink=sink))
