"""Structured Streaming ingest: continuous KG construction.

The reference is batch-with-resume (SURVEY.md §2.10 — its checkpoint is the
processed-file anti-join, src/extractor.py:46-74); the batch plan reproduces
that exactly.  This module adds the streaming-native version for sources that
arrive continuously (new WARC dumps landing in object storage):

    readStream(pages parquet dir) -> fused HTML->triples mapInPandas
      -> writeStream(parquet sink, per-query checkpoint)

Exactly-once comes from the streaming checkpoint (source offsets + file sink
log), the streaming analog of the batch lineage table.  The extraction stage
is stateless and narrow, so it runs unchanged inside a stream; windowed
aggregations demonstrate watermark + event-time rollups over `warc_ts`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lexicon import lexicon_rows as default_lexicon_rows
from ..operators.relations import extract_triples_from_html
from ..schemas import PAGES


def read_page_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int = 64) -> DataFrame:
    """File-source stream over a pages parquet directory (new files = new data)."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )


def triples_stream(pages_stream: DataFrame, lexicon_rows: list[tuple] | None = None) -> DataFrame:
    """Streaming triples: the same fused stage as batch (stateless map)."""
    lex = default_lexicon_rows() if lexicon_rows is None else lexicon_rows
    return extract_triples_from_html(pages_stream, lex)


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    lexicon_rows: list[tuple] | None = None,
) -> None:
    """Drain everything currently available (Trigger.AvailableNow) into the
    sink, exactly-once via the checkpoint; call again after new files land to
    process only the delta — the streaming mirror of the batch resume test."""
    tri = triples_stream(read_page_stream(spark, source_dir), lexicon_rows)
    q = (
        tri.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def deduped_page_stream(
    pages_stream: DataFrame,
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-crawled/duplicate pages by content
    fingerprint within the watermark horizon (the streaming analog of
    `operators.dedup.exact_dedup`).

    `dropDuplicatesWithinWatermark` bounds the dedup state by event time —
    a fingerprint older than the watermark is evicted, so state is
    O(pages per horizon), not O(corpus); re-crawls of the SAME url with
    changed content pass through (different fingerprint), which is exactly
    the incremental-update behavior the KG pipeline wants upstream of
    extraction.

    Representative choice: the FIRST-ARRIVED row per fingerprint survives,
    which is arrival-order (partition-order) dependent when duplicates land
    in the same trigger — fine for dedup (any representative carries the
    same content), but do not build logic on WHICH url survives."""
    from ..operators.text_analysis import fingerprint

    fp = pages_stream.withColumn("_fp", fingerprint(F.col("text")))
    return (
        fp.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def windowed_mention_counts(
    pages_stream: DataFrame,
    lexicon_rows: list[tuple] | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time rollup: mentions per entity class per warc_ts window, with a
    watermark bounding state for late pages (streaming analog of A4 group
    counts).  The mention stage here carries warc_ts through the scan so no
    stream-stream join is needed."""
    from ..operators.extract_text import extract_text_bytes
    from ..operators.mentions import _compile, scan_text
    from ..operators.stage import map_rows

    lex = tuple(
        tuple(r) for r in (default_lexicon_rows() if lexicon_rows is None else lexicon_rows)
    )

    # html is optional: a text-only stream (no raw HTML column) stays valid
    html_col = ["html"] if "html" in pages_stream.columns else []

    def make_row_fn():
        pattern, lookup = _compile(lex)

        def fn(url, ts, text, html=None):
            # html-only pages (the WARC-dump source this module documents)
            # must still count: fall back to the same pure extractor the
            # triples stream uses, so the rollup never silently reads 0
            # while the triple stream is busy
            if (text is None or text == "") and html is not None:
                text = extract_text_bytes(html)
            return [
                (ts, cls)
                for _u, _sid, _pos, _surf, _canon, cls in scan_text(url, text, pattern, lookup)
            ]

        return fn

    stamped = map_rows(
        pages_stream,
        ["url", "warc_ts", "text", *html_col],
        "warc_ts timestamp, entity_class string",
        make_row_fn,
    )
    return (
        stamped.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "entity_class")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
