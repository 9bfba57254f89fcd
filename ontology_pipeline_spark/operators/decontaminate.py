"""Benchmark decontamination — n-gram overlap against a held-out eval set.

Engine extension for training-data curation (no analog in the reference,
which never filters its corpus against evaluation data; the nearest shape
is its file-level skip list, src/extractor.py:76-104).  The method is the
standard LLM-pretraining one (GPT-3 appendix C / Llama style): a training
document is *contaminated* if it shares at least one word n-gram (n=13 by
default) with any document in the benchmark/eval corpus, and is dropped.

Scale design (100 TB corpus, small benchmark side):

* the benchmark n-gram set is built once from the eval corpus — eval sets
  are MBs, so the distinct-gram table is small and is explicitly
  `broadcast()` to every executor: the 100 TB training side is NEVER
  shuffled for candidate generation;
* the training side is a narrow tokenize -> distinct-shingle -> explode
  scan; the broadcast semi-join filters hit grams executor-side, so the
  only shuffle is the per-doc hit-count aggregate over the (tiny)
  contaminated subset;
* the final drop is a left_anti join of the corpus against the hit id set.
  Contamination rates are sub-percent in practice, so the hit set is
  always broadcast too;
* tokenize -> shingle is staged through its own projection before the
  explode (lambda bodies defeat Catalyst subexpression elimination — see
  dedup._shingles_of_tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingles_of_tokens
from .text_analysis import tokens


def _doc_grams(df: DataFrame, id_cols: list[str], text_col: str, n: int) -> DataFrame:
    """(id_cols..., gram) — distinct word n-grams per document, lowercased.

    Narrow (scan -> project -> explode): no shuffle.  Shingles are distinct
    per document so downstream counts are hit-GRAM counts, not occurrence
    counts — the semantics the overlap test needs.
    """
    staged = df.select(
        *[F.col(c) for c in id_cols],
        tokens(F.lower(F.col(text_col))).alias("_t"),
    ).select(
        *id_cols,
        _shingles_of_tokens(F.col("_t"), n).alias("_sh"),
    )
    return staged.select(*id_cols, F.explode("_sh").alias("gram"))


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """Distinct n-gram set of the benchmark/eval corpus: one column ``gram``.

    Build once per eval suite; at scale persist it (parquet/Iceberg) and
    reuse across training runs — it only changes when the eval set does.
    """
    return _doc_grams(benchmark, [], text_col, n).distinct()


def contamination_hits(
    docs: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """(id_col, n_hit_grams) for every contaminated document.

    ``bench_grams`` is the (small) output of :func:`benchmark_ngrams`; it is
    broadcast so the corpus side stays un-shuffled.  The aggregate shuffles
    only rows that actually hit — bounded by the contamination rate, not
    the corpus size.
    """
    hits = _doc_grams(docs, [id_col], text_col, n).join(
        F.broadcast(bench_grams), "gram", "left_semi"
    )
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hit_grams"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    pin: bool = True,
) -> DataFrame:
    """Corpus minus every document sharing an n-gram with the benchmark.

    Returns ``docs`` rows (all columns) whose id is NOT in
    :func:`contamination_hits`.  The hit id set is broadcast: it assumes
    the usual sub-percent contamination rate.

    ``docs`` is consumed TWICE (the gram scan and the final anti-join), so
    by default it is pinned here via ``localCheckpoint(eager=False)`` —
    otherwise any computed column / Python stage upstream re-executes per
    consumer (the multi-consumer rule, 10-28x measured; see CLAUDE.md).
    Pass ``pin=False`` when ``docs`` is a plain table scan: re-reading
    parquet twice is cheaper than materializing a 100 TB checkpoint.
    """
    if pin:
        docs = docs.localCheckpoint(eager=False)
    grams = benchmark_ngrams(benchmark, text_col=text_col, n=n)
    hit_ids = contamination_hits(
        docs, grams, id_col=id_col, text_col=text_col, n=n
    ).select(id_col)
    return docs.join(F.broadcast(hit_ids), id_col, "left_anti")
