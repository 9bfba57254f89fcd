"""ontology_pipeline_spark — a PySpark-native knowledge-graph construction engine.

A brand-new, idiomatic-Spark re-expression of the capabilities of the
reference `kelabd/ontology-pipeline` (a serial, per-file, LLM-driven Python
script; see SURVEY.md).  This engine replaces per-row LLM extraction with
batched, vectorized stages over DataFrames:

    pages (url, warc_ts, html, text, lang)
      -> extract_text     (Arrow-batched pandas UDF; byte-identical text/url)
      -> detect_mentions  (mapInPandas over a broadcast ontology lexicon)
      -> extract_triples_fused
                          (mention scan + sentence co-occurrence pair rules in
                           one shuffle-free mapInPandas pass)
      -> link_entities    (broadcast exact-alias join + banded char-gram
                           MinHash fallback with exact Jaccard verification)
      -> canonicalize     (connected components over co-reference graph)
      -> triples          (partitioned sink, resumable via lineage anti-join)

Everything is pyspark.sql DataFrames; heavy text work is Arrow-batched; there
is no per-row Python and no external API on the hot path.
"""

__version__ = "0.1.0"
