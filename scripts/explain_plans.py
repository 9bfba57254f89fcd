"""Print formatted physical plans for the headline queries and the KG hot
path — the audit recorded in PLANS.md.  Usage: python scripts/explain_plans.py
[sf_dir]."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "latest_event_per_user",
    "keyword_scan_docs",
    "point_lookup_order",
    "top_tokens",
    "entity_rollup_langs",
    "chunked_pack_stats",
    "duplicated_span_stats",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from ontology_pipeline_spark.lexicon import lexicon_rows
    from ontology_pipeline_spark.operators.relations import fused_triples_stage
    from ontology_pipeline_spark.session import get_spark
    from ontology_pipeline_spark.synth import generate_corpus, pages_df

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    for name in AUDITED:
        print(f"\n========== {name} ==========")
        qs[name](spark, sf_dir).explain("formatted")

    print("\n========== kg fused_triples_stage (the rows run_pipeline pins) ==========")
    pages = pages_df(spark, generate_corpus(n_pages=100, seed=5))
    fused_triples_stage(pages, lexicon_rows(), from_html=True).explain("formatted")

    print("\n========== web-text cleaning projection (fused into the scan) ==========")
    # the round-3 cleaning stage must stay a pure-expression projection (no
    # BatchEvalPython / MapInPandas).  NOTE: consumers must not filter on
    # the cleaned column directly — curate_documents pins it first
    # (localCheckpoint), else Catalyst substitutes this whole chain into
    # every gate sub-signal (measured 9.7x wall; see PLANS.md)
    from ontology_pipeline_spark.operators.clean import clean_documents

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    clean_documents(docs.select("doc_id", "text")).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
