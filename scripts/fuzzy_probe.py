"""Fuzzy-linking scale probe: the candidate->link->canonicalize loop at 1M
pages.

The claim to evidence: the fuzzy tier's cost is driven by the DISTINCT
candidate-surface vocabulary (lexicon-scale), not the corpus size — the
per-page work is the candidate extraction scan (narrow, shuffle only for
the distinct), and the banded-MinHash linking joins a broadcast lexicon
against that small vocabulary.

Usage: python scripts/fuzzy_probe.py       # appends nothing; prints numbers
Env: SPARK_GRAFT_FUZZY_PAGES (default 1_000_000), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(os.environ.get("SPARK_GRAFT_FUZZY_PAGES", "1000000"))
SEED = 42
RUNS = 3


def main() -> None:
    from pyspark.sql import functions as F

    from ontology_pipeline_spark.lexicon import lexicon_df
    from ontology_pipeline_spark.operators.canonicalize import canonical_mapping
    from ontology_pipeline_spark.operators.linking import (
        candidate_surfaces,
        link_entities,
    )
    from ontology_pipeline_spark.session import get_spark
    from ontology_pipeline_spark.synth import corpus_cache_path, distributed_pages

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", app_name="fuzzy-probe", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    path = corpus_cache_path(REPO, N_PAGES, SEED) + "_skew"  # reuse skew corpus
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        print(f"generating {N_PAGES} pages (executor-side) ...", file=sys.stderr)
        distributed_pages(spark, N_PAGES, seed=SEED).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path).select("text")
    lex = lexicon_df(spark)

    def loop():
        cands = candidate_surfaces(pages)
        linked = link_entities(cands, lex, fuzzy=True)
        pairs = linked.filter(F.col("linked_canonical").isNotNull())
        return canonical_mapping(pairs).count()

    n_map = loop()  # warm-up
    times = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        loop()
        times.append(time.perf_counter() - t0)
    n_cands = candidate_surfaces(pages).count()
    print(
        f"pages={N_PAGES} distinct_candidates={n_cands} mapped_names={n_map} "
        f"full-loop best={min(times):.2f}s times={[round(t, 2) for t in times]} "
        f"pages/sec={N_PAGES / min(times):.0f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
