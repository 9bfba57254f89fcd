"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] plus the flagship KG-construction pipeline on a
seeded synthetic page corpus, and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "query_spread": {name: worst/best, ...},
     "hw_ceiling_sec": {"before": s, "after": s},
     "sf": <sf>, "triples_per_sec": N}

`hw_ceiling_sec` is a same-window pure-CPU multiprocessing burn measured
before and after the Spark work: on this throttled host the burn inflates
in lockstep with query walls, so rounds are comparable by wall/ceiling
ratio without external context (after >> before means throttling ramped
during the run).

The synthetic corpus is generated once and cached under .bench_data/ (pages
parquet keyed by size+seed) so repeated runs measure the engine, not the
generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 100k pages amortizes fixed stage overhead so triples/sec reflects the
# engine (20k pages is launch-overhead-dominated at 32 cores); generation is
# one-time (cached under .bench_data/) and excluded from the metric.
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "100000"))
SEED = 42


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _hw_ceiling_sec(procs: int = 32, best_of: int = 2) -> float:
    """Same-window pure-CPU burn (also the hardware ceiling in
    scripts/bench_scaling.py, at 8 and 32 procs): wall seconds for 96 x
    2M-iteration multiprocessing tasks at `procs` workers, best of
    `best_of`.  On a quiet host this is a stable constant; hypervisor
    throttling inflates it in lockstep with the query timings, so
    BENCH_rN.json files are comparable across rounds WITHOUT the prose
    rebuttal (VERDICT r3 what's-wrong #3): divide any wall by the
    same-window ceiling before calling it a regression."""
    from multiprocessing import Pool

    best = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        with Pool(procs) as p:
            p.map(_burn, [2_000_000] * 96)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _sf_of(sf_dir: str) -> float | None:
    import re

    m = re.search(r"sf([0-9.]+)/*$", sf_dir)
    try:
        return float(m.group(1)) if m else None
    except ValueError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repo_root = os.path.dirname(os.path.abspath(__file__))

    import __spark_entry__ as entrymod
    from ontology_pipeline_spark.lexicon import lexicon_rows
    from ontology_pipeline_spark.plans.pipeline import build_triples
    from ontology_pipeline_spark.session import get_spark
    from ontology_pipeline_spark.synth import ensure_cached_corpus

    spark = get_spark(
        master=f"local[{cpus}]", app_name="bench", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages_pq = ensure_cached_corpus(spark, repo_root, BENCH_PAGES, SEED)

    headline = [
        "q1_pricing_summary",
        "revenue_by_nation",
        "top10_orders_by_revenue",
        "latest_event_per_user",
        # events_hourly retired from the registry in round 4 (50-query cap);
        # events_daily_rollup is the same bucketed count+sum shape over the
        # same table, so the round-over-round comparison stays meaningful
        "events_daily_rollup",
        "doc_mentions",
        "doc_cooccurrence_edges",
        "near_dup_jaccard",
        "minhash_near_dups",
        "top_tokens",
        "cosine_topk_q0",
        "doc_quality_minmax",
    ]
    qs = entrymod.queries()

    # JVM warm-up: run every headline query once at the tiny sf0.001 scale
    # (different data files, so nothing from the measured input is cached —
    # this warms whole-stage-codegen compilation, Arrow/pandas worker spin-up
    # and parquet reader classes, which otherwise land entirely on the first
    # timed query: q1 measured 6.8 s cold vs 0.95 s warm for identical work).
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in headline:
            try:
                qs[name](spark, warm_dir).count()
            except Exception:
                pass

    hw_before = _hw_ceiling_sec()

    # best of 3 per query (was 2; aligned with the KG section in round 3):
    # this host shows bursty interference (identical runs vary >2x), so a
    # single sample measures the VM's throttle state, not the engine.
    # The per-query spread (worst/best of the 3) is emitted so a reader can
    # see the interference level without rerunning.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in headline:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        spreads[name] = round(max(samples) / min(samples), 2)

    # flagship KG pipeline: pages -> extract_text -> fused mention+relation
    # triples (the BASELINE.json metric is triples/sec).  Best of 3 runs:
    # this sandbox host throttles sustained CPU (identical runs vary >2x after
    # the query block above), so a one-shot reading measures the VM's thermal
    # state, not the engine — same protocol as BENCH/BASELINE.md.
    pages = spark.read.parquet(pages_pq)
    kg_samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        n_triples = build_triples(pages, lexicon_rows(), from_html=True).count()
        kg_samples.append(time.perf_counter() - t0)
    kg_sec = min(kg_samples)
    timings["kg_pipeline_synthetic"] = round(kg_sec, 3)
    spreads["kg_pipeline_synthetic"] = round(max(kg_samples) / kg_sec, 2)

    # second ceiling sample AFTER the sustained load: throttling that ramps
    # DURING the run (the round-3 signature) shows up as after >> before
    hw_after = _hw_ceiling_sec()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_kg_pipeline_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_spread": spreads,
                "hw_ceiling_sec": {"before": hw_before, "after": hw_after},
                # machine-readable normalized series (VERDICT r4 what's-wrong
                # #3): compare BENCH_rN.json files by this ratio, never raw
                # wall — the denominator is the same-window pure-CPU burn, so
                # hypervisor throttling cancels out of the round-over-round
                # comparison
                "wall_over_ceiling": round(total / hw_before, 2),
                "queries_over_ceiling": {
                    k: round(v / hw_before, 2) for k, v in timings.items()
                },
                "sf": _sf_of(sf_dir),
                "kg_pages": BENCH_PAGES,
                "kg_triples": int(n_triples),
                "triples_per_sec": round(n_triples / kg_sec, 1),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
