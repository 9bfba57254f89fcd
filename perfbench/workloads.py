"""The benchmark's workloads.  Each is closed loop: one client, one operation
at a time.  Inputs come from `synth` with the benchmark's seed; every
operation starts from freshly copied state and is checked afterwards.

An operation returns an `OpResult`: the commit step's wall time and input
docs, the read mix's median wall time over its repeats and query count, the bytes the commit added
on disk, and the list of failed output checks (empty when correct).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ontology_pipeline_spark.lexicon import lexicon_rows
from ontology_pipeline_spark.operators.extract_text import extract_text_bytes
from ontology_pipeline_spark.operators.graph import degrees, ego_edges, nodes
# scan_text takes the compiled lexicon matcher, which only _compile makes
from ontology_pipeline_spark.operators.mentions import _compile, scan_text
from ontology_pipeline_spark.plans.curate import gate_documents
from ontology_pipeline_spark.operators.dedup import (
    exact_dedup_against,
    minhash_dedup_clusters,
    minhash_hot_buckets,
    minhash_index,
    minhash_probe_near_dups,
)
from ontology_pipeline_spark.plans.ingest import ParquetStateStore, ingest_shard, read_curated
from ontology_pipeline_spark.plans.pipeline import (
    build_triples,
    corpus_triples,
    read_triples,
    run_pipeline,
)
from ontology_pipeline_spark.schemas import PAGES
from ontology_pipeline_spark.synth import generate_corpus


@dataclass
class OpResult:
    docs: int
    commit_s: float
    n_queries: int
    query_s: float
    stored_bytes: int
    files_written: int
    errors: list[str] = field(default_factory=list)
    start: float = 0.0  # perf_counter at the commit's start
    end: float = 0.0  # perf_counter at the read mix's end
    worker_cpu_s: float = 0.0


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under `root`."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def write_parquet(path: str, pdf: pd.DataFrame, n_files: int = 12) -> None:
    """Write an input table as `n_files` parquet files without a Spark job,
    so the session's first job is the workload's own."""
    os.makedirs(path)
    for k in range(n_files):
        part = pa.Table.from_pandas(pdf.iloc[k::n_files], preserve_index=False)
        pq.write_table(
            part, os.path.join(path, f"part-{k:05d}.parquet"), coerce_timestamps="us"
        )


def _expect(errors: list[str], what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got!r}, expected {want!r}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    warmups = 0

    def __init__(self, spark, work: str, seed: int, scale: float, check_offset: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.check_offset = check_offset

    def op_dir(self, i: int) -> str:
        path = os.path.join(self.work, "ops", f"op{i:03d}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def drop_op(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, "ops", f"op{i:03d}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# kg_build: run_pipeline into an empty sink, then the analytics read mix
# ---------------------------------------------------------------------------


class PageSet:
    """Seeded HTML pages written as parquet, with the answers every check
    compares against, derived from the generator's own ground truth."""

    def __init__(self, path: str, n_pages: int, seed: int):
        self.path = path
        self.n_pages = n_pages
        self.corpus = generate_corpus(n_pages, seed=seed)
        write_parquet(path, pd.DataFrame(self.corpus.pages, columns=PAGES.fieldNames()))

        rows = set(self.corpus.expected_triples)
        self.want_committed = len(rows)
        self.want_distinct = len({(s, p, o) for s, p, o, _u in rows})
        edges = {(s, o) for s, _p, o, _u in rows}
        deg = Counter()
        for s, o in edges:
            deg[s] += 1
            deg[o] += 1
        self.want_top = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        top = self.want_top[0][0]
        seen = {top} | {o for s, o in edges if s == top} | {s for s, o in edges if o == top}
        self.want_ego = sum(1 for s, _p, o, _u in rows if s in seen and o in seen)
        klass: dict[str, set[str]] = {}
        for _url, canonical, entity_class in self.corpus.expected_mentions:
            klass.setdefault(canonical, set()).add(entity_class)
        typed = {(name, c) for s, _p, o, _u in rows for name in (s, o) for c in klass.get(name, ())}
        self.want_types = dict(Counter(c for _n, c in typed))


class KgBuild(Workload):
    """One operation commits N seeded HTML pages into an empty triple sink
    (triples, lineage and metrics rows), then runs the reference's analytics
    mix over the committed view: committed count, `corpus_triples`, top-20
    by `degrees`, the 1-hop `ego_edges` of the top entity and `nodes` per
    type."""

    name = "kg_build"
    warmups = 1
    pages = 12_000
    warm_pages = 1_000
    sample_pages = 300
    mix_reps = 2

    def setup(self) -> None:
        self.main = PageSet(
            os.path.join(self.work, "pages"), max(50, int(self.pages * self.scale)), self.seed
        )
        self.small = PageSet(
            os.path.join(self.work, "warm_pages"),
            max(50, int(self.warm_pages * self.scale)),
            self.seed + 1_000_003,
        )

    def run_op(self, i: int, tracer, warm: bool = False) -> OpResult:
        spark = self.spark
        # the cold first operation runs on a small page set
        data = self.small if warm else self.main
        root = self.op_dir(i)
        sink = tracer.sink(root)
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_pipeline"):
            summary = run_pipeline(spark, data.path, sink=sink, run_id=f"run_{i:04d}")
        t1 = time.perf_counter()
        errors: list[str] = []
        mix_s = []
        # a warm-up reads once: enough to compile the mix's plans
        for _ in range(1 if warm else self.mix_reps):
            t2 = time.perf_counter()
            self._read_mix(sink, tracer, data, errors)
            mix_s.append(time.perf_counter() - t2)
        _expect(errors, "new_pages", summary["new_pages"], data.n_pages)
        lineage_rows = spark.read.parquet(sink.lineage_path).count()
        _expect(errors, "lineage rows", lineage_rows, summary["new_pages"])
        size, files = dir_stats(root)
        self.last_sink = sink
        return OpResult(
            data.n_pages, t1 - t0, 5, statistics.median(mix_s), size, files, errors, t0, t2 + mix_s[-1]
        )

    def _read_mix(self, sink, tracer, data: PageSet, errors: list[str]) -> None:
        spark = self.spark
        with tracer.span("tables.read_committed"):
            committed = read_triples(spark, sink=sink).count()
        with tracer.span("relations.distinct_triples"):
            distinct = corpus_triples(spark, sink=sink).count()
        with tracer.span("graph.top_degree"):
            top = (
                degrees(read_triples(spark, sink=sink))
                .orderBy(F.desc("degree"), "name")
                .limit(20)
                .collect()
            )
        with tracer.span("graph.ego_1hop"):
            ego = ego_edges(read_triples(spark, sink=sink), top[0]["name"], hops=1).count()
        with tracer.span("graph.node_types"):
            types = nodes(read_triples(spark, sink=sink)).groupBy("node_type").count().collect()
        _expect(errors, "committed triples", committed, data.want_committed + self.check_offset)
        _expect(errors, "distinct triples", distinct, data.want_distinct)
        _expect(errors, "top-20 degrees", [(r["name"], r["degree"]) for r in top], data.want_top)
        _expect(errors, "1-hop ego edges", ego, data.want_ego)
        _expect(errors, "nodes per type", {r["node_type"]: r["count"] for r in types}, data.want_types)

    def layer_probes(self, tracer) -> dict[str, float]:
        """Isolated layer measurements, run after the timed loop."""
        spark = self.spark
        out: dict[str, float] = {}

        # pure-Python layers, single thread, on a fixed seeded page sample
        sample = self.main.corpus.pages[: self.sample_pages]
        pattern, lookup = _compile(tuple(tuple(r) for r in lexicon_rows()))
        ext, scan = [], []
        n_mentions = 0
        for _ in range(5):
            a = time.perf_counter()
            texts = [extract_text_bytes(p[2]) for p in sample]
            b = time.perf_counter()
            n_mentions = sum(len(scan_text(p[0], t, pattern, lookup)) for p, t in zip(sample, texts))
            c = time.perf_counter()
            ext.append(b - a)
            scan.append(c - b)
        ext.sort()
        scan.sort()
        out["extract_text.us_per_page"] = ext[2] / len(sample) * 1e6
        out["mentions.us_per_page"] = scan[2] / len(sample) * 1e6
        out["mentions.per_page"] = n_mentions / len(sample)

        # the fused Python stage inside Spark, with and without HTML parsing
        pages = spark.read.parquet(self.main.path)
        with tracer.span("relations.fused_stage"):
            _noop(build_triples(pages, from_html=True))
        with tracer.span("relations.fused_text_stage"):
            _noop(build_triples(pages, from_html=False))
        out["relations.triples_per_page"] = self.main.want_committed / self.main.n_pages

        # resume anti-join of the same pages against the committed lineage
        sink = self.last_sink
        with tracer.span("pipeline.resume_antijoin"):
            left = pages.join(sink.read_done_urls(spark, "none"), "url", "left_anti").count()
        out["pipeline.resume_skip_ratio"] = 1.0 - left / self.main.n_pages
        out["tables.files_scanned"] = float(len(read_triples(spark, sink=sink).inputFiles()))
        return out


# ---------------------------------------------------------------------------
# shard_ingest: ingest_shard of one shard against persisted history state
# ---------------------------------------------------------------------------

FRESH_ID = 10_000_000
EXACT_ID = 20_000_000
NEAR_ID = 30_000_000
INTRA_ID = 40_000_000
FAMILY_ID = 50_000_000


class ShardIngest(Workload):
    """One operation curates a shard against persisted state built from a
    history over 3x its size: gates, exact anti-join, intra-shard LSH clusters,
    cross-shard probe, then the state write.  The shard holds fresh docs,
    exact and near duplicates of the history, intra-shard near-dup pairs and
    a boilerplate family big enough to overflow the hot-bucket cap.  The
    read mix then counts the committed documents and fingerprints."""

    name = "shard_ingest"
    warmups = 0
    history = 4_500
    fresh = 1_200
    family = 160
    max_bucket_size = 64
    mix_reps = 3

    def _salt(self, doc_id: int) -> str:
        # per-doc unique tokens keep same-template docs below the banding
        # floor, so candidates come from the injected duplicates
        h = "".join(
            hashlib.md5(f"{self.seed}:{doc_id}:{k}".encode()).hexdigest() for k in "abc"
        )
        return " ".join(h[j : j + 4] for j in range(0, len(h), 4))

    def setup(self) -> None:
        spark = self.spark
        n_hist = max(60, int(self.history * self.scale))
        n_fresh = max(20, int(self.fresh * self.scale))
        n_family = self.family if self.scale >= 1 else self.max_bucket_size + 8
        rng = random.Random(self.seed)
        hist_pages = generate_corpus(n_hist, seed=self.seed).pages
        hist = [(i, p[3] + " " + self._salt(i)) for i, p in enumerate(hist_pages)]
        fresh_pages = generate_corpus(n_fresh, seed=self.seed + 1_000_003).pages
        fresh = [
            (FRESH_ID + i, p[3] + " " + self._salt(FRESH_ID + i))
            for i, p in enumerate(fresh_pages)
        ]
        exact = [
            (EXACT_ID + j, hist[i][1])
            for j, i in enumerate(rng.sample(range(n_hist), n_fresh // 20))
        ]
        near = [
            (NEAR_ID + j, hist[i][1] + " probefootertoken")
            for j, i in enumerate(rng.sample(range(n_hist), n_fresh // 33))
        ]
        intra = [
            (INTRA_ID + j, fresh[i][1] + " intrafootertoken")
            for j, i in enumerate(rng.sample(range(n_fresh), n_fresh // 33))
        ]
        # boilerplate family: one template page without the salt, varied by
        # a single token per member
        body = fresh_pages[0][3] if fresh_pages[0][4] == "en" else fresh_pages[1][3]
        family = [(FAMILY_ID + k, f"{body} ref{k}") for k in range(n_family)]
        shard = fresh + exact + near + intra + family
        rng.shuffle(shard)
        self.exact_ids = {d for d, _t in exact}
        self.n_shard = len(shard)

        self.hist_path = os.path.join(self.work, "history")
        self.shard_path = os.path.join(self.work, "shard")
        write_parquet(self.hist_path, pd.DataFrame(hist, columns=["doc_id", "text"]))
        write_parquet(self.shard_path, pd.DataFrame(shard, columns=["doc_id", "text"]))
        # the persisted state every operation starts from: the history
        # ingested as the first shard (this is also the cold first run).
        # Against empty state the cross-shard probe is skipped, so it is
        # warmed separately: a slice of the history probes the new index
        self.base = os.path.join(self.work, "base_state")
        hist_df = spark.read.parquet(self.hist_path)
        base = ingest_shard(
            spark, hist_df, state_dir=self.base, shard_id="history",
            max_bucket_size=self.max_bucket_size,
        )
        self.base_docs = base["new_docs"]
        index = ParquetStateStore(self.base).read_index(spark).drop("shard_id")
        _noop(minhash_probe_near_dups(
            hist_df.filter(F.col("doc_id") < 300), index, "text", "doc_id",
            max_bucket_size=self.max_bucket_size,
        ))
        self.base_bytes, _ = dir_stats(self.base)

    def run_op(self, i: int, tracer, warm: bool = False) -> OpResult:
        spark = self.spark
        root = self.op_dir(i)
        shutil.copytree(self.base, root)
        store = tracer.store(root)
        shard = spark.read.parquet(self.shard_path)
        t0 = time.perf_counter()
        with tracer.span("ingest.ingest_shard"):
            summary = ingest_shard(
                spark, shard, store=store, shard_id="day", max_bucket_size=self.max_bucket_size
            )
        t1 = time.perf_counter()
        errors: list[str] = []
        new = summary.get("new_docs")
        _expect(errors, "total_docs", summary.get("total_docs"), self.n_shard)
        counters = [summary.get(k) for k in ("total_docs", "exact_survivors", "intra_survivors", "new_docs")]
        if None in counters or counters != sorted(counters, reverse=True):
            errors.append(f"counters not total >= exact >= intra >= new: {counters}")
        mix_s = []
        for _ in range(self.mix_reps):
            t2 = time.perf_counter()
            with tracer.span("ingest.read_curated"):
                curated = read_curated(spark, store=store).count()
            with tracer.span("ingest.read_shard_docs"):
                ids = {
                    r[0]
                    for r in read_curated(spark, store=store)
                    .filter(F.col("doc_id") >= FRESH_ID)
                    .select("doc_id")
                    .collect()
                }
            with tracer.span("ingest.read_fingerprints"):
                fps = store.read_fingerprints(spark).count()
            mix_s.append(time.perf_counter() - t2)
            _expect(errors, "committed shard docs", len(ids), new)
            _expect(errors, "committed documents", curated, self.base_docs + new + self.check_offset)
            _expect(errors, "committed fingerprints", fps, self.base_docs + new)
            kept = sorted(ids & self.exact_ids)
            if kept:
                errors.append(f"{len(kept)} injected exact duplicates committed, e.g. {kept[:3]}")
        size, files = dir_stats(root)
        return OpResult(
            self.n_shard, t1 - t0, 3, statistics.median(mix_s), size - self.base_bytes, files,
            errors, t0, t2 + mix_s[-1],
        )

    def layer_probes(self, tracer) -> dict[str, float]:
        """Each curation phase in isolation, on an input pinned beforehand
        (an unpinned phase would re-run its upstream gate inside its span)."""
        spark = self.spark
        geo = dict(num_hashes=32, bands=8, shingle_n=2)
        cap = self.max_bucket_size
        base = tracer.store(self.base)
        out: dict[str, float] = {}

        shard = spark.read.parquet(self.shard_path).localCheckpoint(eager=True)
        with tracer.span("curate.gate"):
            _noop(gate_documents(shard, "text"))
        gated = gate_documents(shard, "text").localCheckpoint(eager=True)
        n_gated = gated.count()
        out["curate.gate_pass_ratio"] = n_gated / self.n_shard

        seen = base.read_fingerprints(spark).localCheckpoint(eager=True)
        seen.count()
        with tracer.span("dedup.exact"):
            exact = exact_dedup_against(gated, seen, "text", "doc_id").localCheckpoint(eager=True)
        n_exact = exact.count()
        out["dedup.exact_drop_ratio"] = 1.0 - n_exact / n_gated

        with tracer.span("dedup.intra_clusters"):
            clusters = minhash_dedup_clusters(
                exact, "text", "doc_id", threshold=0.8, max_bucket_size=cap, **geo
            ).localCheckpoint(eager=True)
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        out["dedup.intra_dups"] = float(drop.count())
        hot_intra = minhash_hot_buckets(exact, "text", "doc_id", min_size=cap + 1, **geo).count()
        intra = exact.join(drop, "doc_id", "left_anti").localCheckpoint(eager=True)
        intra.count()

        index = base.read_index(spark).drop("shard_id").localCheckpoint(eager=True)
        index.count()
        with tracer.span("dedup.probe"):
            pairs = minhash_probe_near_dups(
                intra, index, "text", "doc_id", threshold=0.8, max_bucket_size=cap, **geo
            ).localCheckpoint(eager=True)
        n_useful = pairs.count()
        n_cand = minhash_probe_near_dups(
            intra, index, "text", "doc_id", threshold=0.0, max_bucket_size=cap, **geo
        ).count()
        out["dedup.probe_candidate_pairs"] = float(n_cand)
        out["dedup.probe_useful_ratio"] = n_useful / n_cand if n_cand else 0.0
        hot_probe = (
            minhash_index(intra, "text", "doc_id", **geo)
            .select("band", "bucket")
            .unionByName(index.select("band", "bucket"))
            .groupBy("band", "bucket")
            .count()
            .filter(F.col("count") > cap)
            .count()
        )
        out["dedup.hot_buckets_pruned"] = float(hot_intra + hot_probe)

        survivors = intra.join(
            pairs.select(F.col("new_id").alias("doc_id")).distinct(), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        survivors.count()
        with tracer.span("dedup.index_build"):
            _noop(minhash_index(survivors, "text", "doc_id", **geo))
        return out


WORKLOADS = {w.name: w for w in (KgBuild, ShardIngest)}
