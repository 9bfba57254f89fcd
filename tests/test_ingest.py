"""Incremental ingest plan (plans/ingest.py): two-shard == one-batch
equivalence, crash-retry idempotency (mirrors the pipeline resume tests),
and state-geometry validation.

Reference anchor: resume/merge at /root/reference/src/extractor.py:46-104 —
"load existing results, process only new inputs, merge" — at shard
granularity over the curation chain instead of file granularity over
extraction.
"""

from __future__ import annotations

import hashlib
import shutil

import pytest
from pyspark.sql import functions as F

from ontology_pipeline_spark.operators.dedup import (
    exact_dedup_against,
    exact_fingerprints,
    minhash_dedup_clusters,
    minhash_hot_buckets,
    minhash_index,
    minhash_lsh_pairs,
    minhash_probe_near_dups,
)
from ontology_pipeline_spark.plans.curate import curate_documents, gate_documents
from ontology_pipeline_spark.plans.ingest import (
    ParquetStateStore,
    ingest_shard,
    read_curated,
)
from ontology_pipeline_spark.synth import generate_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    ).cache()


def _split_by_id(docs, cut):
    """Id-ordered shards: shard 1 holds the low ids, so the incremental
    first-shard-wins representative equals the batch min-id representative."""
    return docs.filter(F.col("doc_id") < cut), docs.filter(F.col("doc_id") >= cut)


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_two_shards_equal_one_batch(spark, docs, tmp_path):
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    s1, s2 = _split_by_id(docs, int(cut))
    state = str(tmp_path / "state")

    r1 = ingest_shard(spark, s1, state, "day_001")
    r2 = ingest_shard(spark, s2, state, "day_002")
    assert r1["new_docs"] > 0 and r2["new_docs"] > 0
    # counters in the summary match the lineage table
    lin = {
        r["shard_id"]: r["new_docs"]
        for r in ParquetStateStore(state).read_lineage(spark).collect()
    }
    assert lin == {"day_001": r1["new_docs"], "day_002": r2["new_docs"]}

    batch = curate_documents(docs)
    incr = read_curated(spark, state)
    assert _ids(incr) == _ids(batch)
    # full-row equality, not just ids: gates columns ride along identically
    assert sorted(map(tuple, incr.collect())) == sorted(map(tuple, batch.collect()))


def _salt(key):
    h = hashlib.md5(str(key).encode()).hexdigest()
    return [h[j : j + 4] for j in range(0, 32, 4)]


def _chain(i, text):
    """(H, X, Y) texts of one near-dup chain: H is the page plus a salt, X
    is H with its last 8 tokens replaced, Y is X with its first 8 tokens
    replaced.  H~X and X~Y share most shingles; H~Y shares fewer."""
    h = text.split() + _salt(i)
    x = h[:-8] + _salt(f"x{i}")
    y = _salt(f"y{i}") + x[8:]
    return " ".join(h), " ".join(x), " ".join(y)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_ingest_closes_chain_through_same_shard_doc(spark, tmp_path):
    """History holds H (id 1), the shard holds Y (id 10) and X (id 20), with
    H~X and X~Y near-dups and H~Y not.  Y reaches history only through X,
    a same-shard doc that is not its component's smallest id; the batch
    chain drops both (one component, kept by H) and so must ingest."""
    page = generate_corpus(40, seed=7).pages[3]
    h, x, y = _chain(3, page[3])
    docs = _docs(spark, [(1, page[0], h), (10, page[0], y), (20, page[0], x)])
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs).collect()}
    assert est[(1, 20)] >= 0.8 and est[(10, 20)] >= 0.8 and est.get((1, 10), 0.0) < 0.8, est

    state = str(tmp_path / "state")
    ingest_shard(spark, docs.filter(F.col("doc_id") < 10), state, "day_001", max_bucket_size=None)
    r = ingest_shard(
        spark, docs.filter(F.col("doc_id") >= 10), state, "day_002", max_bucket_size=None
    )
    assert _ids(read_curated(spark, state)) == _ids(curate_documents(docs)) == {1}
    counters = ("total_docs", "exact_survivors", "intra_survivors", "new_docs")
    assert tuple(r[k] for k in counters) == (2, 2, 1, 0)


def test_two_shards_equal_one_batch_with_chains(spark, tmp_path):
    """Two-shard == one-batch on a corpus seeded with near-dup chains:
    shard 1 holds every chain's H, shard 2 its Y (the lower id) and X plus
    fresh pages, so some Y reach history only through their X."""
    rows = []
    for i, p in enumerate(generate_corpus(40, seed=7).pages):
        h, x, y = _chain(i, p[3])
        rows += [(i, p[0], h), (1000 + i, p[0], y), (2000 + i, p[0], x)]
    for i, p in enumerate(generate_corpus(20, seed=8).pages):
        rows.append((3000 + i, p[0], " ".join(p[3].split() + _salt(3000 + i))))
    docs = _docs(spark, rows)
    state = str(tmp_path / "state")
    ingest_shard(spark, docs.filter(F.col("doc_id") < 1000), state, "day_001")
    r2 = ingest_shard(spark, docs.filter(F.col("doc_id") >= 1000), state, "day_002")
    assert r2["new_docs"] > 0

    batch = curate_documents(docs)
    incr = read_curated(spark, state)
    assert sorted(map(tuple, incr.collect())) == sorted(map(tuple, batch.collect()))


def test_shard_doc_reusing_indexed_id_is_dropped(spark, tmp_path):
    """A shard doc that reuses an indexed doc's id with near-dup text is
    dropped: its component is flagged through the probe's cross edges, not
    through which ids the index holds."""
    page = generate_corpus(40, seed=7).pages[3]
    h, x, _y = _chain(3, page[3])
    state = str(tmp_path / "state")
    ingest_shard(spark, _docs(spark, [(1, page[0], h)]), state, "day_001")
    r = ingest_shard(spark, _docs(spark, [(1, page[0], x)]), state, "day_002")
    assert r["new_docs"] == 0
    assert [row["text"] for row in read_curated(spark, state).collect()] == [h]


def test_crossshard_exact_and_near_dups_dropped(spark, docs, tmp_path):
    """Shard 2 re-sends byte-identical and lightly-perturbed copies of shard-1
    survivors: the exact copies die on the fingerprint anti-join, the
    perturbed ones on the MinHash probe — without re-reading shard-1 text."""
    state = str(tmp_path / "state")
    s1 = docs.filter(F.col("doc_id") < 500)
    ingest_shard(spark, s1, state, "day_001")
    surv1 = read_curated(spark, state)

    exact_copy = surv1.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    ).limit(8)
    # drop ONE 10+-char token from the tail: >= 0.8 estimated Jaccard on
    # 2-shingles of a ~100-token doc, caught by the banded probe
    near_copy = surv1.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "source",
        F.regexp_replace("text", r" \S{10,}\s*$", "").alias("text"),
    ).limit(8)
    s2 = exact_copy.unionByName(near_copy)
    r2 = ingest_shard(spark, s2, state, "day_002")
    surviving_new = _ids(read_curated(spark, state)) - _ids(surv1)
    # every exact copy is gone; near-copies die when banding catches them
    assert all(i < 200000 or i >= 300000 for i in surviving_new | {0})
    assert not any(100000 <= i < 200000 for i in surviving_new)
    assert r2["new_docs"] < 16  # at least the 8 exact copies dropped


def test_crashed_shard_invisible_then_recovered(spark, docs, tmp_path):
    """Crash between the state write and the lineage write (simulated by
    deleting the shard's lineage partition): the orphan shard is invisible to
    every committed view, the retry overwrites it cleanly, and the final
    state equals a never-crashed two-shard run."""
    state = str(tmp_path / "state")
    s1, s2 = _split_by_id(docs, 250)
    ingest_shard(spark, s1, state, "day_001")
    ingest_shard(spark, s2, state, "day_002")
    store = ParquetStateStore(state)
    committed_before = sorted(map(tuple, read_curated(spark, state).collect()))
    fps_before = store.read_fingerprints(spark).count()

    # simulate the crash window: day_002's state partitions exist, lineage not
    shutil.rmtree(f"{state}/lineage/shard_id=day_002")
    only1 = read_curated(spark, state)
    assert _ids(only1) and _ids(only1) == _ids(only1.filter(F.col("doc_id") < 250))
    assert store.read_fingerprints(spark).filter(
        F.col("shard_id") == "day_002"
    ).count() == 0  # orphan fingerprints invisible to the probe path too

    # retry under the SAME shard_id: reprocesses (not skipped), replaces
    r = ingest_shard(spark, s2, state, "day_002")
    assert r["new_docs"] > 0
    assert sorted(map(tuple, read_curated(spark, state).collect())) == committed_before
    assert store.read_fingerprints(spark).count() == fps_before

    # idempotent re-run of a committed shard: skipped, nothing changes
    r = ingest_shard(spark, s2, state, "day_002")
    assert r["new_docs"] == 0
    assert sorted(map(tuple, read_curated(spark, state).collect())) == committed_before


def test_geometry_mismatch_raises(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    ingest_shard(spark, docs.limit(50), state, "day_001", num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="geometry mismatch"):
        ingest_shard(spark, docs.limit(50), state, "day_002", num_hashes=32, bands=4)


def test_geometry_guard_checks_every_committed_row(spark, docs, tmp_path):
    """A lineage holding two geometries raises even for a call that matches
    its first row: the guard reads every committed geometry, not one
    arbitrary row."""
    state = str(tmp_path / "state")
    ingest_shard(spark, docs.limit(50), state, "day_001", num_hashes=32, bands=8)
    store = ParquetStateStore(state)
    foreign = (
        store.read_lineage(spark)
        .withColumn("shard_id", F.lit("day_002"))
        .withColumn("bands", F.lit(4))
        .localCheckpoint(eager=True)
    )
    store.append_lineage(foreign)
    first = store.read_lineage(spark).select("num_hashes", "bands", "shingle_n").first()
    with pytest.raises(ValueError, match="geometry mismatch"):
        ingest_shard(
            spark,
            docs.limit(50),
            state,
            "day_003",
            num_hashes=first["num_hashes"],
            bands=first["bands"],
            shingle_n=first["shingle_n"],
        )


def _rows(df):
    """Order- and column-order-insensitive content of a frame."""
    cols = sorted(df.columns)
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(cols).collect()
    )


def _public_chain(spark, shard, store, cap):
    """The curation `ingest_shard` commits, composed from the public
    operators against the committed state in `store`.  It drops intra-shard
    and cross-shard near-dups in two steps, which equals ingest's one-graph
    keep rule on shards (like `dup_shard`) with no chain that reaches
    history only through a same-shard near-dup."""
    seen = store.read_fingerprints(spark)
    if seen is None:
        seen = spark.createDataFrame([], "doc_id long, fp string")
    exact = exact_dedup_against(gate_documents(shard), seen).localCheckpoint(eager=True)
    clusters = minhash_dedup_clusters(exact, max_bucket_size=cap)
    intra = exact.join(
        clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id"),
        "doc_id",
        "left_anti",
    ).localCheckpoint(eager=True)
    survivors = intra
    index = store.read_index(spark)
    if index is not None:
        cross = minhash_probe_near_dups(intra, index.drop("shard_id"), max_bucket_size=cap)
        survivors = intra.join(
            cross.select(F.col("new_id").alias("doc_id")), "doc_id", "left_anti"
        )
    survivors = survivors.localCheckpoint(eager=True)
    return {
        "documents": _rows(survivors),
        "fingerprints": _rows(exact_fingerprints(survivors)),
        "index": _rows(minhash_index(survivors)),
        "counters": (shard.count(), exact.count(), intra.count(), survivors.count()),
    }


def _committed(spark, store, shard_id):
    def part(path):
        return spark.read.parquet(path).filter(F.col("shard_id") == shard_id).drop("shard_id")

    lin = part(store.lineage_path).first()
    return {
        "documents": _rows(part(store.documents_path)),
        "fingerprints": _rows(part(store.fingerprints_path)),
        "index": _rows(part(store.index_path)),
        "counters": (
            lin["total_docs"], lin["exact_survivors"], lin["intra_survivors"], lin["new_docs"]
        ),
    }


@pytest.mark.parametrize("cap", [16, None])
def test_ingest_shard_equals_public_operator_chain(spark, dup_shard, tmp_path, cap):
    """ingest_shard stages each shard once (gates, fingerprint and signature
    in one pinned pass); its committed documents, fingerprints, index rows
    and lineage counters must equal the chain composed from the public
    text-level operators, for the first shard (no index yet) and for a
    second one that exercises every drop path, with and without the
    hot-bucket cap."""
    history, shard = dup_shard
    store = ParquetStateStore(str(tmp_path / "state"))
    for shard_id, df in (("hist", history), ("day", shard)):
        want = _public_chain(spark, df, store, cap)
        ingest_shard(spark, df, shard_id=shard_id, store=store, max_bucket_size=cap)
        assert _committed(spark, store, shard_id) == want, shard_id

    # the second shard drops on every path
    total, n_exact, n_intra, n_new = want["counters"]
    assert total > n_exact > n_intra > n_new > 0
    kept = {r[0] for r in want["fingerprints"]}  # (doc_id, fp) rows
    ids = {r["doc_id"] for r in shard.select("doc_id").collect()}

    def injected(lo):
        return {i for i in ids if lo <= i < lo + 100_000}

    # every injected doc passes the gates, so only dedup can drop it
    gated = {r["doc_id"] for r in gate_documents(shard).select("doc_id").collect()}
    assert {i for i in ids if i >= 100_000} <= gated
    assert not injected(100_000) & kept  # every exact copy of history
    assert injected(200_000) - kept  # near copies of history (probe)
    assert injected(300_000) - kept  # near copies within the shard
    if cap is None:
        assert injected(400_000) - kept  # the boilerplate family collapses
    else:
        # the family overflows the cap in every band, so it loses its edges
        hot = minhash_hot_buckets(gate_documents(shard), min_size=cap + 1)
        assert hot.count() > 0 and injected(400_000) <= kept
