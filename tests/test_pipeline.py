"""End-to-end pipeline: P/R gate vs golden triples + resume semantics
(reference checkpoint behavior at src/extractor.py:46-74, :934-935)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontology_pipeline_spark.plans.pipeline import read_triples, run_pipeline
from ontology_pipeline_spark.synth import generate_corpus, pages_df


def _precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got or not want:
        return 0.0, 0.0
    tp = len(got & want)
    return tp / len(got), tp / len(want)


def test_end_to_end_pr_gate(spark, tmp_path):
    corpus = generate_corpus(n_pages=200, seed=7)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")

    summary = run_pipeline(spark, src, out)
    assert summary["new_pages"] == 200

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in read_triples(spark, out).select("subj", "pred", "obj").distinct().collect()
    }
    want = {(s, p, o) for s, p, o, _u in corpus.expected_triples}
    precision, recall = _precision_recall(got, want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # by construction the engine is exact on the synthetic corpus
    assert precision == 1.0 and recall == 1.0


def test_resume_recomputes_only_missing(spark, tmp_path):
    corpus = generate_corpus(n_pages=100, seed=11)
    half1 = [p for i, p in enumerate(corpus.pages) if i % 2 == 0]
    src_half = str(tmp_path / "pages_half")
    src_full = str(tmp_path / "pages_full")
    from ontology_pipeline_spark.schemas import PAGES

    spark.createDataFrame(half1, schema=PAGES).write.parquet(src_half)
    pages_df(spark, corpus).write.parquet(src_full)
    out = str(tmp_path / "kg")

    s1 = run_pipeline(spark, src_half, out)
    assert s1["new_pages"] == 50
    s2 = run_pipeline(spark, src_full, out)
    assert s2["new_pages"] == 50  # only the missing half recomputed

    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, out).collect()
    }
    assert got == set(corpus.expected_triples)

    # idempotent re-run: nothing new
    s3 = run_pipeline(spark, src_full, out)
    assert s3["new_pages"] == 0
    assert read_triples(spark, out).count() == len(set(corpus.expected_triples))


def test_orphan_run_invisible_and_recovered(spark, tmp_path):
    """Crash between the triples write and the lineage write (simulated by
    writing a triples run partition with no lineage rows): the orphan run is
    invisible to read_triples, the next resume run reprocesses its pages,
    and the committed view has no duplicate rows."""
    import shutil

    corpus = generate_corpus(n_pages=60, seed=19)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")

    # simulate the half-committed run: run fully, then delete its lineage
    run_pipeline(spark, src, out, run_id="run_crashed")
    before = read_triples(spark, out).count()
    assert before == len(set(corpus.expected_triples))
    shutil.rmtree(str(tmp_path / "kg" / "lineage"))

    # orphan partition exists on disk but is not part of the committed view
    assert read_triples(spark, out).count() == 0

    # resume reprocesses everything; committed view is exact, no duplicates
    s = run_pipeline(spark, src, out, run_id="run_recovery")
    assert s["new_pages"] == 60
    got = [
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, out).collect()
    ]
    assert sorted(got) == sorted(set(corpus.expected_triples))  # no dup rows


def test_partial_lineage_commit_no_duplicates(spark, tmp_path):
    """Crash mid-lineage-append (only half the urls' rows landed): the
    committed view shows exactly the landed urls' triples; resume reprocesses
    the rest under a new run and nothing is duplicated."""
    corpus = generate_corpus(n_pages=40, seed=29)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")
    lineage_dir = str(tmp_path / "kg" / "lineage")

    run_pipeline(spark, src, out, run_id="r1")
    lineage_df = spark.read.parquet(lineage_dir)
    schema = lineage_df.schema
    lineage = lineage_df.collect()
    kept_urls = sorted({r["url"] for r in lineage})[:20]
    kept = [r for r in lineage if r["url"] in set(kept_urls)]
    import shutil

    shutil.rmtree(lineage_dir)
    spark.createDataFrame(kept, schema=schema).write.parquet(lineage_dir)

    # committed view = only the landed urls' triples
    vis = {r["url"] for r in read_triples(spark, out).collect()}
    assert vis <= set(kept_urls)

    # resume reprocesses the other 20 urls; final view exact, no duplicates
    s = run_pipeline(spark, src, out, run_id="r2")
    assert s["new_pages"] == 20
    got = [
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, out).collect()
    ]
    assert sorted(got) == sorted(set(corpus.expected_triples))


def test_same_run_id_retry_no_duplicates(spark, tmp_path):
    """Regression: retrying a crashed run with the SAME run_id (lineage
    deleted to simulate the crash window) must not leave duplicate triples —
    the run's partitions are overwritten, not appended."""
    import shutil

    corpus = generate_corpus(n_pages=40, seed=23)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")

    run_pipeline(spark, src, out, run_id="nightly-1")
    shutil.rmtree(str(tmp_path / "kg" / "lineage"))  # crash before lineage
    run_pipeline(spark, src, out, run_id="nightly-1")  # orchestrator retry

    got = [
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, out).collect()
    ]
    assert sorted(got) == sorted(set(corpus.expected_triples))


def test_same_run_id_retry_after_partial_lineage(spark, tmp_path):
    """Regression (ADVICE r1, high): crash mid-lineage-append AND retry under
    the SAME run_id.  The resume anti-join must NOT treat the current run's
    partially-landed lineage urls as done — skipping them would make the
    dynamic (run_id, bucket) partition overwrite replace bucket partitions
    that still hold those urls' triples, losing them permanently while their
    lineage rows keep claiming them committed."""
    import shutil

    corpus = generate_corpus(n_pages=40, seed=31)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")
    lineage_dir = str(tmp_path / "kg" / "lineage")

    run_pipeline(spark, src, out, run_id="nightly-2")
    lineage_df = spark.read.parquet(lineage_dir)
    schema = lineage_df.schema
    lineage = lineage_df.collect()
    kept_urls = set(sorted({r["url"] for r in lineage})[:20])
    kept = [r for r in lineage if r["url"] in kept_urls]
    shutil.rmtree(lineage_dir)
    spark.createDataFrame(kept, schema=schema).write.parquet(lineage_dir)

    # orchestrator retry with the SAME run_id: must reprocess the WHOLE run
    s = run_pipeline(spark, src, out, run_id="nightly-2")
    assert s["new_pages"] == 40

    got = [
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, out).collect()
    ]
    assert sorted(got) == sorted(set(corpus.expected_triples))


def test_negative_pages_commit_lineage(spark, tmp_path):
    corpus = generate_corpus(n_pages=60, seed=3)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    out = str(tmp_path / "kg")
    run_pipeline(spark, src, out)
    lineage = spark.read.parquet(str(tmp_path / "kg" / "lineage"))
    assert lineage.select("url").distinct().count() == 60
    # non-English negatives committed with zero triples
    zero = lineage.filter(F.col("n_triples") == 0).count()
    assert zero >= 1


def test_pipeline_through_explicit_sink_and_iceberg_guard(spark, tmp_path):
    """The commit protocol runs entirely through the triple-sink seam: an
    explicitly constructed ParquetTripleSink behaves identically to the
    out_dir convenience path, and IcebergTripleSink fails fast with a
    descriptive error in a sandbox without the Iceberg runtime."""
    import pytest

    from ontology_pipeline_spark.sources.tables import (
        IcebergTripleSink,
        ParquetTripleSink,
    )

    corpus = generate_corpus(n_pages=30, seed=37)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    sink = ParquetTripleSink(str(tmp_path / "kg"))

    s = run_pipeline(spark, src, sink=sink)
    assert s["new_pages"] == 30
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, sink=sink).collect()
    }
    assert got == set(corpus.expected_triples)
    # resume goes through the sink too
    assert run_pipeline(spark, src, sink=sink)["new_pages"] == 0

    with pytest.raises(RuntimeError, match="iceberg"):
        IcebergTripleSink(spark, "cat.db.triples", "cat.db.lineage", "cat.db.metrics")


def test_commit_protocol_ordering_through_recording_sink(spark, tmp_path):
    """VERDICT r2 #7 (the Iceberg seam in CI shape): drive run_pipeline
    through a RECORDING sink that delegates to the parquet impl while
    logging every seam call.  Asserts the exact commit-protocol ordering an
    Iceberg deployment relies on — resume read first, triples land BEFORE
    the lineage rows that make them visible, metrics last — and that the
    frame crossing write_run_triples carries run_id but NO physical bucket
    column (layout is the sink's concern; the r2 leak regression).  Also
    pins the seam surface: the recorder covers exactly the methods
    IcebergTripleSink implements, so the cluster swap stays one constructor."""
    from ontology_pipeline_spark.sources.tables import (
        IcebergTripleSink,
        ParquetTripleSink,
    )

    class RecordingSink:
        def __init__(self, inner):
            self.inner = inner
            self.calls = []

        def read_done_urls(self, spark, exclude_run_id):
            self.calls.append(("read_done_urls", exclude_run_id))
            return self.inner.read_done_urls(spark, exclude_run_id)

        def write_run_triples(self, df):
            self.calls.append(("write_run_triples", tuple(df.columns)))
            self.inner.write_run_triples(df)

        def append_lineage(self, df):
            self.calls.append(("append_lineage", tuple(df.columns)))
            self.inner.append_lineage(df)

        def append_metrics(self, df):
            self.calls.append(("append_metrics", tuple(df.columns)))
            self.inner.append_metrics(df)

        def read_committed(self, spark):
            self.calls.append(("read_committed",))
            return self.inner.read_committed(spark)

    # seam surface parity: the recorder (== what the pipeline may call)
    # covers exactly IcebergTripleSink's public methods
    iceberg_surface = {
        m for m in vars(IcebergTripleSink) if not m.startswith("_")
    }
    recorder_surface = {m for m in vars(RecordingSink) if not m.startswith("_")}
    assert recorder_surface - {"calls"} >= iceberg_surface

    corpus = generate_corpus(n_pages=20, seed=41)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    sink = RecordingSink(ParquetTripleSink(str(tmp_path / "kg")))

    s = run_pipeline(spark, src, sink=sink, run_id="run_rec1")
    assert s["new_pages"] == 20
    names = [c[0] for c in sink.calls]
    assert names == [
        "read_done_urls",      # resume set first (excluding own run_id)
        "write_run_triples",   # phase 1: triples land under run_id
        "append_lineage",      # phase 2: lineage makes the run visible
        "append_metrics",      # run-level metrics alongside the commit
    ]
    assert sink.calls[0] == ("read_done_urls", "run_rec1")
    triple_cols = dict(sink.calls)["write_run_triples"]
    assert "run_id" in triple_cols and "bucket" not in triple_cols
    lineage_cols = dict(sink.calls)["append_lineage"]
    assert {"url", "run_id", "n_triples", "status", "committed_ts"} <= set(lineage_cols)

    # committed view + resume both flow through the seam
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in read_triples(spark, sink=sink).collect()
    }
    assert got == set(corpus.expected_triples)
    sink.calls.clear()
    assert run_pipeline(spark, src, sink=sink, run_id="run_rec2")["new_pages"] == 0
    assert [c[0] for c in sink.calls] == ["read_done_urls"]  # nothing written


def test_distributed_pages_deterministic_and_extractable(spark):
    """Executor-side corpus generation: schema matches PAGES, content is
    deterministic for a seed (partitioning-independent), and the fused
    extractor finds triples in it."""
    from ontology_pipeline_spark.lexicon import lexicon_rows
    from ontology_pipeline_spark.plans.pipeline import build_triples
    from ontology_pipeline_spark.synth import distributed_pages

    a = distributed_pages(spark, 300, seed=5, partitions=4)
    b = distributed_pages(spark, 300, seed=5, partitions=11)
    rows_a = sorted((r["url"], r["text"], r["lang"]) for r in a.collect())
    rows_b = sorted((r["url"], r["text"], r["lang"]) for r in b.collect())
    assert rows_a == rows_b and len(rows_a) == 300
    assert [f.name for f in a.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert build_triples(a, lexicon_rows(), from_html=True).count() > 0


def test_run_pipeline_job_count_pin(spark, tmp_path):
    """Job-count pin for one commit: the fused stage's output is pinned once,
    the triples write materializes the pin, the lineage write and the run
    total read its page rows, and the metrics row is built from literals.
    A warm run_pipeline into a fresh sink must not run more Spark jobs than
    measured after that change (8; it ran 13 while lineage re-read the
    written triples and joined them back to the pinned pages)."""
    corpus = generate_corpus(n_pages=60, seed=5)
    src = str(tmp_path / "pages")
    pages_df(spark, corpus).write.parquet(src)
    sc = spark.sparkContext
    jobs = []
    for attempt in ("warm-up", "measured"):
        group = f"pipeline-job-pin-{attempt}"
        sc.setJobGroup(group, group)
        try:
            assert run_pipeline(spark, src, str(tmp_path / attempt))["new_pages"] == 60
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] <= 8, jobs


def test_resume_commit_job_count_pin(spark, tmp_path):
    """Job-count pin for a resume commit (a sink already holding lineage for
    half the pages): new_pages is counted off the pinned stage output, so
    the anti-join against the committed urls runs once.  Measured at 13
    jobs; counting the anti-joined pages before the stage ran it twice (15),
    and pinning the anti-joined pages themselves ran 16."""
    corpus = generate_corpus(n_pages=60, seed=5)
    src_half = str(tmp_path / "pages_half")
    src_full = str(tmp_path / "pages_full")
    pages_df(spark, corpus).write.parquet(src_full)
    spark.read.parquet(src_full).orderBy("url").limit(30).write.parquet(src_half)
    sc = spark.sparkContext
    jobs = []
    for attempt in ("warm-up", "measured"):
        out = str(tmp_path / attempt)
        run_pipeline(spark, src_half, out)
        group = f"resume-job-pin-{attempt}"
        sc.setJobGroup(group, group)
        try:
            assert run_pipeline(spark, src_full, out)["new_pages"] == 30
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] <= 13, jobs


def test_lineage_counts_match_committed_triples(spark, tmp_path):
    """Lineage n_triples is each url's count of committed triples (0 for a
    page with none: empty, triple-free and non-English pages), on a first
    run and on a resumed run; the summary's new_triples is their sum."""
    from ontology_pipeline_spark.schemas import PAGES

    corpus = generate_corpus(n_pages=80, seed=13)
    blank = [
        ("neg://none", None, None, None, None),
        ("neg://plain", None, b"<p>Nothing to see here.</p>", "Nothing to see here.", "en"),
    ]
    half = [p for i, p in enumerate(corpus.pages) if i % 2 == 0] + blank[:1]
    src_half = str(tmp_path / "pages_half")
    src_full = str(tmp_path / "pages_full")
    spark.createDataFrame(half, schema=PAGES).write.parquet(src_half)
    spark.createDataFrame(corpus.pages + blank, schema=PAGES).write.parquet(src_full)
    out = str(tmp_path / "kg")

    committed_before = 0
    for src, urls in ((src_half, half), (src_full, corpus.pages + blank)):
        summary = run_pipeline(spark, src, out)
        committed = {
            r["url"]: r["count"] for r in read_triples(spark, out).groupBy("url").count().collect()
        }
        lineage = {
            r["url"]: r["n_triples"] for r in spark.read.parquet(f"{out}/lineage").collect()
        }
        assert set(lineage) == {p[0] for p in urls}
        assert lineage == {u: committed.get(u, 0) for u in lineage}
        assert lineage["neg://none"] == 0 and 0 in [lineage[p[0]] for p in corpus.pages if p[0] in lineage]
        assert summary["new_triples"] == sum(committed.values()) - committed_before
        committed_before = sum(committed.values())


def test_triples_files_keep_required_columns(spark, tmp_path):
    """The written triples keep TRIPLES' non-null columns as parquet
    `required` fields (a nullable projection costs definition levels), and
    lineage n_triples stays required too."""
    import glob

    import pyarrow.parquet as pq

    from ontology_pipeline_spark.schemas import TRIPLES

    src = str(tmp_path / "pages")
    pages_df(spark, generate_corpus(n_pages=40, seed=9)).write.parquet(src)
    out = tmp_path / "kg"
    run_pipeline(spark, src, str(out))
    files = glob.glob(str(out / "triples" / "**" / "*.parquet"), recursive=True)
    assert files
    for f in files:
        schema = pq.read_schema(f)
        assert schema.names == TRIPLES.fieldNames(), f
        assert not any(field.nullable for field in schema), (f, schema)
    for f in glob.glob(str(out / "lineage" / "**" / "*.parquet"), recursive=True):
        assert not pq.read_schema(f).field("n_triples").nullable, f
