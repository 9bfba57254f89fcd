from __future__ import annotations

import tempfile

import pytest

from ontology_pipeline_spark.session import get_spark
from ontology_pipeline_spark.synth import generate_corpus


@pytest.fixture(scope="session")
def spark():
    # warehouse in a temp dir: the bucketed-table tests use saveAsTable,
    # which would otherwise create ./spark-warehouse inside the repo
    import shutil

    wh = tempfile.mkdtemp(prefix="spark-warehouse-")
    s = get_spark(
        master="local[4]",
        app_name="ops-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(n_pages=120, seed=42)


@pytest.fixture(scope="session")
def pages(spark, corpus):
    from ontology_pipeline_spark.synth import pages_df

    return pages_df(spark, corpus).cache()


@pytest.fixture(scope="session")
def dup_shard(spark):
    """(history, shard) frames for the incremental-ingest tests, built from
    seeded synthetic pages.  Next to fresh docs the shard holds exact and
    near copies of history docs, near copies of its own docs, and a
    40-member boilerplate family (one page, varied by one trailing token)
    whose band buckets overflow a cap of 16."""
    import hashlib

    from pyspark.sql import functions as F

    from ontology_pipeline_spark.plans.curate import gate_documents

    def salt(i):
        # unique tokens per doc keep same-template pages apart, so the
        # near-dups are the injected ones
        h = hashlib.md5(str(i).encode()).hexdigest()
        return " ".join(h[j : j + 4] for j in range(0, 32, 4))

    pages = generate_corpus(n_pages=500, seed=7).pages
    docs = spark.createDataFrame(
        [(i, p[0], f"{p[3]} {salt(i)}") for i, p in enumerate(pages)],
        "doc_id long, source string, text string",
    )
    history = docs.filter(F.col("doc_id") < 250)
    fresh = docs.filter(F.col("doc_id") >= 250)
    # drop the last (salt) token: one shingle of ~100 differs, so the copy
    # stays far above the 0.8 estimated-Jaccard threshold
    tail = F.regexp_replace("text", r" \S+$", "")

    def copies(df, offset, text):
        # copies of docs that pass the default gates, so only dedup drops them
        return (
            gate_documents(df)
            .orderBy("doc_id")
            .limit(8)
            .select((F.col("doc_id") + offset).alias("doc_id"), "source", text.alias("text"))
        )

    template = gate_documents(fresh).orderBy("doc_id").first()
    family = spark.range(40).select(
        (F.col("id") + 400_000).alias("doc_id"),
        F.lit(template["source"]).alias("source"),
        F.concat(F.lit(template["text"] + " ref"), F.col("id").cast("string")).alias("text"),
    )
    shard = (
        fresh.unionByName(copies(history, 100_000, F.col("text")))
        .unionByName(copies(history, 200_000, tail))
        .unionByName(copies(fresh, 300_000, tail))
        .unionByName(family)
    )
    return history.localCheckpoint(eager=True), shard.localCheckpoint(eager=True)
