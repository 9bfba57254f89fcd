"""Hypertable rollup: incremental chunk refresh equals full recompute."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ontology_pipeline_spark.plans.rollup import (
    read_rollup,
    refresh_rollup,
    rollup_events,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])


def _rows(day_events):
    out = []
    eid = 0
    for day, n in day_events:
        for i in range(n):
            out.append(
                (eid, dt.datetime(2024, 1, day, i % 24), ["click", "view"][i % 2], float(i))
            )
            eid += 1
    return out


def _sorted(df):
    return sorted(tuple(r) for r in df.select("chunk", "event_type", "n_events", "value_sum").collect())


def test_incremental_refresh_only_dirty_chunks(spark, tmp_path):
    out = str(tmp_path / "agg")
    batch1 = _rows([(1, 10), (2, 8), (3, 6)])
    e1 = _events(spark, batch1)
    s1 = refresh_rollup(spark, e1, out)
    assert s1 == {"chunks_total": 3, "chunks_refreshed": 3}
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(e1, "ts", "day"))

    # idempotent: nothing dirty on re-run with identical data
    s2 = refresh_rollup(spark, e1, out)
    assert s2 == {"chunks_total": 3, "chunks_refreshed": 0}

    # append late data into day 2 and new data in day 4: exactly 2 dirty
    batch2 = batch1 + [
        (99, dt.datetime(2024, 1, 2, 23), "click", 1.0),
        (100, dt.datetime(2024, 1, 4, 1), "view", 2.0),
    ]
    e2 = _events(spark, batch2)
    s3 = refresh_rollup(spark, e2, out)
    assert s3 == {"chunks_total": 4, "chunks_refreshed": 2}
    # the materialized rollup equals a full recompute over all data
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(e2, "ts", "day"))


def test_refresh_detects_count_preserving_edit_and_deleted_chunk(spark, tmp_path):
    """Regression: a value edit with unchanged row count must dirty the
    chunk (content fingerprint), and a chunk deleted from the source must
    disappear from the rollup (full-rebuild path)."""
    out = str(tmp_path / "agg")
    base = _rows([(1, 4), (2, 4)])
    refresh_rollup(spark, _events(spark, base), out)

    # same shape, one value changed in day 1
    edited = [
        (eid, ts, et, 99.0 if eid == 0 else v) for (eid, ts, et, v) in base
    ]
    s = refresh_rollup(spark, _events(spark, edited), out)
    assert s == {"chunks_total": 2, "chunks_refreshed": 1}
    e2 = _events(spark, edited)
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(e2, "ts", "day"))

    # drop day 2 entirely
    day1_only = [r for r in edited if r[1].day == 1]
    e3 = _events(spark, day1_only)
    s2 = refresh_rollup(spark, e3, out)
    assert s2["chunks_total"] == 1
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(e3, "ts", "day"))


def test_rollup_on_testdata_matches_direct_aggregate(spark, tmp_path):
    out = str(tmp_path / "agg")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = refresh_rollup(spark, events, out)
    assert s["chunks_refreshed"] == s["chunks_total"] > 0
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(events, "ts", "day"))


def test_refresh_finds_its_manifest_at_a_uri_path(spark, tmp_path):
    """The manifest probe goes through the Hadoop filesystem, so a sink
    addressed by URI is found on the second refresh (nothing dirty)."""
    out = "file://" + str(tmp_path / "agg")
    e = _events(spark, _rows([(1, 5), (2, 5), (3, 5)]))
    assert refresh_rollup(spark, e, out) == {"chunks_total": 3, "chunks_refreshed": 3}
    assert refresh_rollup(spark, e, out) == {"chunks_total": 3, "chunks_refreshed": 0}
    assert _sorted(read_rollup(spark, out)) == _sorted(rollup_events(e, "ts", "day"))
