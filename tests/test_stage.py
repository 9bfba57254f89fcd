"""map_rows: the one Arrow-batched Python stage every operator runs through."""

from __future__ import annotations

import pathlib
import uuid

from pyspark.sql.types import LongType, StringType, StructField, StructType

from ontology_pipeline_spark.operators.stage import map_rows

PKG = pathlib.Path(__file__).resolve().parents[1] / "ontology_pipeline_spark"


def test_make_row_fn_runs_once_per_partition(spark):
    def make_row_fn():
        token = uuid.uuid4().hex  # one per call of make_row_fn
        return lambda i: [(i, token)]

    out = map_rows(
        spark.range(0, 40, numPartitions=4), ["id"], "id long, token string", make_row_fn
    ).collect()
    assert sorted(r["id"] for r in out) == list(range(40))
    assert len({r["token"] for r in out}) == 4


def test_row_fn_yields_zero_one_or_several_rows(spark):
    def make_row_fn():
        return lambda i, s: [(i, f"{s}{k}") for k in range(i % 3)]

    df = spark.createDataFrame([(i, "r") for i in range(9)], "i long, s string")
    got = sorted(tuple(r) for r in map_rows(df, ["i", "s"], "i long, tag string", make_row_fn).collect())
    assert got == sorted((i, f"r{k}") for i in range(9) for k in range(i % 3))


def test_empty_input_and_empty_output_keep_the_schema(spark):
    schema = "x long, y string"
    empty_in = map_rows(spark.range(0), ["id"], schema, lambda: lambda i: [(i, "a")])
    assert empty_in.collect() == [] and empty_in.columns == ["x", "y"]
    # non-empty batches whose rows all map to nothing: each batch still
    # yields a frame carrying the schema's columns
    empty_out = map_rows(spark.range(0, 10, numPartitions=2), ["id"], schema, lambda: lambda i: [])
    assert empty_out.collect() == [] and empty_out.columns == ["x", "y"]


def test_ddl_string_and_struct_type_give_the_same_stage(spark):
    struct = StructType([StructField("n", LongType()), StructField("s", StringType())])
    df = spark.range(0, 12, numPartitions=3)

    def make_row_fn():
        return lambda i: [(i * 2, str(i))]

    by_ddl = map_rows(df, ["id"], "n long, s string", make_row_fn)
    by_struct = map_rows(df, ["id"], struct, make_row_fn)
    assert by_ddl.schema == by_struct.schema == struct
    assert sorted(by_ddl.collect()) == sorted(by_struct.collect())


def test_map_rows_is_the_only_mapinpandas_call():
    callers = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if ".mapInPandas(" in p.read_text(encoding="utf-8")
    )
    assert callers == ["operators/stage.py"]
