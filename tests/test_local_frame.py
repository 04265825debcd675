"""schemas.local_frame: the one way the engine builds a DataFrame from
driver-side Python rows (an Arrow table, held by Spark as a JVM
LocalRelation, so no Python worker reads it)."""

import ast
import os

from pyspark.sql import types as T

from web_scraper_spark import schemas

PKG = os.path.dirname(os.path.abspath(schemas.__file__))


def test_create_dataframe_only_in_local_frame():
    """Every engine frame built from Python rows goes through local_frame:
    a createDataFrame on a Python list anywhere else would bring back a
    LogicalRDD scanned by Python-worker tasks."""
    hits = []
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    hits += [(os.path.relpath(path, PKG), no)
                             for no, line in enumerate(f, 1) if "createDataFrame(" in line]
    with open(schemas.__file__) as f:
        helper = next(n for n in ast.parse(f.read()).body
                      if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    assert hits and all(
        path == "schemas.py" and helper.lineno <= no <= helper.end_lineno for path, no in hits
    ), hits


def test_round_trip_is_exact(spark):
    schema = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("n", T.LongType(), True),
    ])
    rows = [(1, ["a", None, "b"], b"\x00\xff", 2**40), (2, None, None, None), (3, [], b"", -1)]
    df = schemas.local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.orderBy("id").collect()] == rows


def test_ddl_schema_and_empty_input(spark):
    ddl = "shard int, _paths array<string>"
    df = schemas.local_frame(spark, [], ddl)
    assert df.schema == T.StructType.fromDDL(ddl)
    assert df.collect() == []
    empty = schemas.local_frame(spark, iter([]), schemas.SEEN_SKETCH)
    assert empty.schema == schemas.SEEN_SKETCH and empty.count() == 0
