"""session.local_frame: driver-built tables enter plans as in-JVM
LocalRelations with their declared schema and exact values, and no
module builds one through the Python-RDD createDataFrame path."""

from __future__ import annotations

import ast
import pathlib
import struct

from pyspark.sql import Row
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from prosearch_spark.query.block_engine import SEED_BLOCK_CAP
from prosearch_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "prosearch_spark"

# createDataFrame calls that are NOT list-built: the helper itself and
# assign_dense_ids' distributed zipWithIndex RDD
ALLOWED = {"session.py": 1, "index/ids.py": 1}


def _root_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "rank int, doc_id long, score double")
    assert df.collect() == []
    assert df.dtypes == [("rank", "int"), ("doc_id", "bigint"),
                         ("score", "double")]
    assert _root_node(df) == "LocalRelation"


def test_schema_is_the_ddl_exactly(spark):
    df = local_frame(spark, [(1, 2, 3.0, "t")],
                     "a int, b long, c double, d string")
    assert df.schema == StructType([
        StructField("a", IntegerType()), StructField("b", LongType()),
        StructField("c", DoubleType()), StructField("d", StringType()),
    ])
    assert _root_node(df) == "LocalRelation"


def test_structtype_schema_passes_through(spark):
    st = StructType([StructField("rank", IntegerType(), False),
                     StructField("doc_id", LongType())])
    df = local_frame(spark, [(1, 7)], st)
    assert df.schema == st
    assert [tuple(r) for r in df.collect()] == [(1, 7)]


def test_row_inputs_are_positional(spark):
    rows = local_frame(spark, [(1, 5, 0.5), (2, 9, 0.25)],
                       "rank int, doc_id long, score double").collect()
    df = local_frame(spark, rows, "rank int, doc_id long, score double")
    assert df.collect() == rows
    kw = local_frame(spark, [Row(query_id=3, orig=8)],
                     "query_id int, orig int")
    assert [tuple(r) for r in kw.collect()] == [(3, 8)]


def test_nulls_in_nullable_columns(spark):
    df = local_frame(spark, [(None, None, None, None), (1, 2, 0.5, "x")],
                     "a int, b long, c double, d string")
    assert [tuple(r) for r in df.collect()] == [
        (None, None, None, None), (1, 2, 0.5, "x")]
    # nulls never widen an int column to double (the pandas trap)
    assert df.dtypes[0] == ("a", "int")


def test_string_values_are_data_not_sql(spark):
    vals = ['it\'s', 'say "hi"', "back\\slash", "ünïcødé ✓ 検索",
            "x'); DROP TABLE t; --", ""]
    df = local_frame(spark, [(i, v) for i, v in enumerate(vals)],
                     "query_id int, term string")
    assert [r["term"] for r in df.orderBy("query_id").collect()] == vals


def test_longs_and_double_bits_survive(spark):
    big = (1 << 62) + 1  # above 2**53: a float64 detour would round it
    x = 0.1 + 0.2
    vals = [x, -0.0, 5e-324, 1.7976931348623157e308, 1 / 3]
    df = local_frame(spark, [(big + i, v) for i, v in enumerate(vals)],
                     "n long, v double")
    got = df.collect()
    assert [r["n"] for r in got] == [big + i for i in range(len(vals))]
    assert [struct.pack("<d", r["v"]) for r in got] == \
        [struct.pack("<d", v) for v in vals]


def test_seed_cap_ranges_frame_is_local_relation(spark):
    ranges = [(2 * i, 2 * i + 1) for i in range(SEED_BLOCK_CAP)]
    df = local_frame(spark, ranges, "rf long, rl long")
    assert _root_node(df) == "LocalRelation"
    assert df.count() == SEED_BLOCK_CAP
    assert df.agg({"rl": "max"}).collect()[0][0] == 2 * SEED_BLOCK_CAP - 1


def test_no_list_built_create_dataframe():
    """Every driver-built frame goes through local_frame: a list-built
    createDataFrame is a Python-RDD LogicalRDD that costs one
    Python-worker job per scan or broadcast."""
    seen: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                seen[rel] = seen.get(rel, 0) + 1
    assert seen == ALLOWED, seen
