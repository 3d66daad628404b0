"""``sources.local.local_frame``: the one way the engine turns driver-side
Python values into a frame.

The helper must give the same frame as ``createDataFrame(list)`` (the
pickled path it replaced) for every column type the engine builds, and
the old path must not come back."""

from __future__ import annotations

import ast
import struct
from pathlib import Path

import pyarrow as pa
import pytest
from conftest import SF_SMALL
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.plans import REGISTRY
from fraud_detection_etl_project_spark.sources.local import local_frame

PKG = Path(__file__).resolve().parent.parent / "fraud_detection_etl_project_spark"

_SUBNORMAL = 5e-324
_DOUBLES = [
    None, float("nan"), 0.0, -0.0, float("inf"), float("-inf"),
    _SUBNORMAL, -_SUBNORMAL, 2.2250738585072014e-308, 1.5, -1e300,
]
COLUMNS = {
    "bigint": [None, 0, 1, -1, 2**63 - 1, -(2**63)],
    "int": [None, 0, 7, 2**31 - 1, -(2**31)],
    "double": _DOUBLES,
    "string": [None, "", "a", "ünïcödé", "x" * 1000],
    "boolean": [None, True, False],
    "array<double>": [None, [], _DOUBLES, [float("nan")]],
    "array<bigint>": [None, [], [1, None, 2**63 - 1, -(2**63)]],
}


def _bits(v):
    """A value with every float replaced by its IEEE bit pattern, so NaN,
    -0.0 and subnormals compare exactly."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return v


@pytest.mark.parametrize("ddl", list(COLUMNS))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_pickled_path(spark, ddl, empty):
    values = [] if empty else COLUMNS[ddl]
    rows = [(i, v) for i, v in enumerate(values)]
    schema = f"i int, v {ddl}"
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    both = got.alias("g").join(ref.alias("r"), F.col("g.i").eqNullSafe(F.col("r.i")), "full")
    assert both.count() == len(rows)
    assert both.filter(~F.col("g.v").eqNullSafe(F.col("r.v"))).count() == 0
    assert [_bits(tuple(r)) for r in got.orderBy("i").collect()] == [
        _bits(tuple(r)) for r in ref.orderBy("i").collect()
    ]


def test_local_frame_rejects_what_its_column_cannot_hold(spark):
    with pytest.raises((pa.ArrowInvalid, OverflowError)):
        local_frame(spark, [(2**31,)], "v int")
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError, TypeError)):
        local_frame(spark, [("x",)], "v double")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "v bigint")


def test_local_frame_accepts_integral_float_in_integer_column(spark):
    """The one leniency the docstring names: the pickled path's verifier
    rejects 3.0 for a bigint column, pyarrow stores 3."""
    assert local_frame(spark, [(3.0,)], "v bigint").collect()[0]["v"] == 3


def test_local_frame_is_a_local_relation(spark):
    plan = local_frame(spark, [(1, "a")], "k bigint, s string")._jdf.queryExecution()
    assert plan.optimizedPlan().toString().startswith("LocalRelation")


def test_no_module_but_local_calls_create_dataframe():
    """Driver-built frames have one path: no package module outside
    ``sources/local.py`` calls ``createDataFrame``."""
    callers = sorted(
        {
            p.relative_to(PKG).as_posix()
            for p in PKG.rglob("*.py")
            for n in ast.walk(ast.parse(p.read_text()))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
        }
    )
    assert callers == ["sources/local.py"]


def test_nation_trade_pagerank_plan_has_no_rdd_scan(spark):
    """The pagerank result is a LocalRelation the optimizer can size, not
    a pickled RDD scanned by Python workers."""
    df = REGISTRY["nation_trade_pagerank"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
