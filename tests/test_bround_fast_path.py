"""Exactness of the validity filter's rounding fast path.

``pipeline._bround2`` must return the same value as ``F.bround(x, 2)`` on
every input: at binary-inexact x.xx5 ties, around the magnitude bound of
its fast path, on NaN, ±Inf, -0.0 and null, on doubles drawn by
hypothesis, and on both clause expressions of every row of a generated
1M-row PaySim file. Values are compared with ``eqNullSafe`` in Spark (NaN
equals NaN there) and, for the fixed set, bit for bit after collection.
"""

from __future__ import annotations

import math
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.pipeline import _bround2
from fraud_detection_etl_project_spark.sources.csv import read_transactions
from tools.gen_paysim import generate


def _near(x: float, steps: int) -> float:
    for _ in range(abs(steps)):
        x = math.nextafter(x, math.copysign(math.inf, steps))
    return x


_BOUND = 1e9
ADVERSARIAL = [
    2.675, 0.615, 1.005, -1.005, 100.125, 0.125, 123456.785, -2.675,
    0.0, -0.0, 0.005, -0.005, 0.004999999999999999, 5e-324, -5e-324, 1e-310,
    math.nan, math.inf, -math.inf, None,
    _BOUND, -_BOUND, _near(_BOUND, -1), _near(_BOUND, 1), -_near(_BOUND, -1),
    999999999.995, 999999999.985, 999999999.994, 1000000000.005, 1e15 + 0.125,
    92233720368547.75, 1.7976931348623157e308, -1.7976931348623157e308,
] + [_near(v, s) for v in (2.675, 0.615, 100.125, 123456.785, 0.125) for s in (-2, -1, 1, 2)]


def _fast(x: str):
    return F.expr(_bround2(f"({x})"))


def _mismatches(df) -> int:
    return df.filter(~_fast("x").eqNullSafe(F.bround("x", 2))).count()


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def test_adversarial_values_bit_identical(spark):
    df = spark.createDataFrame([(v,) for v in ADVERSARIAL], "x double")
    assert _mismatches(df) == 0
    rows = df.select(_fast("x").alias("fast"), F.bround("x", 2).alias("ref")).collect()
    assert [_bits(r["fast"]) for r in rows] == [_bits(r["ref"]) for r in rows]


# Decimal strings ending in 5 at the third place (ties for bround when the
# string is what Double.toString prints), their double neighbours, and
# arbitrary doubles; magnitudes straddle the fast path's 1e9 bound.
_ties = st.builds(
    lambda neg, cents, steps: _near(float(f"{'-' if neg else ''}{cents // 100}.{cents % 100:02d}5"), steps),
    st.booleans(),
    st.integers(0, 10**12),
    st.integers(-3, 3),
)
_doubles = st.one_of(_ties, st.floats(width=64), st.floats(-2e9, 2e9, width=64), st.none())


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_doubles, min_size=1, max_size=300))
def test_matches_bround_on_drawn_doubles(spark, xs):
    df = spark.createDataFrame([(v,) for v in xs], "x double")
    assert _mismatches(df) == 0


def test_matches_bround_on_paysim_clauses(spark, tmp_path):
    """Both validity clauses' rounded expressions, on every row."""
    path = generate(str(tmp_path / "paysim_1m.csv"), rows=1_000_000, seed=11)
    clauses = ("oldbalanceOrg - newbalanceOrig", "oldbalanceDest + amount")
    miss = [F.sum((~_fast(x).eqNullSafe(F.bround(F.expr(x), 2))).cast("int")) for x in clauses]
    row = read_transactions(spark, path).agg(F.count(F.lit(1)).alias("n"), *miss).first()
    assert tuple(row) == (1_000_000, 0, 0)
