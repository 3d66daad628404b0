"""Reference-parity golden tests (SURVEY.md §5.1).

Golden trace for the vendored sample (``REFERENCE_SAMPLE_CSV``, synthesized
to the reference's trace): 34 data rows -> 32 valid (drops the DEBIT at line
12 and the TRANSFER at line 26, both failing both balance clauses) -> 2 fraud
rows (lines 4-5, isFraud=1).
"""

from __future__ import annotations

import pytest

from fraud_detection_etl_project_spark.pipeline import (
    fraud_filter,
    fraud_pipeline,
    run_batch,
    valid_filter,
)
from fraud_detection_etl_project_spark.plans.relational_queries import REFERENCE_SAMPLE_CSV as SAMPLE
from fraud_detection_etl_project_spark.sources.csv import read_transactions


def test_golden_34_32_2(spark):
    txns = read_transactions(spark, SAMPLE)
    assert txns.count() == 34
    valid = valid_filter(txns)
    assert valid.count() == 32
    dropped = txns.subtract(valid).collect()
    assert sorted((r["type"], r["amount"]) for r in dropped) == [
        ("DEBIT", 9644.94), ("TRANSFER", 311685.89),
    ]
    fraud = fraud_filter(valid)
    rows = sorted(fraud.collect(), key=lambda r: r["step"])
    assert len(rows) == 2
    assert all(r["isFraud"] == 1 for r in rows)
    assert sorted(r["amount"] for r in rows) == [181.0, 181.0]
    assert {r["type"] for r in rows} == {"TRANSFER", "CASH_OUT"}


def test_pipeline_column_order(spark):
    out = fraud_pipeline(read_transactions(spark, SAMPLE))
    assert out.columns == [
        "step", "type", "amount", "nameOrig", "oldbalanceOrg",
        "newbalanceOrig", "nameDest", "oldbalanceDest", "newbalanceDest",
        "isFraud", "isFlaggedFraud",
    ]


def test_run_batch_report(spark):
    report = run_batch(spark, SAMPLE)
    assert (report.rows_fetched, report.rows_valid, report.rows_fraud) == (34, 32, 2)
    assert report.status == 200
    assert "2 fraud transactions loaded successfully" in report.message


def test_bround_half_even_boundary(spark):
    """A delta landing on x.xx5 must round half-even (pandas parity).

    oldbalanceOrg - newbalanceOrig = 100.125 -> bround(...,2) = 100.12,
    so amount=100.13 must NOT pass clause 1 (HALF_UP round would produce
    100.13 and wrongly keep it); second clause made false too.
    """
    df = spark.createDataFrame(
        [(1, "PAYMENT", 100.13, "C1", 200.125, 100.0, "M1", 0.0, 1e12, 1, 0)],
        schema=read_transactions(spark, SAMPLE).schema,
    )
    assert valid_filter(df).count() == 0


def test_failfast_aborts_on_bad_value(spark, tmp_path):
    p = tmp_path / "bad.csv"
    header = "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest,oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"
    p.write_text(header + "\n1,PAYMENT,notanumber,C1,1,1,M1,1,1,0,0\n")
    with pytest.raises(Exception):
        read_transactions(spark, str(p)).collect()
    # PERMISSIVE keeps the row with a null in the bad column
    rows = read_transactions(spark, str(p), mode="PERMISSIVE").collect()
    assert len(rows) == 1 and rows[0]["amount"] is None


def test_lowercase_header_accepted(spark, tmp_path):
    """The reference's code addresses all-lowercase balance columns
    (lambda_function_aws.py:44-45); files with such headers must work."""
    p = tmp_path / "lower.csv"
    header = "step,type,amount,nameorig,oldbalanceorg,newbalanceorig,namedest,oldbalancedest,newbalancedest,isfraud,isflaggedfraud"
    p.write_text(header + "\n1,TRANSFER,181.0,C1,181.0,0.0,C2,0.0,0.0,1,0\n")
    out = fraud_pipeline(read_transactions(spark, str(p)))
    assert out.count() == 1
