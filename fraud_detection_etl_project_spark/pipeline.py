"""The reference-parity fraud ETL dataflow, Spark-first.

Reference semantics (SURVEY.md §2.2; the two variants differ only at
some rounding ties, see below):

1. validity filter — keep a row when either balance-consistency clause holds:
   ``round(oldbalanceOrg - newbalanceOrig, 2) >= amount OR
   round(oldbalanceDest + amount, 2) >= newbalanceDest``
   (``/root/reference/Lambda Function/lambda_function_aws.py:43-46``; zip
   variant ``fraud_detection_ETL.zip!lambda_function_aws.py:56-62``);
2. fraud filter, cascaded on (1) — ``isFraud == 1 OR isFlaggedFraud == 1``
   (``lambda_function_aws.py:50-52``; zip ``:65-68``);
3. append survivors to the sink, all 11 columns, input order
   (``lambda_function_aws.py:89-99``).

Two semantic fine points carried over deliberately:

- **Half-even rounding.** pandas ``.round(2)`` (numpy: scale by 100, round
  half to even, scale back) is HALF_EVEN, and so is ``F.bround``, which
  rounds the decimal that Java's ``Double.toString`` prints; Spark's
  ``round`` is HALF_UP. Parity with the pandas variant requires
  ``F.bround`` — never ``F.round`` — in these predicates. CPython's
  ``round`` (the zip variant) is HALF_EVEN on the exact binary value
  instead, so at x.xx5 decimals that binary cannot hold it can differ:
  2.675, 0.615 and 123456.785 give 2.68, 0.62 and 123456.78 under pandas
  and ``bround`` but 2.67, 0.61 and 123456.79 under ``round``.
- **Null policy.** pandas ``NaN >= x`` is False (row dropped); Spark
  ``null >= x`` is null (row dropped by filter). Same outcomes.

Execution shape: the two cascaded filters are narrow — Catalyst's
CombineFilters collapses them into one WholeStageCodegen stage over the scan,
so the whole query runs shuffle-free at any scale (the key structural fact
about the reference query, SURVEY.md §3.4). Stage row-counts — the
reference's explicit observability surface (``lambda_function_aws.py:40,47,
53,100``) — are collected with ``observe()`` accumulators, not extra
``count()`` jobs, so observability costs zero additional passes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.schemas import TXN_COLUMNS
from fraud_detection_etl_project_spark.sources.csv import read_transactions

# -- predicates (Column expressions; reusable in batch, streaming, and SQL) --


def _bround2(x: str) -> str:
    """SQL text of ``bround(x, 2)`` with identical bits, without BigDecimal
    on most rows; ``x`` is a parenthesized double expression.

    ``bround`` on a double builds ``BigDecimal.valueOf(x)`` (one
    ``Double.toString``) and rounds it HALF_EVEN, per row. Away from a tie
    the nearest cent is the same whether taken of ``x`` or of that decimal:
    for ``|x| < 1e9`` the decimal is within half an ulp of ``x`` (< 6e-6
    cents) and ``x * 100`` rounds by < 8e-6 cents, far inside a 1e-3 cent
    band. So when ``x * 100`` is more than the band from a half-integer,
    ``k = floor(x * 100 + 0.5)`` is the integer ``bround`` rounds to, and
    ``k / 100`` is the correctly rounded double of k/100 that
    ``BigDecimal.doubleValue`` returns. Every other row (near a tie, large,
    NaN, ±Inf, null) takes ``bround`` itself; generated code evaluates only
    the ``CASE`` branch a row takes. Money with two decimals never enters
    the band.

    SQL text, not Column arithmetic: the optimized plan is the same, but
    building ``valid_predicate`` from PySpark Column operations took 31 ms
    of driver time per call (PySpark 4.1, 4 cores), one ``F.expr`` 0.3 ms."""
    k = f"floor({x} * 100D + 0.5D)"
    return f"CASE WHEN abs({x}) < 1e9 AND abs({x} * 100D - {k}) < 0.499D THEN {k} / 100D ELSE bround({x}, 2) END"


def valid_predicate():
    """Balance-consistency validity test (filter №1, P5)."""
    return F.expr(
        f"{_bround2('(oldbalanceOrg - newbalanceOrig)')} >= amount"
        f" OR {_bround2('(oldbalanceDest + amount)')} >= newbalanceDest"
    )


def fraud_predicate():
    """Fraud-flag test (filter №2, P6)."""
    return (F.col("isFraud") == 1) | (F.col("isFlaggedFraud") == 1)


def valid_filter(df: DataFrame) -> DataFrame:
    return df.filter(valid_predicate())


def fraud_filter(df: DataFrame) -> DataFrame:
    return df.filter(fraud_predicate())


# -- the pipeline ------------------------------------------------------------


@dataclass
class RunReport:
    """Mirror of the reference's staged counts + HTTP-ish status body
    (``lambda_function_aws.py:56-60,106-113``)."""

    rows_fetched: int
    rows_valid: int
    rows_fraud: int
    rows_written: int
    status: int
    message: str


def fraud_pipeline(df: DataFrame) -> DataFrame:
    """The core query: validity filter -> fraud filter -> 11-column project.

    The explicit ``select`` pins the sink column order to the reference's
    INSERT column list (``lambda_function_aws.py:90-97``).
    """
    return fraud_filter(valid_filter(df)).select(*TXN_COLUMNS)


def run_batch(
    spark: SparkSession,
    input_path: str,
    sink=None,
    mode: str = "FAILFAST",
) -> RunReport:
    """One file-batch run, equivalent to one Lambda invocation.

    ``sink`` is a callable ``DataFrame -> int`` (rows written); defaults to a
    dry run. Counts come from a single pass: ``observe`` metrics piggyback on
    whatever action the sink triggers (here a count), so the pipeline is read
    once — unlike the reference, which materializes each stage.
    """
    txns = read_transactions(spark, input_path, mode=mode)

    obs_in = Observation("rows_fetched")
    obs_valid = Observation("rows_valid")
    staged = (
        txns.observe(obs_in, F.count(F.lit(1)).alias("n"))
        .filter(valid_predicate())
        .observe(obs_valid, F.count(F.lit(1)).alias("n"))
        .filter(fraud_predicate())
        .select(*TXN_COLUMNS)
    )

    try:
        if sink is None:
            rows_fraud = staged.count()
            rows_written = 0
        else:
            rows_written = rows_fraud = sink(staged)
    except Exception as e:  # reference: catch-all -> 500 + str(e)
        return RunReport(0, 0, 0, 0, 500, str(e))

    fetched = int(obs_in.get["n"])
    valid = int(obs_valid.get["n"])
    if rows_fraud == 0:
        # early-exit branch, lambda_function_aws.py:55-60
        return RunReport(fetched, valid, 0, 0, 200, "No fraud transactions found.")
    return RunReport(
        fetched,
        valid,
        rows_fraud,
        rows_written,
        200,
        f"{rows_fraud} fraud transactions loaded successfully.",
    )
