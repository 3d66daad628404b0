"""JSON source: schema-on-read, PERMISSIVE corrupt-record capture, FAILFAST."""

from __future__ import annotations

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from fraud_detection_etl_project_spark.sources.json import read_json

SCHEMA = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


@pytest.fixture
def jsonl_dir(tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"id": 1, "name": "alpha"}\n'
        '{"id": 2, "name": "beta"}\n'
        "{not json at all\n"
        '{"id": "NaNaNaN", "name": "gamma"}\n'
    )
    return str(p)


def test_permissive_keeps_corrupt_records(spark, jsonl_dir):
    df = read_json(spark, jsonl_dir, schema=SCHEMA)
    rows = {tuple(r) for r in df.collect()}
    assert (1, "alpha", None) in rows and (2, "beta", None) in rows
    corrupt = [r for r in rows if r[2] is not None]
    assert len(corrupt) == 2  # the broken line and the uncastable id
    # Spark disallows querying only _corrupt_record from raw files; derive
    # the clean-row count from the materialized rows instead.
    assert sum(1 for r in rows if r[2] is None) == 2


def test_failfast_aborts_on_bad_record(spark, jsonl_dir):
    df = read_json(spark, jsonl_dir, schema=SCHEMA, mode="FAILFAST", keep_corrupt=False)
    with pytest.raises(Exception):
        df.collect()


def test_inferred_schema_clean_input(spark, tmp_path):
    p = tmp_path / "clean"
    p.mkdir()
    (p / "b.jsonl").write_text('{"k": 1}\n{"k": 2}\n')
    df = read_json(spark, str(p))
    assert sorted(r.k for r in df.collect()) == [1, 2]


def test_python_datasource_partition_planning(spark):
    """The custom Python DataSource plans real partitions: 'parts' range
    splits, all rows exactly once, deterministic across reads."""
    from fraud_detection_etl_project_spark.sources.partfiles import register
    from fraud_detection_etl_project_spark.sources.pydatasource import SyntheticRowsDataSource

    register(spark, SyntheticRowsDataSource)
    df = spark.read.format("syntheticrows").option("n", 100).option("parts", 5).load()
    assert df.rdd.getNumPartitions() == 5
    rows = df.collect()
    assert len(rows) == 100
    assert sorted(r["id"] for r in rows) == list(range(100))
    one = {r["id"]: (r["bucket"], r["fp"]) for r in rows}
    two = {r["id"]: (r["bucket"], r["fp"]) for r in df.collect()}
    assert one == two
