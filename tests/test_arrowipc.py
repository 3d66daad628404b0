"""Arrow IPC (Feather v2) DataSource tests.

Conformance standard: both directions against the canonical public
implementation (pyarrow's ``ipc`` module IS the Arrow reference codec) —
files staged by plain pyarrow must read through the DataSource, and
part files written by the sink must read back through plain
``pyarrow.ipc.open_file``. The connector machinery under test is ours:
footer-driven partition planning, equal-byte batch grouping, Arrow-native
batch yields, schema mapping (incl. large_string normalization, date32,
timestamp[us], list<float>), and the stage-then-swap atomic commit.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.ipc as pa_ipc
import pytest

from fraud_detection_etl_project_spark.sources import arrowipc as AI
from fraud_detection_etl_project_spark.sources.partfiles import register


def _tmpdir():
    return tempfile.mkdtemp(prefix="arrowipc_test_")


def _sample_table(n: int = 100) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "price": pa.array([i * 1.25 - 3.0 for i in range(n)], pa.float64()),
            "tag": pa.array(
                [None if i % 7 == 0 else f"t{i % 3}" for i in range(n)], pa.string()
            ),
            "day": pa.array(
                [datetime.date(1995, 1, 1) + datetime.timedelta(days=i % 40) for i in range(n)],
                pa.date32(),
            ),
            "ts": pa.array(
                [datetime.datetime(1995, 1, 1) + datetime.timedelta(hours=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "vec": pa.array(
                [[float(i), float(i % 5)] for i in range(n)], pa.list_(pa.float32())
            ),
        }
    )


# ---------------------------------------------------------------------------
# Source: plain-pyarrow file -> DataSource read
# ---------------------------------------------------------------------------


def test_source_reads_pyarrow_file_multibatch(spark):
    d = _tmpdir()
    try:
        path = os.path.join(d, "t.arrow")
        t = _sample_table(100)
        with pa_ipc.new_file(path, t.schema) as w:
            w.write_table(t, max_chunksize=7)  # 15 batches
        register(spark, AI.ArrowIPCDataSource)
        df = spark.read.format("pyarrowipc").option("path", path).option("parts", 4).load()
        rows = {r["id"]: r for r in df.collect()}
        assert len(rows) == 100
        assert rows[0]["tag"] is None and rows[1]["tag"] == "t1"
        assert rows[3]["price"] == pytest.approx(3 * 1.25 - 3.0)
        assert rows[5]["day"] == datetime.date(1995, 1, 6)
        assert rows[2]["ts"] == datetime.datetime(1995, 1, 1, 2)
        assert rows[9]["vec"] == [9.0, 4.0]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_source_partition_planning_groups_batches(spark):
    d = _tmpdir()
    try:
        path = os.path.join(d, "t.arrow")
        t = _sample_table(90)
        with pa_ipc.new_file(path, t.schema) as w:
            w.write_table(t, max_chunksize=10)  # 9 batches
        reader = AI.ArrowIPCReader({"path": path, "parts": "4"})
        parts = reader.partitions()
        # planning is metadata-only and must cover every batch exactly once
        covered = sorted(i for p in parts for i in p.indices)
        assert covered == list(range(9))
        assert 2 <= len(parts) <= 4
        # each partition independently yields its own batches
        n = sum(b.num_rows for p in parts for b in reader.read(p))
        assert n == 90
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_source_normalizes_large_string(spark):
    d = _tmpdir()
    try:
        path = os.path.join(d, "t.arrow")
        t = pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "s": pa.array(["a", None], pa.large_string()),
            }
        )
        with pa_ipc.new_file(path, t.schema) as w:
            w.write_table(t)
        register(spark, AI.ArrowIPCDataSource)
        df = spark.read.format("pyarrowipc").option("path", path).load()
        assert df.schema["s"].dataType.typeName() == "string"
        got = {r["id"]: r["s"] for r in df.collect()}
        assert got == {1: "a", 2: None}
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Sink: DataSource write -> plain-pyarrow read (independent reader)
# ---------------------------------------------------------------------------


def test_sink_roundtrip_and_pyarrow_readable(spark):
    d = _tmpdir()
    try:
        out = os.path.join(d, "out")
        register(spark, AI.ArrowIPCDataSource)
        src = spark.createDataFrame(
            [(i, float(i) / 4, None if i % 5 == 0 else f"n{i}") for i in range(50)],
            "id bigint, v double, name string",
        ).repartition(4)
        src.write.format("pyarrowipc").option("path", out).option(
            "batch_records", "8"
        ).mode("overwrite").save()
        # atomic-commit artifacts: final part files + _SUCCESS, no temps
        files = sorted(os.listdir(out))
        assert "_SUCCESS" in files
        assert not any(f.startswith("_tmp_") for f in files)
        parts = [f for f in files if f.endswith(".arrow")]
        assert len(parts) == 4
        # independent reader: plain pyarrow reads every part file
        got = {}
        for f in parts:
            with pa_ipc.open_file(pa.memory_map(os.path.join(out, f))) as r:
                tbl = r.read_all()
                assert r.num_record_batches >= 1
                for row in tbl.to_pylist():
                    got[row["id"]] = (row["v"], row["name"])
        assert len(got) == 50
        assert got[10] == (2.5, None) and got[3] == (0.75, "n3")
        # and the DataSource reads its own directory output back
        back = spark.read.format("pyarrowipc").option("path", out).load()
        assert back.count() == 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sink_overwrite_replaces_listing(spark):
    d = _tmpdir()
    try:
        out = os.path.join(d, "out")
        register(spark, AI.ArrowIPCDataSource)
        big = spark.createDataFrame([(i,) for i in range(40)], "id bigint").repartition(4)
        big.write.format("pyarrowipc").option("path", out).mode("overwrite").save()
        small = spark.createDataFrame([(1,), (2,)], "id bigint").repartition(1)
        small.write.format("pyarrowipc").option("path", out).mode("overwrite").save()
        back = spark.read.format("pyarrowipc").option("path", out).load()
        assert sorted(r["id"] for r in back.collect()) == [1, 2]
        assert len([f for f in os.listdir(out) if f.endswith(".arrow")]) == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schema_mapping_rejects_unsupported():
    with pytest.raises(ValueError):
        AI.arrow_to_spark_schema(pa.schema([pa.field("m", pa.map_(pa.string(), pa.int64()))]))
    from pyspark.sql.types import DecimalType, StructField, StructType

    with pytest.raises(ValueError):
        AI.spark_to_arrow_schema(StructType([StructField("d", DecimalType(10, 2))]))


def test_source_normalizes_nested_large_types(spark):
    """ADVICE r4: list<large_string> / large_list<large_string> (polars
    defaults) must normalize RECURSIVELY to list<string>."""
    d = _tmpdir()
    try:
        path = os.path.join(d, "t.arrow")
        t = pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "tags": pa.array(
                    [["a", "b"], ["c"]], pa.large_list(pa.large_string())
                ),
                "mixed": pa.array([["x"], []], pa.list_(pa.large_string())),
            }
        )
        with pa_ipc.new_file(path, t.schema) as w:
            w.write_table(t)
        register(spark, AI.ArrowIPCDataSource)
        df = spark.read.format("pyarrowipc").option("path", path).load()
        assert df.schema["tags"].dataType.simpleString() == "array<string>"
        assert df.schema["mixed"].dataType.simpleString() == "array<string>"
        got = {r["id"]: (r["tags"], r["mixed"]) for r in df.collect()}
        assert got == {1: (["a", "b"], ["x"]), 2: (["c"], [])}
    finally:
        shutil.rmtree(d, ignore_errors=True)
