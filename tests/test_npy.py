"""NumPy .npy source/sink: conformance against numpy itself, split
planning, idx determinism, sink streaming/append/abort semantics."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.sources import npy as N
from fraud_detection_etl_project_spark.sources.partfiles import register


@pytest.fixture()
def reg(spark):
    register(spark, N.NpyDataSource)
    return spark


def _read(spark, path, **opts):
    r = spark.read.format("pynpy").option("path", str(path))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_source_reads_np_save_2d(reg, tmp_path):
    a = np.arange(40, dtype=np.float32).reshape(10, 4)
    np.save(tmp_path / "a.npy", a)
    df = _read(reg, tmp_path / "a.npy")
    assert df.columns == ["idx", "vec"]
    rows = {r["idx"]: list(r["vec"]) for r in df.collect()}
    assert len(rows) == 10
    for i in range(10):
        assert rows[i] == pytest.approx(list(a[i]))


def test_source_reads_np_save_1d_all_dtypes(reg, tmp_path):
    for dtype, col in [(np.float32, "value"), (np.float64, "value"),
                       (np.int32, "value"), (np.int64, "value")]:
        p = tmp_path / f"{np.dtype(dtype).str.strip('<')}.npy"
        np.save(p, np.arange(7).astype(dtype))
        df = _read(reg, p)
        got = sorted((r["idx"], r[col]) for r in df.collect())
        assert got == [(i, pytest.approx(float(i))) for i in range(7)]


def test_split_planning_is_header_only_and_covers_all_rows(reg, tmp_path):
    a = np.arange(100_000, dtype=np.int64)
    np.save(tmp_path / "big.npy", a)
    df = _read(reg, tmp_path / "big.npy", parts=8)
    assert df.rdd.getNumPartitions() >= 8
    agg = df.agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()[0]
    assert agg["n"] == 100_000 and agg["s"] == a.sum()
    # idx is the exact global row offset
    assert df.agg(F.sum("idx")).collect()[0][0] == sum(range(100_000))


def test_directory_of_files_gets_cumulative_idx(reg, tmp_path):
    np.save(tmp_path / "p0.npy", np.array([1.0, 2.0]))
    np.save(tmp_path / "p1.npy", np.array([3.0]))
    got = sorted((r["idx"], r["value"]) for r in _read(reg, tmp_path).collect())
    assert got == [(0, 1.0), (1, 2.0), (2, 3.0)]


def test_sink_roundtrip_via_np_load(reg, tmp_path):
    df = reg.range(0, 1000).select(
        F.array(F.col("id").cast("double"), (F.col("id") * 2).cast("double")).alias("vec")
    )
    out = str(tmp_path / "out")
    df.write.format("pynpy").option("path", out).mode("overwrite").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    parts = sorted(f for f in os.listdir(out) if f.endswith(".npy"))
    back = np.concatenate([np.load(os.path.join(out, p)) for p in parts])
    assert back.shape == (1000, 2) and back.dtype == np.float64
    assert sorted(back[:, 0].tolist()) == [float(i) for i in range(1000)]
    # and our own source reads the sink's output
    df2 = _read(reg, out)
    assert df2.count() == 1000


def test_sink_rejects_ragged_vectors(reg, tmp_path):
    df = reg.range(0, 4).select(
        F.when(F.col("id") == 2, F.array(F.lit(1.0)))
        .otherwise(F.array(F.lit(1.0), F.lit(2.0)))
        .alias("vec")
    )
    with pytest.raises(Exception, match="ragged"):
        df.coalesce(1).write.format("pynpy").option("path", str(tmp_path / "o")).mode(
            "overwrite"
        ).save()


def test_header_rejections(reg, tmp_path):
    with open(tmp_path / "bad.npy", "wb") as f:
        f.write(b"NOTNUMPY" + b"\x00" * 64)
    with pytest.raises(Exception, match="not a .npy"):
        N.read_header(str(tmp_path / "bad.npy"))
    np.save(tmp_path / "f.npy", np.asfortranarray(np.arange(6).reshape(2, 3)))
    with pytest.raises(Exception, match="fortran"):
        N.read_header(str(tmp_path / "f.npy"))
    np.save(tmp_path / "3d.npy", np.zeros((2, 2, 2)))
    with pytest.raises(Exception, match="1-D/2-D"):
        N.read_header(str(tmp_path / "3d.npy"))


def test_streamed_writer_backpatches_header(reg, tmp_path):
    """Small batch_rows forces multiple flushes; the back-patched header
    must carry the FINAL row count and np.load must agree."""
    out = str(tmp_path / "out")
    df = reg.range(0, 1000).select(F.col("id").cast("long").alias("value")).coalesce(1)
    df.write.format("pynpy").option("path", out).option("batch_rows", "64").mode(
        "overwrite"
    ).save()
    part = [f for f in os.listdir(out) if f.endswith(".npy")][0]
    descr, shape = N.read_header(os.path.join(out, part))
    assert descr == "<i8" and shape == (1000,)
    assert np.load(os.path.join(out, part)).sum() == sum(range(1000))


def test_empty_directory_is_a_clear_error(reg, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(Exception, match="no .npy files"):
        _read(reg, d).count()


def test_wide_rows_stay_under_int32_offsets(reg, tmp_path):
    """A wide 2-D matrix must split batches so offsets never exceed
    int32 — verified by reading with a batch_rows that would overflow
    if applied naively (simulated narrow: the cap formula itself)."""
    from fraud_detection_etl_project_spark.sources.npy import NpyReader

    r = NpyReader({"path": "unused", "batch_rows": 1 << 20})
    # formula: step = min(batch_rows, (2^31-1)//width)
    a = np.arange(12, dtype=np.float32).reshape(3, 4)
    np.save(tmp_path / "a.npy", a)
    df = _read(reg, tmp_path / "a.npy", batch_rows=2)
    assert df.count() == 3
