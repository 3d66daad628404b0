"""The part-file protocol (``sources/partfiles.py``) that the Python
DataSource file sinks share: one contract, checked on every format."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from test_staging import _docstrings

import fraud_detection_etl_project_spark
from fraud_detection_etl_project_spark.sources import arrowipc, avro, npy, tfrecord
from fraud_detection_etl_project_spark.sources.partfiles import register

PKG = Path(fraud_detection_etl_project_spark.__file__).parent
REPO = PKG.parent


def _tfrecord_rows(df):
    return df.select(
        F.create_map().cast("map<string,array<binary>>").alias("bytes_features"),
        F.create_map().cast("map<string,array<float>>").alias("float_features"),
        F.create_map(F.lit("id"), F.array("id")).alias("int64_features"),
    )


# format -> (DataSource, file extension, frame of ``id`` to write, id read back)
FORMATS = {
    "pyavro": (avro.AvroOCFDataSource, "avro", lambda df: df, "id"),
    "pyarrowipc": (arrowipc.ArrowIPCDataSource, "arrow", lambda df: df, "id"),
    "pynpy": (npy.NpyDataSource, "npy", lambda df: df, "value"),
    "pytfrecord": (
        tfrecord.TFRecordDataSource,
        "tfrecord",
        _tfrecord_rows,
        "int64_features['id'][0]",
    ),
}


@pytest.fixture(params=sorted(FORMATS))
def sink(request, spark, tmp_path):
    """(write(lo, hi, parts, mode), read() -> sorted ids, ext, out dir)."""
    fmt = request.param
    ds, ext, to_rows, id_col = FORMATS[fmt]
    register(spark, ds)
    out = str(tmp_path / "out")

    def write(lo, hi, parts, mode):
        df = to_rows(spark.range(lo, hi, 1, parts))
        df.write.format(fmt).option("path", out).mode(mode).save()

    def read():
        df = spark.read.format(fmt).option("path", out).load()
        return sorted(r[0] for r in df.selectExpr(id_col).collect())

    return write, read, ext, out


def _parts(out, ext):
    return sorted(f for f in os.listdir(out) if f.endswith(f".{ext}"))


def test_overwrite_replaces_earlier_parts(sink):
    write, read, ext, out = sink
    write(0, 10, 2, "overwrite")
    write(100, 103, 1, "overwrite")
    assert _parts(out, ext) == [f"part-00000.{ext}"]
    assert read() == [100, 101, 102]


def test_append_is_additive(sink):
    """Append numbers its parts after the highest existing one, so no
    earlier part is overwritten."""
    write, read, ext, out = sink
    write(0, 10, 2, "overwrite")
    write(100, 103, 1, "append")
    assert _parts(out, ext) == [f"part-0000{i}.{ext}" for i in range(3)]
    assert read() == list(range(10)) + [100, 101, 102]


def test_commit_sweeps_orphaned_task_files(sink):
    """A task file left by an attempt that never reported back is
    removed by the next commit."""
    write, read, ext, out = sink
    write(0, 10, 2, "overwrite")
    orphan = os.path.join(out, f"_tmp_deadbeef.{ext}")
    with open(orphan, "wb") as f:
        f.write(b"orphan")
    write(100, 103, 1, "append")
    assert not any(f.startswith("_tmp_") for f in os.listdir(out))
    assert read() == list(range(10)) + [100, 101, 102]


def test_register_twice_still_reads(spark, sink):
    write, read, _ext, _out = sink
    write(0, 4, 1, "overwrite")
    register(spark, *(ds for ds, *_ in FORMATS.values()))
    assert read() == [0, 1, 2, 3]


def _calls(tree, *attrs):
    """Calls whose callee ends in ``attrs``: ``("os", "replace")`` finds
    ``os.replace(...)``."""
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and ast.unparse(n.func).split(".")[-len(attrs) :] == list(attrs)
    ]


def test_sink_writes_in_a_session_that_never_loaded_a_table(tmp_path):
    """The sink's Python workers import this package by name. A driver
    started outside the checkout, with the package on ``sys.path`` only
    and no ``load_table`` call, must still get the package zip to its
    workers: ``register`` ships it."""
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").appName("bare-sink").getOrCreate()
from fraud_detection_etl_project_spark.sources.arrowipc import ArrowIPCDataSource
from fraud_detection_etl_project_spark.sources.partfiles import register
register(spark, ArrowIPCDataSource)
out = {str(tmp_path / "out")!r}
spark.range(0, 2).write.format("pyarrowipc").option("path", out).mode("overwrite").save()
ids = sorted(r.id for r in spark.read.format("pyarrowipc").option("path", out).load().collect())
print("BARE_SINK_OK", ids)
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "BARE_SINK_OK [0, 1]" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]


def test_part_file_protocol_lives_in_one_module():
    """In ``sources/``, only ``partfiles.py`` renames files into place or
    names ``_SUCCESS`` and ``_tmp_`` files, and the package registers
    DataSources only in ``partfiles.register``."""
    found = {"os.replace": [], "_SUCCESS": [], "_tmp_": [], "dataSource.register": []}
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        tree = ast.parse(p.read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                found["dataSource.register"] += [
                    f"{rel}:{fn.name}" for _ in _calls(fn, "dataSource", "register")
                ]
        if not rel.startswith("sources/"):
            continue
        skip = _docstrings(tree)
        found["os.replace"] += [rel for _ in _calls(tree, "os", "replace")]
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in skip:
                found["_SUCCESS"] += [rel] * (node.value == "_SUCCESS")
                found["_tmp_"] += [rel] * ("_tmp_" in node.value)
    assert found == {
        "os.replace": ["sources/partfiles.py"],
        "_SUCCESS": ["sources/partfiles.py"],
        "_tmp_": ["sources/partfiles.py"],
        "dataSource.register": ["sources/partfiles.py:register"],
    }
