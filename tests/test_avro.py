"""Avro OCF codec + DataSource tests.

Conformance standard: round-trip BOTH directions against the JVM's own
Avro implementation (avro-1.12.1.jar ships on Spark's classpath) — the
same independent-reference-codec bar the GIF LZW decoder is held to
(javax.imageio in test_multimodal.py). A self-consistent encoder/decoder
pair proves nothing about spec conformance; an independent codec does.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from fraud_detection_etl_project_spark.sources import avro as A
from fraud_detection_etl_project_spark.sources.partfiles import register

SCHEMA = {
    "type": "record",
    "name": "txn",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "price", "type": "double"},
        {"name": "status", "type": "string"},
        {"name": "clerk", "type": ["null", "string"]},
        {"name": "flag", "type": "boolean"},
    ],
}


def _rows(n: int, lo: int = -5):
    return [
        (
            i,
            i * 1.25 - 3.0,
            f"s{i % 3}",
            None if i % 7 == 0 else f"clerk#{i}",
            i % 2 == 0,
        )
        for i in range(lo, lo + n)
    ]


def _tmp(suffix=".avro"):
    fd, p = tempfile.mkstemp(suffix=suffix)
    os.close(fd)
    return p


# ---------------------------------------------------------------------------
# Pure-Python round-trip (both codecs, multi-block, bytes + negative ids)
# ---------------------------------------------------------------------------


def test_python_roundtrip_both_codecs():
    schema = {
        "type": "record",
        "name": "r",
        "fields": SCHEMA["fields"] + [{"name": "blob", "type": "bytes"}],
    }
    rows = [r + (bytes([i % 256, 7]),) for i, r in enumerate(_rows(2500))]
    p = _tmp()
    try:
        for codec in ("null", "deflate"):
            A.write_ocf(p, schema, rows, codec=codec, block_records=400)
            _s, back = A.read_ocf(p)
            assert back == rows
            _s2, _c, blocks = A.scan_blocks(p)
            assert len(blocks) == 7  # 2500 rows / 400 per block
            assert sum(n for _o, n, _sz in blocks) == 2500
    finally:
        os.remove(p)


def test_union_branch_order_tolerated():
    """[T, "null"] (reversed branch order) must round-trip too — the
    reader keys on the union index it reads, not an assumed order."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["string", "null"]}],
    }
    rows = [("x",), (None,), ("y",)]
    p = _tmp()
    try:
        A.write_ocf(p, schema, rows, codec="null")
        _s, back = A.read_ocf(p)
        assert back == rows
    finally:
        os.remove(p)


def test_reject_paths():
    p = _tmp()
    try:
        with open(p, "wb") as f:
            f.write(b"NOPE" + b"\x00" * 60)
        with pytest.raises(ValueError, match="bad magic"):
            A.read_header(p)
        A.write_ocf(p, SCHEMA, _rows(10), codec="null")
        # corrupt the sync marker after the first block
        raw = bytearray(open(p, "rb").read())
        raw[-1] ^= 0xFF
        with open(p, "wb") as f:
            f.write(raw)
        with pytest.raises(ValueError, match="sync marker"):
            A.scan_blocks(p)
        with pytest.raises(ValueError, match="unsupported codec"):
            A.write_ocf(p, SCHEMA, _rows(1), codec="snappy")
        with pytest.raises(ValueError, match="unsupported Avro"):
            A.schema_to_spark(
                {"type": "record", "name": "r",
                 "fields": [{"name": "m", "type": {"type": "map", "values": "long"}}]}
            )
    finally:
        os.remove(p)


# ---------------------------------------------------------------------------
# JVM conformance (org.apache.avro on Spark's classpath)
# ---------------------------------------------------------------------------


def _jvm_read(spark, path):
    """Read an OCF with the JVM Avro reference implementation."""
    jvm = spark._jvm
    fr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    names = [f["name"] for f in SCHEMA["fields"]]
    out = []
    while fr.hasNext():
        rec = fr.next()
        vals = []
        for n in names:
            v = rec.get(n)
            # Avro's in-memory string is org.apache.avro.util.Utf8
            if v is not None and not isinstance(v, (int, float, bool, str)):
                v = v.toString()
            vals.append(v)
        out.append(tuple(vals))
    fr.close()
    return out


def test_jvm_reads_our_files(spark):
    """Files our writer emits must be read bit-exactly by the JVM Avro
    codec — both uncompressed and deflate, multi-block."""
    rows = _rows(1500)
    p = _tmp()
    try:
        for codec in ("null", "deflate"):
            A.write_ocf(p, SCHEMA, rows, codec=codec, block_records=256)
            assert _jvm_read(spark, p) == rows, codec
    finally:
        os.remove(p)


def test_our_reader_reads_jvm_files(spark):
    """Files written by the JVM DataFileWriter (deflate, small sync
    interval to force many blocks) must decode bit-exactly through the
    pure-Python reader."""
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(
        __import__("json").dumps(SCHEMA)
    )
    p = _tmp()
    try:
        w = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(schema)
        )
        w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
        w.setSyncInterval(64)  # tiny: force many blocks
        w.create(schema, jvm.java.io.File(p))
        rows = _rows(500)
        for (i, price, status, clerk, flag) in rows:
            rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
            rec.put("id", jvm.java.lang.Long.valueOf(i))
            rec.put("price", jvm.java.lang.Double.valueOf(price))
            rec.put("status", status)
            rec.put("clerk", clerk)
            rec.put("flag", flag)
            w.append(rec)
        w.close()
        _s, back = A.read_ocf(p)
        assert back == rows
        _s2, codec, blocks = A.scan_blocks(p)
        assert codec == "deflate" and len(blocks) > 5
    finally:
        os.remove(p)


# ---------------------------------------------------------------------------
# Spark DataSource: schema inference, block-grouped partitions, values
# ---------------------------------------------------------------------------


def test_spark_datasource_sink_roundtrip_and_overwrite(spark, tmp_path):
    """df.write.format("pyavro"): one OCF part file per task, written as
    a task file and renamed into place with _SUCCESS on commit; overwrite
    drops prior parts. Round-trip through the reader must be exact,
    including nullable-union columns."""
    import pyspark.sql.functions as F

    register(spark, A.AvroOCFDataSource)
    d = str(tmp_path / "out")
    df = spark.range(0, 3000, 1, 5).select(
        "id",
        (F.col("id") * 1.5).alias("x"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("n"), F.col("id")))
        .alias("opt"),
        (F.col("id") % 2 == 0).alias("b"),
    )
    df.write.format("pyavro").option("path", d).mode("overwrite").save()
    names = sorted(os.listdir(d))
    assert "_SUCCESS" in names and sum(n.endswith(".avro") for n in names) == 5
    assert not any(n.startswith("_tmp_") for n in names)
    back = spark.read.format("pyavro").option("path", d).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite removes the old parts
    df.limit(70).write.format("pyavro").option("path", d).mode("overwrite").save()
    assert spark.read.format("pyavro").option("path", d).load().count() == 70


def test_sink_rejects_unsupported_types(spark):
    from pyspark.sql.types import StructField, StructType, TimestampType

    with pytest.raises(ValueError, match="unsupported Spark type"):
        A.spark_to_avro_schema(StructType([StructField("ts", TimestampType())]))


def test_spark_datasource_reads_blocks_in_parallel(spark):
    rows = _rows(3000)
    p = _tmp()
    try:
        A.write_ocf(p, SCHEMA, rows, codec="deflate", block_records=250)
        register(spark, A.AvroOCFDataSource)
        df = spark.read.format("pyavro").option("path", p).option("parts", 4).load()
        assert [f.name for f in df.schema.fields] == [
            "id", "price", "status", "clerk", "flag",
        ]
        got = sorted(
            (r.id, r.price, r.status, r.clerk, r.flag) for r in df.collect()
        )
        assert got == sorted(rows)
        # planner groups 12 blocks into ~equal-byte partitions
        reader = A.AvroOCFReader({"path": p, "parts": 4}, df.schema)
        parts = reader.partitions()
        assert len(parts) == 4
        assert sorted(o for part in parts for o in part.offsets) == sorted(
            o for o, _n, _sz in A.scan_blocks(p)[2]
        )
    finally:
        os.remove(p)
