"""TFRecord source/sink: CRC32C spec vectors, framing corruption
detection, tf.train.Example codec (packed + unpacked), roundtrips."""

from __future__ import annotations

import os
import struct

import pytest

from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.sources import tfrecord as T
from fraud_detection_etl_project_spark.sources.partfiles import register


def test_crc32c_published_vectors():
    # Castagnoli vectors (RFC 3720 appendix / kernel crypto tests)
    assert T.crc32c(b"") == 0x0
    assert T.crc32c(b"a") == 0xC1D04330
    assert T.crc32c(b"123456789") == 0xE3069283
    assert T.crc32c(b"\x00" * 32) == 0x8A9136AA
    assert T.crc32c(b"\xff" * 32) == 0x62A8AB43


def test_masked_crc_roundtrip(tmp_path):
    p = tmp_path / "x.tfrecord"
    with open(p, "wb") as f:
        T.write_record(f, b"hello")
        T.write_record(f, b"")
        T.write_record(f, b"world" * 1000)
    got = list(T.iter_records(str(p)))
    assert got == [b"hello", b"", b"world" * 1000]


def test_corruption_is_a_hard_error(tmp_path):
    p = tmp_path / "x.tfrecord"
    with open(p, "wb") as f:
        T.write_record(f, b"payload-one")
        T.write_record(f, b"payload-two")
    data = bytearray(open(p, "rb").read())
    data[20] ^= 0xFF  # flip a payload byte of record 1
    open(p, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="CRC mismatch"):
        list(T.iter_records(str(p)))
    # truncation: chop the last record's trailing crc
    with open(p, "wb") as f:
        T.write_record(f, b"payload-one")
    data = open(p, "rb").read()
    open(p, "wb").write(data[:-2])
    with pytest.raises(ValueError, match="truncated"):
        list(T.iter_records(str(p)))


def test_example_codec_roundtrip_all_kinds():
    buf = T.encode_example(
        bytes_features={"text": [b"abc", b"def"]},
        float_features={"emb": [1.5, -2.25, 0.0]},
        int64_features={"label": [7, -3, 2**40]},
    )
    bf, ff, i64f = T.decode_example(buf)
    assert bf == {"text": [b"abc", b"def"]}
    assert ff["emb"] == pytest.approx([1.5, -2.25, 0.0])
    assert i64f == {"label": [7, -3, 2**40]}


def test_example_codec_accepts_unpacked_scalars():
    # spec: readers must accept repeated scalars written UNPACKED
    f32 = struct.pack("<f", 3.5)
    float_list = T._tag(1, T._WT_I32) + f32 + T._tag(1, T._WT_I32) + f32
    feature = T._len_field(2, float_list)
    entry = T._len_field(1, b"x") + T._len_field(2, feature)
    buf = T._len_field(1, T._len_field(1, entry))
    _bf, ff, _i = T.decode_example(buf)
    assert ff["x"] == pytest.approx([3.5, 3.5])


@pytest.fixture()
def reg(spark):
    register(spark, T.TFRecordDataSource)
    return spark


def test_spark_sink_source_roundtrip(reg, tmp_path):
    df = reg.range(0, 200).select(
        F.create_map(F.lit("text"), F.array(F.encode(F.concat(F.lit("doc-"), F.col("id")), "utf-8")))
        .alias("bytes_features"),
        F.create_map(F.lit("emb"), F.array(F.col("id").cast("float"), F.lit(0.5).cast("float")))
        .alias("float_features"),
        F.create_map(F.lit("label"), F.array((F.col("id") % 3).cast("long")))
        .alias("int64_features"),
    )
    out = str(tmp_path / "out")
    df.write.format("pytfrecord").option("path", out).mode("overwrite").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = reg.read.format("pytfrecord").option("path", out).load()
    assert back.count() == 200
    texts = sorted(
        bytes(r["bytes_features"]["text"][0]).decode() for r in back.collect()
    )
    assert texts == sorted(f"doc-{i}" for i in range(200))
    labels = back.select(F.explode(F.col("int64_features")["label"]).alias("v"))
    assert labels.groupBy().sum("v").collect()[0][0] == sum(i % 3 for i in range(200))


def test_multi_shard_idx_is_cumulative(reg, tmp_path):
    out = str(tmp_path / "out")
    df = reg.range(0, 50).repartition(4).select(
        F.create_map(F.lit("t"), F.array(F.encode(F.col("id").cast("string"), "utf-8")))
        .alias("bytes_features"),
        F.create_map().cast("map<string,array<float>>").alias("float_features"),
        F.create_map().cast("map<string,array<bigint>>").alias("int64_features"),
    )
    df.write.format("pytfrecord").option("path", out).mode("overwrite").save()
    shards = [f for f in os.listdir(out) if f.endswith(".tfrecord")]
    assert len(shards) == 4
    back = reg.read.format("pytfrecord").option("path", out).load()
    idxs = sorted(r["idx"] for r in back.collect())
    assert idxs == list(range(50))


def test_count_records_seeks_headers_only(tmp_path):
    p = tmp_path / "x.tfrecord"
    with open(p, "wb") as f:
        for i in range(25):
            T.write_record(f, b"p" * (i * 7))
    assert T.count_records(str(p)) == 25
    # truncation still surfaces
    data = open(p, "rb").read()
    open(p, "wb").write(data[:-3])
    with pytest.raises(ValueError, match="truncated"):
        T.count_records(str(p))


def test_empty_directory_reads_as_empty_frame(reg, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    df = reg.read.format("pytfrecord").option("path", str(d)).load()
    assert df.count() == 0
    assert df.columns[0] == "idx"
