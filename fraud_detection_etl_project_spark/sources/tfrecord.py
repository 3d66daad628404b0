"""TFRecord + ``tf.train.Example`` source and sink as a Spark 4 Python
DataSource (``format("pytfrecord")``) — no TensorFlow dependency.

TFRecord is the de-facto sharded container for LLM/vision training data
(what TFDS, T5/PaLM-era pipelines, and most data-loading stacks emit);
``tf.train.Example`` is its near-universal payload. Both are public
specs: the record framing is ``uint64le length | masked crc32c(length)
| payload | masked crc32c(payload)`` (TensorFlow's
``tensorflow/core/lib/io/record_writer.h``), the mask being
``((crc >> 15) | (crc << 17)) + 0xa282ead8``; the payload is a plain
protobuf message (``Example { Features features = 1 }``, features a
``map<string, Feature>``, each Feature one of BytesList/FloatList/
Int64List) decoded here with the repo's wire-format codec
(functions/protowire.py — varints, LEN fields, packed + unpacked
repeated scalars).

Rows surface as a faithful generic schema:
``(idx bigint, bytes_features map<string, array<binary>>,
float_features map<string, array<float>>,
int64_features map<string, array<bigint>>)``.

Scale posture: TFRecord has NO sync markers or block index — a reader
cannot seek to the k-th record without scanning — so the format's own
unit of parallelism is the FILE, which is exactly why real corpora ship
as ``name-00042-of-01024`` shards. Planning is a directory listing;
each task streams one shard, verifying both CRCs per record (corruption
is a hard error with the byte offset, never silently skipped). Decode
is Python by necessity (it IS the datasource), but stays streaming:
one record in memory at a time.

The sink writes one shard per task through the package's part-file
protocol (sources/partfiles.py: task files renamed into place by the
driver, additive append numbering, stale-temp sweep, _SUCCESS) with spec
CRCs, so TensorFlow's own reader accepts the output. CRC32C is
pinned to the published Castagnoli test vectors
(tests/test_tfrecord.py) since TF itself is not installed here.

Reference parity: SURVEY.md §2.1's source-family seam extended to the
training-data container the north-star curation operators feed.
"""

from __future__ import annotations

import struct

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from fraud_detection_etl_project_spark.functions.protowire import (
    decode_varint,
    encode_varint,
)
from fraud_detection_etl_project_spark.sources.partfiles import (
    PartCommit,
    PartFileWriter,
    data_files,
)

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — reflected, poly 0x82F63B78; table built once.
# ---------------------------------------------------------------------------

_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's mask keeps CRCs of CRC-bearing data well-distributed."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Record framing
# ---------------------------------------------------------------------------


def write_record(f, payload: bytes) -> None:
    header = struct.pack("<Q", len(payload))
    f.write(header)
    f.write(struct.pack("<I", masked_crc32c(header)))
    f.write(payload)
    f.write(struct.pack("<I", masked_crc32c(payload)))


def iter_records(path: str):
    """Yield payloads, verifying both CRCs; truncation/corruption raises
    with the byte offset (a training job must fail loudly, not learn
    from garbage)."""
    with open(path, "rb") as f:
        offset = 0
        while True:
            header = f.read(8)
            if not header:
                return
            if len(header) < 8:
                raise ValueError(f"truncated length at offset {offset}: {path}")
            hcrc_b = f.read(4)
            if len(hcrc_b) < 4:
                raise ValueError(f"truncated length CRC at offset {offset}: {path}")
            (hcrc,) = struct.unpack("<I", hcrc_b)
            if masked_crc32c(header) != hcrc:
                raise ValueError(f"length CRC mismatch at offset {offset}: {path}")
            (n,) = struct.unpack("<Q", header)
            payload = f.read(n)
            if len(payload) < n:
                raise ValueError(f"truncated payload at offset {offset}: {path}")
            pcrc_b = f.read(4)
            if len(pcrc_b) < 4:
                raise ValueError(f"truncated payload CRC at offset {offset}: {path}")
            (pcrc,) = struct.unpack("<I", pcrc_b)
            if masked_crc32c(payload) != pcrc:
                raise ValueError(f"payload CRC mismatch at offset {offset}: {path}")
            yield payload
            offset += 8 + 4 + n + 4


# ---------------------------------------------------------------------------
# tf.train.Example codec (pure wire format)
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def _tag(field: int, wt: int) -> bytes:
    return encode_varint((field << 3) | wt)


def _len_field(field: int, body: bytes) -> bytes:
    return _tag(field, _WT_LEN) + encode_varint(len(body)) + body


def encode_example(
    bytes_features: dict[str, list[bytes]] | None = None,
    float_features: dict[str, list[float]] | None = None,
    int64_features: dict[str, list[int]] | None = None,
) -> bytes:
    """Example { Features features = 1 }; Features { map<string, Feature>
    feature = 1 } — a protobuf map is repeated entries {key=1, value=2}.
    Float lists pack (proto3 default); int64 lists pack via varints."""
    entries = b""
    for name, vals in (bytes_features or {}).items():
        bl = b"".join(_len_field(1, v) for v in vals)  # BytesList.value = 1
        feature = _len_field(1, bl)  # Feature.bytes_list = 1
        entries += _len_field(1, _len_field(1, name.encode()) + _len_field(2, feature))
    for name, vals in (float_features or {}).items():
        packed = b"".join(struct.pack("<f", float(v)) for v in vals)
        fl = _tag(1, _WT_LEN) + encode_varint(len(packed)) + packed  # FloatList.value packed
        feature = _len_field(2, fl)  # Feature.float_list = 2
        entries += _len_field(1, _len_field(1, name.encode()) + _len_field(2, feature))
    for name, vals in (int64_features or {}).items():
        packed = b"".join(encode_varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in vals)
        il = _tag(1, _WT_LEN) + encode_varint(len(packed)) + packed  # Int64List.value packed
        feature = _len_field(3, il)  # Feature.int64_list = 3
        entries += _len_field(1, _len_field(1, name.encode()) + _len_field(2, feature))
    return _len_field(1, entries)  # Example.features = 1


def _iter_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = decode_varint(buf, pos)
        field, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            val, pos = decode_varint(buf, pos)
        elif wt == _WT_LEN:
            n, pos = decode_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated LEN field in Example")
            val = buf[pos : pos + n]
            pos += n
        elif wt == _WT_I32:
            val = buf[pos : pos + 4]
            pos += 4
        elif wt == _WT_I64:
            val = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def decode_example(buf: bytes) -> tuple[dict, dict, dict]:
    """-> (bytes_features, float_features, int64_features); accepts both
    packed and unpacked repeated scalars per the proto spec."""
    bf: dict = {}
    ff: dict = {}
    i64f: dict = {}
    for field, _wt, features in _iter_fields(buf):
        if field != 1:  # Example.features
            continue
        for f2, _w2, entry in _iter_fields(features):
            if f2 != 1:  # Features.feature map entry
                continue
            name, feature = None, b""
            for f3, _w3, v3 in _iter_fields(entry):
                if f3 == 1:
                    name = v3.decode("utf-8")
                elif f3 == 2:
                    feature = v3
            if name is None:
                continue
            for kind, w4, body in _iter_fields(feature):
                if kind == 1:  # BytesList
                    vals = [bytes(v) for f5, _w, v in _iter_fields(body) if f5 == 1]
                    bf[name] = vals
                elif kind == 2:  # FloatList (packed or repeated fixed32)
                    floats: list[float] = []
                    for f5, w5, v in _iter_fields(body):
                        if f5 != 1:
                            continue
                        if w5 == _WT_LEN:  # packed
                            floats.extend(
                                struct.unpack(f"<{len(v) // 4}f", v)
                            )
                        else:  # unpacked fixed32
                            floats.append(struct.unpack("<f", v)[0])
                    ff[name] = floats
                elif kind == 3:  # Int64List (packed or repeated varint)
                    ints: list[int] = []
                    for f5, w5, v in _iter_fields(body):
                        if f5 != 1:
                            continue
                        if w5 == _WT_LEN:  # packed varints
                            p = 0
                            while p < len(v):
                                x, p = decode_varint(v, p)
                                ints.append(_to_signed64(x))
                        else:
                            ints.append(_to_signed64(v))
                    i64f[name] = ints
    return bf, ff, i64f


# ---------------------------------------------------------------------------
# DataSource plumbing
# ---------------------------------------------------------------------------

_SCHEMA = StructType(
    [
        StructField("idx", LongType(), True),
        StructField("bytes_features", MapType(StringType(), ArrayType(BinaryType())), True),
        StructField("float_features", MapType(StringType(), ArrayType(FloatType())), True),
        StructField("int64_features", MapType(StringType(), ArrayType(LongType())), True),
    ]
)


class TFRecordFilePartition(InputPartition):
    def __init__(self, path: str, base_idx: int):
        self.path = path
        self.base_idx = base_idx


def count_records(path: str) -> int:
    """Record count by SEEKING over the framing (8-byte length -> skip
    payload+CRCs) — headers only, no payload bytes read or CRC-verified;
    this is the cheapest count the format allows (no index, no sync
    markers). Truncated framing still raises."""
    import os as _os

    n = 0
    size = _os.path.getsize(path)
    with open(path, "rb") as f:
        pos = 0
        while pos < size:
            header = f.read(8)
            if len(header) < 8:
                raise ValueError(f"truncated length at offset {pos}: {path}")
            (ln,) = struct.unpack("<Q", header)
            pos += 8 + 4 + ln + 4
            if pos > size:
                raise ValueError(f"truncated record at offset {pos - 8 - 4 - ln - 4}: {path}")
            f.seek(pos)
            n += 1
    return n


class TFRecordReader(DataSourceReader):
    """One partition per shard file: TFRecord carries no sync markers, so
    the file IS the format's unit of parallelism (real corpora shard as
    name-NNNNN-of-MMMMM for exactly this reason). ``idx`` is the global
    record offset in file order, whose per-file bases need record counts:
    those come from a header-SEEK pass (count_records — length fields
    only, no payload bytes, no CRC work) and only when more than one
    shard exists. Set ``idx_bases=false`` to skip even that and get
    file-local idx (0-based per shard) with zero planning I/O."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.idx_bases = str(options.get("idx_bases", "true")).lower() != "false"

    def partitions(self):
        files = data_files(self.path, "tfrecord", shards=True)
        if not files:
            return [TFRecordFilePartition("", 0)]  # empty dir -> empty frame
        base = 0
        parts = []
        for f in files:
            parts.append(TFRecordFilePartition(f, base))
            if self.idx_bases and len(files) > 1:
                base += count_records(f)
        return parts

    def read(self, partition: TFRecordFilePartition):
        if not partition.path:
            return
        for i, payload in enumerate(iter_records(partition.path)):
            bf, ff, i64f = decode_example(payload)
            yield (partition.base_idx + i, bf, ff, i64f)


class TFRecordWriter(PartFileWriter):
    ext = "tfrecord"
    shards = True

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        super().__init__(options, overwrite)
        names = [f.name for f in schema.fields]
        expected = {"bytes_features", "float_features", "int64_features"}
        if not expected.issubset(set(names)):
            raise ValueError(
                f"pytfrecord sink expects columns {sorted(expected)} (idx optional), got {names}"
            )

    def write(self, iterator):
        tmp = self.task_file()
        with open(tmp, "wb") as f:
            for row in iterator:
                payload = encode_example(
                    {k: [bytes(x) for x in v] for k, v in (row["bytes_features"] or {}).items()},
                    {k: list(v) for k, v in (row["float_features"] or {}).items()},
                    {k: list(v) for k, v in (row["int64_features"] or {}).items()},
                )
                write_record(f, payload)
        return PartCommit(tmp)


class TFRecordDataSource(DataSource):
    """``spark.read.format("pytfrecord").option("path", p).load()``."""

    @classmethod
    def name(cls):
        return "pytfrecord"

    def schema(self):
        return _SCHEMA

    def reader(self, schema: StructType):
        return TFRecordReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return TFRecordWriter(self.options, schema, overwrite)

