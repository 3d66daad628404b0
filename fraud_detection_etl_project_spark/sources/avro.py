"""Avro Object Container File source: pure-Python codec + Spark DataSource.

pyspark 4.1.2 ships WITHOUT the ``spark-avro`` connector module (no
network installs here, COVERAGE.md §2.1), but Avro remains a staple
interchange format any complete engine must read. This module closes the
gap from first principles, against the PUBLIC Avro 1.12 specification
(https://avro.apache.org/docs/1.12.0/specification/):

* a pure-Python Object Container File (OCF) reader AND writer — zigzag
  varints, IEEE floats, length-prefixed strings/bytes, ``["null", T]``
  unions, the header metadata map, 16-byte sync markers, and both the
  ``null`` and ``deflate`` (raw RFC-1951, ``zlib wbits=-15``) codecs;
* a Spark 4 Python DataSource (``format("pyavro")``) whose partition
  planning follows Avro's OWN split design: sync-marker-delimited blocks
  are the split points, so one file fans out across tasks exactly the way
  Hadoop's AvroInputFormat splits it — the driver walks only the block
  HEADERS (varint count + size, then seek past the payload: O(#blocks)
  metadata reads, never the data), and each task decodes only its block
  ranges;
* conformance tests (tests/test_avro.py) that round-trip BOTH directions
  against the JVM's own Avro implementation (``avro-1.12.1.jar`` is on
  Spark's classpath): files our writer produces are read back bit-exactly
  by ``org.apache.avro.file.DataFileReader``, and files written by
  ``DataFileWriter`` (including deflate-compressed, multi-block) decode
  bit-exactly through this reader — the same independent-reference-codec
  standard the GIF LZW decoder is held to (javax.imageio).

Scale: blocks are the unit of parallelism (the spec's design intent), so
a 100 TB Avro lake splits at sync markers with zero coordination; the
planner groups blocks into ~equal-byte partitions. Decoding is Python
(that's the nature of a Python DataSource) — for bulk analytics the
engine's parquet path is the fast lane, and this source is the ingest/
interchange ramp, mirroring SURVEY §2.1's source matrix.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fraud_detection_etl_project_spark.sources.partfiles import (
    PartCommit,
    PartFileWriter,
    data_files,
)

MAGIC = b"Obj\x01"
DEFAULT_SYNC = bytes(range(16))  # deterministic fixture sync marker


# ---------------------------------------------------------------------------
# Binary primitives (Avro spec "Binary encoding")
# ---------------------------------------------------------------------------


def write_long(out: io.BytesIO, n: int) -> None:
    u = (n << 1) ^ (n >> 63)  # Python's arithmetic >> keeps this exact
    u &= (1 << 64) - 1
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    n = (u >> 1) ^ -(u & 1)  # un-zigzag
    return n, pos


def _enc_string(out: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    write_long(out, len(raw))
    out.write(raw)


def _enc_bytes(out: io.BytesIO, raw: bytes) -> None:
    write_long(out, len(raw))
    out.write(raw)


# ---------------------------------------------------------------------------
# Schema handling: flat records over primitives + ["null", T] unions
# ---------------------------------------------------------------------------

_SPARK_TYPES = {
    "long": LongType,
    "int": IntegerType,
    "double": DoubleType,
    "float": FloatType,
    "string": StringType,
    "bytes": BinaryType,
    "boolean": BooleanType,
}


def _field_type(t) -> tuple[str, bool]:
    """Return (primitive name, nullable) for a field type, supporting the
    two-branch ``["null", T]`` / ``[T, "null"]`` unions the spec uses for
    optional columns."""
    if isinstance(t, str):
        return t, False
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(branches) == 1 and isinstance(branches[0], str) and "null" in t:
            return branches[0], True
    raise ValueError(f"unsupported Avro type for this reader: {t!r}")


def schema_to_spark(schema: dict) -> StructType:
    if schema.get("type") != "record":
        raise ValueError("top-level Avro schema must be a record")
    fields = []
    for f in schema["fields"]:
        prim, nullable = _field_type(f["type"])
        if prim not in _SPARK_TYPES:
            raise ValueError(f"unsupported Avro primitive: {prim}")
        fields.append(StructField(f["name"], _SPARK_TYPES[prim](), nullable))
    return StructType(fields)


def _encoder(prim: str):
    if prim in ("long", "int"):
        return write_long
    if prim == "double":
        return lambda out, v: out.write(struct.pack("<d", v))
    if prim == "float":
        return lambda out, v: out.write(struct.pack("<f", v))
    if prim == "string":
        return _enc_string
    if prim == "bytes":
        return _enc_bytes
    if prim == "boolean":
        return lambda out, v: out.write(b"\x01" if v else b"\x00")
    raise ValueError(prim)


def _decoder(prim: str):
    if prim in ("long", "int"):
        return read_long
    if prim == "double":
        return lambda buf, pos: (struct.unpack_from("<d", buf, pos)[0], pos + 8)
    if prim == "float":
        return lambda buf, pos: (struct.unpack_from("<f", buf, pos)[0], pos + 4)
    if prim == "string":

        def dec_s(buf, pos):
            n, pos = read_long(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n

        return dec_s
    if prim == "bytes":

        def dec_b(buf, pos):
            n, pos = read_long(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n

        return dec_b
    if prim == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    raise ValueError(prim)


def _row_codecs(schema: dict):
    """Per-field (encoder, decoder, nullable, null_index) closures.

    For nullable unions the writer emits branch order as declared in the
    schema; the reader keys on the union INDEX it actually reads, so both
    ``["null", T]`` and ``[T, "null"]`` declarations round-trip."""
    codecs = []
    for f in schema["fields"]:
        prim, nullable = _field_type(f["type"])
        null_idx = None
        if nullable:
            null_idx = f["type"].index("null")
        codecs.append((_encoder(prim), _decoder(prim), nullable, null_idx))
    return codecs


# ---------------------------------------------------------------------------
# Object Container File writer
# ---------------------------------------------------------------------------


def write_ocf(
    path: str,
    schema: dict,
    records,
    codec: str = "deflate",
    block_records: int = 1000,
    sync: bytes = DEFAULT_SYNC,
) -> None:
    """Write records (tuples/lists in schema field order) as a spec-
    conformant OCF. ``codec`` is ``null`` or ``deflate``; blocks hold up
    to ``block_records`` records so multi-block files (the splittable
    case) are the default, not a special case."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    codecs = _row_codecs(schema)
    header = io.BytesIO()
    header.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    write_long(header, len(meta))
    for k, v in sorted(meta.items()):
        _enc_string(header, k)
        _enc_bytes(header, v)
    write_long(header, 0)  # end of metadata map
    header.write(sync)

    with open(path, "wb") as f:
        f.write(header.getvalue())
        batch: list = []

        def flush() -> None:
            if not batch:
                return
            body = io.BytesIO()
            for rec in batch:
                for val, (enc, _dec, nullable, null_idx) in zip(rec, codecs):
                    if nullable:
                        if val is None:
                            write_long(body, null_idx)
                            continue
                        write_long(body, 1 - null_idx)
                    elif val is None:
                        raise ValueError("None in non-nullable field")
                    enc(body, val)
            payload = body.getvalue()
            if codec == "deflate":
                co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
                payload = co.compress(payload) + co.flush()
            blk = io.BytesIO()
            write_long(blk, len(batch))
            write_long(blk, len(payload))
            f.write(blk.getvalue())
            f.write(payload)
            f.write(sync)
            batch.clear()

        for rec in records:
            batch.append(rec)
            if len(batch) >= block_records:
                flush()
        flush()


# ---------------------------------------------------------------------------
# Object Container File reader
# ---------------------------------------------------------------------------


def read_header(path: str) -> tuple[dict, str, bytes, int]:
    """Parse the OCF header; returns (schema, codec, sync, data_offset).
    Only the header bytes are read — O(header), not O(file)."""
    with open(path, "rb") as f:
        head = f.read(65536)
    if head[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos, meta = 4, {}
    while True:
        n, pos = read_long(head, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count is followed by a byte size
            _, pos = read_long(head, pos)
            n = -n
        for _ in range(n):
            klen, pos = read_long(head, pos)
            k = head[pos : pos + klen].decode()
            pos += klen
            vlen, pos = read_long(head, pos)
            meta[k] = head[pos : pos + vlen]
            pos += vlen
    sync = head[pos : pos + 16]
    pos += 16
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, pos


def scan_blocks(path: str) -> tuple[dict, str, list[tuple[int, int, int]]]:
    """Walk block headers only: returns (schema, codec, [(offset, n_records,
    payload_bytes)]). Seeks past every payload — the driver-side planning
    cost is O(#blocks), independent of data volume, and each (offset,
    size) is an independent split exactly as the spec intends."""
    schema, codec, sync, pos = read_header(path)
    size = os.path.getsize(path)
    blocks = []
    with open(path, "rb") as f:
        while pos < size:
            f.seek(pos)
            # block header: two varints — at most 20 bytes
            hdr = f.read(20)
            if not hdr:
                break
            n, p2 = read_long(hdr, 0)
            nbytes, p2 = read_long(hdr, p2)
            blocks.append((pos, n, nbytes))
            pos += p2 + nbytes
            f.seek(pos)
            if f.read(16) != sync:
                raise ValueError(f"sync marker mismatch at offset {pos}")
            pos += 16
    return schema, codec, blocks


def read_block(path: str, offset: int, codec: str, codecs) -> list[tuple]:
    """Decode one block at ``offset`` into a list of row tuples."""
    with open(path, "rb") as f:
        f.seek(offset)
        hdr = f.read(20)
        n, p2 = read_long(hdr, 0)
        nbytes, p2 = read_long(hdr, p2)
        f.seek(offset + p2)
        payload = f.read(nbytes)
    if codec == "deflate":
        payload = zlib.decompress(payload, -15)
    elif codec != "null":
        raise ValueError(f"unsupported codec {codec!r}")
    out, pos = [], 0
    for _ in range(n):
        row = []
        for _enc, dec, nullable, null_idx in codecs:
            if nullable:
                idx, pos = read_long(payload, pos)
                if idx == null_idx:
                    row.append(None)
                    continue
            val, pos = dec(payload, pos)
            row.append(val)
        out.append(tuple(row))
    if pos != len(payload):
        raise ValueError("trailing bytes after last record in block")
    return out


def read_ocf(path: str) -> tuple[dict, list[tuple]]:
    """Whole-file convenience reader (tests/fixtures)."""
    schema, codec, blocks = scan_blocks(path)
    codecs = _row_codecs(schema)
    rows: list[tuple] = []
    for off, _n, _sz in blocks:
        rows.extend(read_block(path, off, codec, codecs))
    return schema, rows


# ---------------------------------------------------------------------------
# Spark DataSource
# ---------------------------------------------------------------------------


class BlockRangePartition(InputPartition):
    def __init__(self, path: str, offsets: list[int]):
        self.path = path
        self.offsets = offsets


class AvroOCFReader(DataSourceReader):
    def __init__(self, options: dict, spark_schema: StructType):
        self.path = options["path"]
        self.parts = int(options.get("parts", 8))
        self.spark_schema = spark_schema

    def partitions(self):
        # every (file, block) is an independent split; group into
        # ~equal-BYTE partitions (record counts can be uneven across
        # blocks; bytes are the cost driver)
        splits: list[tuple[str, int, int]] = []  # (file, offset, size)
        for f in data_files(self.path, "avro"):
            _schema, _codec, blocks = scan_blocks(f)
            splits.extend((f, off, sz) for off, _n, sz in blocks)
        if not splits:
            return [BlockRangePartition(self.path, [])]
        total = sum(sz for _f, _o, sz in splits)
        target = max(1, -(-total // self.parts))
        groups: list[dict[str, list[int]]] = []
        cur: dict[str, list[int]] = {}
        cur_sz = 0
        for f, off, sz in splits:
            cur.setdefault(f, []).append(off)
            cur_sz += sz
            if cur_sz >= target and len(groups) < self.parts - 1:
                groups.append(cur)
                cur, cur_sz = {}, 0
        if cur:
            groups.append(cur)
        out = []
        for g in groups:
            for f, offs in g.items():
                out.append(BlockRangePartition(f, offs))
        return out

    def read(self, partition: BlockRangePartition):
        if not partition.offsets:
            return
        schema, codec, _sync, _pos = read_header(partition.path)
        codecs = _row_codecs(schema)
        for off in partition.offsets:
            yield from read_block(partition.path, off, codec, codecs)


# ---------------------------------------------------------------------------
# Sink: Spark -> OCF part files
# ---------------------------------------------------------------------------

_AVRO_NAMES = {
    "long": "long",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "binary": "bytes",
    "boolean": "boolean",
}


def spark_to_avro_schema(schema: StructType, name: str = "row") -> dict:
    """Reverse of schema_to_spark: flat Spark schemas over the primitive
    set, nullable fields as ``["null", T]`` unions."""
    fields = []
    for f in schema.fields:
        t = f.dataType.typeName()
        if t not in _AVRO_NAMES:
            raise ValueError(
                f"unsupported Spark type for the Avro sink: {t} (field {f.name})"
            )
        avro_t = _AVRO_NAMES[t]
        fields.append(
            {"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t}
        )
    return {"type": "record", "name": name, "fields": fields}


class AvroOCFWriter(PartFileWriter):
    """Each task writes one OCF task file; the commit publishes them as
    part files (sources/partfiles.py)."""

    ext = "avro"

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        super().__init__(options, overwrite)
        self.codec = options.get("codec", "deflate")
        self.block_records = int(options.get("block_records", 1000))
        self.avro_schema = spark_to_avro_schema(schema)

    def write(self, iterator):
        tmp = self.task_file()
        write_ocf(
            tmp,
            self.avro_schema,
            (tuple(r) for r in iterator),
            codec=self.codec,
            block_records=self.block_records,
        )
        return PartCommit(tmp)


class AvroOCFDataSource(DataSource):
    """``spark.read.format("pyavro").option("path", p).load()`` — schema
    comes from the file's embedded Avro schema (self-describing, as the
    format intends)."""

    @classmethod
    def name(cls):
        return "pyavro"

    def schema(self):
        first = data_files(self.options["path"], "avro")[0]
        avro_schema, _codec, _sync, _pos = read_header(first)
        return schema_to_spark(avro_schema)

    def reader(self, schema: StructType):
        return AvroOCFReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return AvroOCFWriter(self.options, schema, overwrite)

