"""NumPy ``.npy`` array source + sink as a Spark 4 Python DataSource
(``format("pynpy")``).

``.npy`` is the de-facto interchange format for dense numeric arrays —
embedding dumps, model activations, label vectors — written by every
Python ML stack (``np.save``). A training-data engine has to ingest those
dumps without a transcode hop, and Spark ships no reader for them. The
format itself is public and tiny (numpy's ``lib.format`` spec): magic
``\\x93NUMPY``, one ASCII dict header (descr / fortran_order / shape),
then raw little-endian data.

Scale posture: planning reads ONLY the header (O(#files) metadata, no
data bytes); rows are split into ~equal-byte ranges and each task
memory-maps its own slice (``np.load(mmap_mode='r')``), so a task touches
only the pages of its rows. Rows reach Spark as ``pyarrow.RecordBatch``
objects through the Arrow ingest path — zero per-row Python; the numpy
slice converts columnar-to-columnar. A deterministic global ``idx``
column (cumulative row offset in file order) makes results joinable and
oracle-checkable.

The sink writes one ``.npy`` per task with a reserved fixed-width header
that is back-patched with the final shape on close (the standard
streaming-writer trick), so task memory stays one batch; commit is the
package's part-file protocol (sources/partfiles.py), as for the Arrow
IPC sink. Conformance is pinned both directions against numpy
itself (tests/test_npy.py: ``np.save`` files read here; files written
here read back by ``np.load``).

Reference parity: savitaj-Fraud-detection-ETL ingests only CSV
(lambda_function_aws.py:30-38); this is the SURVEY.md §2.1 source-family
seam extended to the dense-array ecosystem the north-star operators
(ANN, dedup, PCA) consume.
"""

from __future__ import annotations

import ast
import struct

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from fraud_detection_etl_project_spark.sources.partfiles import (
    PartCommit,
    PartFileWriter,
    data_files,
)

_MAGIC = b"\x93NUMPY"

# the closed set of dtypes that roundtrip losslessly Spark <-> numpy
_DESCR_TO_SPARK = {
    "<f4": FloatType(),
    "<f8": DoubleType(),
    "<i4": IntegerType(),
    "<i8": LongType(),
}
_SPARK_TO_DESCR = {
    FloatType(): "<f4",
    DoubleType(): "<f8",
    IntegerType(): "<i4",
    LongType(): "<i8",
}
def read_header(path: str) -> tuple[str, tuple[int, ...]]:
    """(descr, shape) from a .npy header — metadata-only (no data pages).
    Rejects fortran order and >2-D arrays: those are a layout rewrite,
    not a scan."""
    with open(path, "rb") as f:
        magic = f.read(6)
        if magic != _MAGIC:
            raise ValueError(f"not a .npy file: {path}")
        major, _minor = f.read(1)[0], f.read(1)[0]
        if major == 1:
            (hlen,) = struct.unpack("<H", f.read(2))
        else:  # 2.0 / 3.0 use a 4-byte length
            (hlen,) = struct.unpack("<I", f.read(4))
        header = ast.literal_eval(f.read(hlen).decode("latin1"))
    descr, shape = header["descr"], tuple(header["shape"])
    if header.get("fortran_order"):
        raise ValueError(f"fortran-order .npy not supported: {path}")
    if descr not in _DESCR_TO_SPARK:
        raise ValueError(f"unsupported .npy dtype {descr!r}: {path}")
    if len(shape) not in (1, 2):
        raise ValueError(f"only 1-D/2-D .npy supported, got shape {shape}: {path}")
    return descr, shape


class NpyRangePartition(InputPartition):
    def __init__(self, path: str, lo: int, hi: int, base_idx: int):
        self.path = path
        self.lo = lo  # row range [lo, hi) within the file
        self.hi = hi
        self.base_idx = base_idx  # global idx of the file's row 0


class NpyReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.parts = int(options.get("parts", 8))
        self.batch_rows = int(options.get("batch_rows", 65536))

    def partitions(self):
        files = data_files(self.path, "npy")
        metas = []  # (file, rows, row_bytes, base_idx)
        base = 0
        for f in files:
            descr, shape = read_header(f)
            rows = shape[0]
            width = shape[1] if len(shape) == 2 else 1
            itemsize = int(descr[2:])
            metas.append((f, rows, width * itemsize, base))
            base += rows
        total_bytes = sum(r * rb for _f, r, rb, _b in metas) or 1
        target = max(1, -(-total_bytes // self.parts))
        out = []
        for f, rows, row_bytes, base_idx in metas:
            if rows == 0:
                continue
            step = max(1, target // row_bytes)
            for lo in range(0, rows, step):
                out.append(NpyRangePartition(f, lo, min(lo + step, rows), base_idx))
        return out or [NpyRangePartition(self.path, 0, 0, 0)]

    def read(self, partition: NpyRangePartition):
        if partition.hi <= partition.lo:
            return
        arr = np.load(partition.path, mmap_mode="r")
        # list<T> carries int32 offsets: cap the batch so rows*width stays
        # under 2^31 elements (a 40k-wide embedding matrix at the default
        # batch_rows would otherwise wrap the offsets negative)
        width = arr.shape[1] if arr.ndim == 2 else 1
        step = min(self.batch_rows, max(1, (2**31 - 1) // max(1, width)))
        for lo in range(partition.lo, partition.hi, step):
            hi = min(lo + step, partition.hi)
            chunk = np.ascontiguousarray(arr[lo:hi])
            idx = pa.array(
                np.arange(partition.base_idx + lo, partition.base_idx + hi, dtype=np.int64)
            )
            if chunk.ndim == 1:
                yield pa.record_batch([idx, pa.array(chunk)], names=["idx", "value"])
            else:
                flat = pa.array(chunk.reshape(-1))
                offsets = pa.array(
                    np.arange(0, (hi - lo + 1) * chunk.shape[1], chunk.shape[1], dtype=np.int32)
                )
                vec = pa.ListArray.from_arrays(offsets, flat)
                yield pa.record_batch([idx, vec], names=["idx", "vec"])


_HEADER_ROOM = 128  # reserved v1 header bytes, back-patched on close


def _write_header(f, descr: str, shape: tuple[int, ...]) -> None:
    body = "{'descr': '%s', 'fortran_order': False, 'shape': %s, }" % (
        descr,
        repr(shape) if len(shape) > 1 else f"({shape[0]},)",
    )
    pad = _HEADER_ROOM - len(_MAGIC) - 2 - 2 - 1 - len(body)
    if pad < 0:
        raise ValueError("npy header overflow")
    f.write(_MAGIC + bytes([1, 0]) + struct.pack("<H", _HEADER_ROOM - len(_MAGIC) - 4))
    f.write((body + " " * pad + "\n").encode("latin1"))


class NpyWriter(PartFileWriter):
    """One .npy per task, streamed: header room is reserved up front,
    row batches append as raw little-endian bytes, and the true shape is
    back-patched on close — task memory stays one batch regardless of
    row count. Supports (vec array<numeric>) -> 2-D with a fixed width
    asserted across rows, or a single numeric column -> 1-D."""

    ext = "npy"

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        super().__init__(options, overwrite)
        self.batch_rows = int(options.get("batch_rows", 65536))
        data_fields = [f for f in schema.fields if f.name != "idx"]
        if len(data_fields) != 1:
            raise ValueError(
                "pynpy sink expects exactly one data column (plus optional idx), "
                f"got {[f.name for f in schema.fields]}"
            )
        f = data_fields[0]
        if isinstance(f.dataType, ArrayType):
            descr = _SPARK_TO_DESCR.get(f.dataType.elementType)
            self.two_d = True
        else:
            descr = _SPARK_TO_DESCR.get(f.dataType)
            self.two_d = False
        if descr is None:
            raise ValueError(f"unsupported pynpy sink type: {f.dataType}")
        self.descr = descr
        self.col = f.name
        self.np_dtype = np.dtype(descr)

    def write(self, iterator):
        tmp = self.task_file()
        n, width = 0, None
        with open(tmp, "wb") as f:
            f.write(b"\x00" * _HEADER_ROOM)  # room for the real header
            buf: list = []
            for row in iterator:
                buf.append(row[self.col])
                if len(buf) >= self.batch_rows:
                    width = self._flush(f, buf, width)
                    n += len(buf)
                    buf = []
            if buf:
                width = self._flush(f, buf, width)
                n += len(buf)
        with open(tmp, "r+b") as f:
            shape = (n, width or 0) if self.two_d else (n,)
            _write_header(f, self.descr, shape)
        return PartCommit(tmp)

    def _flush(self, f, buf: list, width: int | None) -> int | None:
        if self.two_d:
            for v in buf:
                if width is None:
                    width = len(v)
                elif len(v) != width:
                    raise ValueError(
                        f"ragged vectors: expected width {width}, got {len(v)}"
                    )
            arr = np.asarray([list(v) for v in buf], dtype=self.np_dtype)
        else:
            arr = np.asarray(buf, dtype=self.np_dtype)
        f.write(np.ascontiguousarray(arr).tobytes())
        return width


class NpyDataSource(DataSource):
    """``spark.read.format("pynpy").option("path", p).load()`` — schema
    from the header: (idx bigint, value <T>) for 1-D, (idx bigint,
    vec array<T>) for 2-D."""

    @classmethod
    def name(cls):
        return "pynpy"

    def schema(self):
        files = data_files(self.options["path"], "npy")
        if not files:
            raise FileNotFoundError(
                f"no .npy files under {self.options['path']!r}"
            )
        descr, shape = read_header(files[0])
        t = _DESCR_TO_SPARK[descr]
        # everything nullable: Spark's Arrow ingest is strict about type
        # parity and lenient-nullable is the safe declaration for batches
        # built from numpy (which cannot carry nulls anyway)
        data_field = (
            StructField("vec", ArrayType(t, True), True)
            if len(shape) == 2
            else StructField("value", t, True)
        )
        return StructType([StructField("idx", LongType(), True), data_field])

    def reader(self, schema: StructType):
        return NpyReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return NpyWriter(self.options, schema, overwrite)

