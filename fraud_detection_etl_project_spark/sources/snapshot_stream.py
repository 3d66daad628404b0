"""Streaming source over a snapshot-versioned table (``snapshot.py``):
``spark.readStream.format("pysnapshot").option("path", t)`` tails the
table's append-only commit log as a Structured Streaming source — the
"table as a stream" capability (Delta's change-feed streaming / Iceberg
incremental read, re-derived from the public designs) that turns the
snapshot table into the hub of incremental pipelines:

- **Offsets are version numbers.** ``initialOffset`` = 0 (or
  ``startingVersion``), ``latestOffset`` = the manifest CURRENT points
  at. Both are O(1) metadata reads — no directory listing, no file
  mtime heuristics (the failure mode of Spark's plain file stream on a
  table that compacts).
- **A micro-batch is a manifest diff.** ``partitions(start, end)``
  yields one input partition per file ADDED in versions
  ``(start, end]`` — appends list exactly their new files, so the
  stream reads only new data, never rescans the table. CoW rewrites
  (merge/delete/compact/overwrite past v1) make row-level changes
  ambiguous at file granularity; they raise rather than emit a wrong
  feed, mirroring ``snapshot.read_changes``.
- **Replay-safe.** Versions and their file lists are immutable, so any
  committed offset range replays bit-identically after a crash;
  paired with ``snapshot.foreach_batch_writer`` (idempotent batch-id
  appends) the whole table→stream→table pipeline is exactly-once end
  to end (tested in tests/test_snapshot_stream.py).
- Every output row is tagged ``_commit_version`` so downstream logic
  can window or dedup by commit.

Scale posture: planning is pure manifest metadata (O(#new files) per
trigger); reads are per-file partitions that scale with the executor
count. Rows are decoded from parquet via pyarrow per partition; for
JVM-speed ingestion of huge appends, read the same versions in batch
via ``snapshot.read_changes`` — this source is the continuous-tail
path, sized for micro-batches.

Reference parity: the reference's trigger is "new object in S3 →
process it once" (`/root/reference/Terraform/provisioning.tf` S3
notification wiring); this source is that contract against a
transactional table instead of a bucket listing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_CURRENT = "CURRENT"


def _current_version(table_path: str) -> int | None:
    # head = highest generation in CURRENT's CAS log (mirrors
    # snapshot._gen_head; duplicated because this module ships
    # self-contained to the Python data-source worker); None before the
    # table's first commit
    heads = os.path.join(table_path, _MANIFEST_DIR, "heads", _CURRENT)
    for _attempt in range(64):
        try:
            gens = [int(g[1:]) for g in os.listdir(heads) if g.startswith("g")]
        except FileNotFoundError:
            return None
        if not gens:
            return None
        try:  # retry: vacuum may prune a non-max entry between list and read
            with open(os.path.join(heads, f"g{max(gens):010d}")) as f:
                name = f.read().strip()
            # %05d zero-pads; versions grow past 5 digits — parse to the suffix
            return int(name[1 : name.index(".")])
        except FileNotFoundError:
            continue
    # every list-then-read lost the race: raise rather than guess, since
    # a stale answer would move the stream's latestOffset backwards
    raise RuntimeError(f"CURRENT head unreadable after retries: {heads}")


def _manifest(table_path: str, version: int) -> dict:
    p = os.path.join(table_path, _MANIFEST_DIR, f"v{version:05d}.json")
    with open(p) as f:
        return json.load(f)


class SnapshotFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        version: int,
        field_names: list[str],
        field_types: list[str],
    ):
        self.path = path
        self.version = version
        self.field_names = field_names
        self.field_types = field_types  # Spark simple type names, schema order


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.table_path = options.get("path") or options.get("table_path")
        if not self.table_path:
            raise ValueError("pysnapshot stream requires .option('path', <table dir>)")
        self.start_version = int(options.get("startingversion", 0))
        # backpressure: cap how many commits one micro-batch may absorb
        # (None = unbounded). The version walk makes this exact — a
        # trigger ingests at most N commits' files, and the remainder
        # stays durable in the table, not in executor memory.
        mvpt = options.get("maxversionspertrigger")
        self.max_versions_per_trigger = int(mvpt) if mvpt is not None else None
        self._last_planned = self.start_version
        # manifests are immutable, so version -> parent memoizes safely;
        # without it every capped latestOffset re-walks O(history)
        # manifest files per trigger on a long-lived table
        self._parent_cache: dict[int, int | None] = {}
        schema_json = _schema_json(self.table_path)
        fields = json.loads(schema_json)["fields"]
        self.field_names = [f["name"] for f in fields]
        # simple-type names ('long', 'string', ...); nested types arrive
        # as dicts and fall back to the row path in read()
        self.field_types = [
            f["type"] if isinstance(f["type"], str) else "complex" for f in fields
        ]

    def _parent(self, v: int) -> int | None:
        """Cached parent pointer; None also when the manifest itself has
        been vacuumed (chain truncates at the retention horizon — the
        versions below it are unreadable either way)."""
        if v not in self._parent_cache:
            try:
                self._parent_cache[v] = _manifest(self.table_path, v).get("parent")
            except FileNotFoundError:
                self._parent_cache[v] = None
        return self._parent_cache[v]

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        v = _current_version(self.table_path)
        if v is None:
            return {"version": self.start_version}
        if self.max_versions_per_trigger is not None:
            # cap along MAIN's parent chain (numeric `last + N` could name
            # a branch commit once refs exist): take the N oldest
            # not-yet-planned commits of CURRENT's lineage
            pending: list[int] = []
            x: int | None = v
            while x is not None and x > self._last_planned:
                pending.append(x)
                x = self._parent(x)
            pending.sort()
            if pending:
                v = pending[min(self.max_versions_per_trigger, len(pending)) - 1]
            else:
                v = self._last_planned
        # never report an offset below startingVersion: a start ahead of
        # CURRENT would otherwise regress the checkpoint and later emit
        # the versions the caller asked to skip
        return {"version": max(v, self.start_version)}

    def partitions(self, start: dict, end: dict):
        # rate-limit bookkeeping: the engine's start IS the committed
        # offset, so future latestOffset caps advance from here (also
        # heals the restart case, where _last_planned begins at
        # startingVersion but the checkpoint is further along)
        self._last_planned = max(self._last_planned, end["version"])
        parts: list[SnapshotFilePartition] = []
        ddir = os.path.join(self.table_path, _DATA_DIR)
        # walk MAIN's parent chain, not the numeric range: with branch
        # refs in play, interleaved version numbers can belong to other
        # branches — a numeric walk would leak unpublished branch files
        # into the stream (and its manifests may not even exist after a
        # branch is dropped)
        lineage: list[int] = []
        v: int | None = end["version"]
        while v is not None and v > start["version"]:
            lineage.append(v)
            nxt = self._parent(v)
            if nxt is None and v > start["version"] + 1:
                # the chain broke before reaching the committed offset:
                # those versions' data is needed, not skippable
                raise ValueError(
                    f"snapshot history between v{start['version']} and v{v} "
                    "has been vacuumed — the stream checkpoint is older than "
                    "the table's retention window"
                )
            v = nxt
        for v in sorted(lineage):
            m = _manifest(self.table_path, v)
            if m["operation"] in ("mor-delete", "dv-delete"):
                continue  # metadata-only commits: add no data files, and
                # this stream's contract is insert-rows-only (deleted
                # keys/rows are exposed via snapshot.read_changes instead)
            if m["operation"] != "append" and m["parent"] is not None:
                raise ValueError(
                    f"v{v} is {m['operation']!r}: streaming a snapshot table "
                    "requires append-only history past its first commit"
                )
            prev = set(_manifest(self.table_path, m["parent"])["files"]) if m["parent"] else set()
            for f in m["files"]:
                if f not in prev:
                    parts.append(
                        SnapshotFilePartition(
                            os.path.join(ddir, f), v, self.field_names,
                            self.field_types,
                        )
                    )
        return parts

    # Spark simple-type name -> the Arrow type the Python-data-source
    # Arrow fast path must hand back (Spark 4 accepts pyarrow
    # RecordBatches from read(), skipping per-row Python entirely)
    _ARROW_SAFE = {
        "long": "int64", "integer": "int32", "short": "int16", "byte": "int8",
        "double": "float64", "float": "float32", "string": "string",
        "boolean": "bool",
    }

    def read(self, partition: SnapshotFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path)
        names, types = partition.field_names, partition.field_types
        safe = all(t in self._ARROW_SAFE for t in types) and set(names) <= set(
            tbl.schema.names
        )
        if safe:
            # Arrow fast path: project + cast to the declared schema and
            # yield RecordBatches — micro-batch ingestion at Arrow speed,
            # no per-row Python. Files written before a schema evolution
            # (missing columns) or with nested types take the row path.
            arrays = [
                tbl.column(n).cast(pa.type_for_alias(self._ARROW_SAFE[t]))
                for n, t in zip(names, types)
            ]
            arrays.append(pa.array([partition.version] * len(tbl), pa.int32()))
            out = pa.table(arrays, names=names + ["_commit_version"])
            yield from out.to_batches()
            return
        avail = set(tbl.schema.names)
        for row in tbl.to_pylist():
            yield tuple(
                row[n] if n in avail else None for n in names
            ) + (partition.version,)

    def commit(self, end: dict) -> None:
        # offsets are durable in the stream checkpoint; just advance the
        # rate-limit floor so caps never compute below committed progress
        self._last_planned = max(self._last_planned, end["version"])


def _schema_json(table_path: str) -> str:
    v = _current_version(table_path)
    if v is None:
        raise FileNotFoundError(f"snapshot table has no committed version: {table_path}")
    s = _manifest(table_path, v).get("schema")
    if s is None:
        raise ValueError(
            "snapshot table manifest records no schema (old format); "
            "rewrite it with snapshot.overwrite/append to stream it"
        )
    return s


class SnapshotTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pysnapshot"

    def schema(self):
        from pyspark.sql.types import IntegerType, StructField, StructType

        base = StructType.fromJson(
            json.loads(_schema_json(self.options.get("path") or self.options.get("table_path")))
        )
        return StructType(base.fields + [StructField("_commit_version", IntegerType(), False)])

    def streamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(self.options)

