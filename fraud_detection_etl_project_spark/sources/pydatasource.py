"""Custom Python DataSource (the Spark 4 ``pyspark.sql.datasource`` API).

The reference's "fetch from remote, then process" step (SURVEY.md §2.1 S2)
is obsolete for formats Spark reads natively — but for systems Spark has
no connector for (REST pages, bespoke binary feeds, message-queue
snapshots), the Python DataSource API is the idiomatic answer: a
first-class source with partition planning, so the fetch itself is
parallel and appears in the plan as a scan (column pruning and, in Spark
4.1+, filter pushdown via ``pushFilters`` apply).

``SyntheticRowsDataSource`` here is the deterministic, dependency-free
instance: rows are pure functions of the row id, split across
``parts`` range partitions — each partition fetches independently, the
exact shape a paged-REST or object-listing source takes at scale. Being
deterministic, its output is value-checkable against a SQL oracle
(`synthetic_source_rollup`), which is the point: the CONNECTOR machinery
(registration, options, partition planning, per-partition iterators) is
exercised and verified, and a real external source swaps into ``read()``
without touching the plumbing.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# LCG constants (glibc) for the deterministic bucket column — arbitrary,
# mirrored verbatim in the oracle SQL.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 97


class RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticRowsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        step = -(-self.n // self.parts)  # ceil division
        return [
            RangePartition(lo, min(lo + step, self.n)) for lo in range(0, self.n, step)
        ]

    def read(self, partition: RangePartition):
        for i in range(partition.start, partition.end):
            yield (
                i,
                (_LCG_A * i + _LCG_C) % _LCG_M,
                hashlib.md5(str(i).encode()).hexdigest(),
            )


class SyntheticRowsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "syntheticrows"

    def schema(self) -> str:
        return "id BIGINT, bucket INT, fp STRING"

    def reader(self, schema) -> SyntheticRowsReader:
        return SyntheticRowsReader(self.options)


class SyntheticRowsStreamReader(SimpleDataSourceStreamReader):
    """Streaming variant: the same deterministic rows delivered as an
    offset-tracked micro-batch stream — the wrapper shape for polling an
    external system (queue cursor, API page token) as a Structured
    Streaming source. Offsets are row positions; each ``read`` serves at
    most ``batch`` rows and advances the offset, ending at ``n`` (a
    bounded stream, so availableNow drains deterministically and replay
    from any committed offset yields identical rows)."""

    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.batch = int(options.get("batch", 250))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        lo = start["pos"]
        hi = min(lo + self.batch, self.n)
        rows = [
            (i, (_LCG_A * i + _LCG_C) % _LCG_M, hashlib.md5(str(i).encode()).hexdigest())
            for i in range(lo, hi)
        ]
        return iter(rows), {"pos": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            (i, (_LCG_A * i + _LCG_C) % _LCG_M, hashlib.md5(str(i).encode()).hexdigest())
            for i in range(start["pos"], end["pos"])
        )


class SyntheticRowsDataSourceStreaming(SyntheticRowsDataSource):
    @classmethod
    def name(cls) -> str:
        return "syntheticrowsstream"

    def simpleStreamReader(self, schema) -> SyntheticRowsStreamReader:
        return SyntheticRowsStreamReader(self.options)

