"""Observability: staged counts and structured run metrics (SURVEY.md §2.11).

The reference is unusually explicit here — it logs a row count after every
stage (``lambda_function_aws.py:40,47,53,100``) and returns a structured
status body (``:56-60,106-113``). This module is the engine-native version:

- **Batch**: `observed` attaches an ``Observation`` to any DataFrame stage;
  counts piggyback on whatever action runs the plan — the pipeline is read
  ONCE (the reference re-materializes per stage). ``pipeline.run_batch``
  composes these into the reference's RunReport.
- **Streaming**: `MetricsListener` captures per-micro-batch progress
  (input rows, processed rows/sec, batch duration) from the streaming
  engine's own event bus — the CloudWatch-log analog, as data instead of
  log lines.
- **Codegen**: `codegen_compiles` reads the JVM's count of Janino class
  compiles, so a caller can tell a warm run (classes served from Spark's
  generated-class cache) from one that compiled its plan again.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener


def observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach a row-count observation to this point of the plan. Free at
    scale: metrics ride the existing action, no extra job, no extra scan."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def codegen_compiles(spark) -> int:
    """Janino compiles so far in this session's JVM (whole-stage and
    projection classes, driver and local executors alike). Take the
    difference across a run: a query whose classes are all in the
    generated-class cache compiles none."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@dataclass
class BatchProgress:
    batch_id: int
    num_input_rows: int
    processed_rows_per_second: float
    duration_ms: int


@dataclass
class MetricsListener(StreamingQueryListener):
    """Collects per-batch progress for all streaming queries on the session.

    Register with ``spark.streams.addListener(listener)``; read
    ``listener.progress`` after (or during) the run. Each entry mirrors the
    reference's per-invocation "rows fetched/inserted" logging at
    micro-batch granularity.
    """

    progress: list[BatchProgress] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = event.progress
        self.progress.append(
            BatchProgress(
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                processed_rows_per_second=p.processedRowsPerSecond or 0.0,
                duration_ms=(p.durationMs or {}).get("triggerExecution", 0),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    @property
    def total_input_rows(self) -> int:
        return sum(p.num_input_rows for p in self.progress)
