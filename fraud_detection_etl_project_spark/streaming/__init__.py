"""Structured Streaming pipelines (SURVEY.md §2.9)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame


def drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Run the bounded streaming frame ``df`` to completion and return its
    result as a batch frame.

    One ``availableNow`` query into a memory sink, awaited; the sink is
    read with ``table`` and its temp view dropped before returning, also
    when the query fails. ``table`` is analyzed eagerly, so the returned
    frame's plan holds the sink itself: its rows live exactly as long as
    the caller holds the frame, and no memory table stays registered in
    the session. Spark deletes the query's temporary checkpoint when the
    query stops.

    On a ``get_spark`` local session the checkpoint is written through
    Spark's ``FileSystemBasedCheckpointFileManager`` (see
    ``session.get_spark``), whose rename forks nothing. A
    ``stream_velocity_alerts`` drain at sf0.1 still forks ~40 ``chmod``
    processes, one per local file create or mkdir (Hadoop without
    ``libhadoop``); under the ``FileContext`` default it forked 152.
    """
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
