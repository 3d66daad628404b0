"""Streaming source over the snapshot table: version offsets, manifest
diff planning, replay safety, end-to-end exactly-once table→table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fraud_detection_etl_project_spark import snapshot as S
from fraud_detection_etl_project_spark.sources import snapshot_stream as SS
from fraud_detection_etl_project_spark.sources.partfiles import register


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _drain(spark, src_tbl, ckpt, sink_name, starting_version=None):
    register(spark, SS.SnapshotTableDataSource)
    reader = spark.readStream.format("pysnapshot").option("path", src_tbl)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {sink_name}")


def test_stream_tails_appends_with_commit_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.overwrite(_kv(spark, 0, 5), t)      # v1 (creation)
    S.append(_kv(spark, 5, 8), t)         # v2
    out = _drain(spark, t, str(tmp_path / "c1"), "snap_tail_1")
    rows = {(r["k"], r["v"], r["_commit_version"]) for r in out.collect()}
    assert len(rows) == 8
    assert {c for _, _, c in rows} == {1, 2}
    assert (6, 12, 2) in rows and (0, 0, 1) in rows


def test_stream_resumes_from_checkpoint_only_new_versions(spark, tmp_path):
    """The memory sink cannot recover a checkpoint; foreachBatch can —
    each drain sees only versions committed since the last one."""
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "c2")
    S.overwrite(_kv(spark, 0, 4), t)
    register(spark, SS.SnapshotTableDataSource)
    seen: list[tuple] = []

    def run():
        q = (
            spark.readStream.format("pysnapshot")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(
                lambda df, _bid: seen.extend(
                    (r["k"], r["_commit_version"]) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(k for k, _ in seen) == [0, 1, 2, 3]
    seen.clear()
    S.append(_kv(spark, 4, 9), t)         # new commit after first drain
    run()
    assert sorted(k for k, _ in seen) == [4, 5, 6, 7, 8]
    assert {c for _, c in seen} == {2}


def test_stream_starting_version_skips_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.overwrite(_kv(spark, 0, 4), t)
    S.append(_kv(spark, 4, 6), t)
    out = _drain(
        spark, t, str(tmp_path / "c3"), "snap_tail_3", starting_version=1
    )
    assert sorted(r["k"] for r in out.collect()) == [4, 5]


def test_stream_refuses_cow_rewrites(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.overwrite(_kv(spark, 0, 6), t)
    S.delete(spark, t, [("k", "<", 2)])   # v2: CoW rewrite
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, t, str(tmp_path / "c4"), "snap_tail_4").collect()


def test_max_versions_per_trigger_paces_batches(spark, tmp_path):
    """maxVersionsPerTrigger=1 over a 3-version backlog: each micro-batch
    absorbs exactly one commit's rows, in commit order — bounded-memory
    backlog draining (the remainder stays in the table, not in RAM)."""
    t = str(tmp_path / "tbl")
    S.overwrite(_kv(spark, 0, 3), t)           # v1
    S.append(_kv(spark, 3, 5), t)              # v2
    S.append(_kv(spark, 5, 6), t)              # v3
    register(spark, SS.SnapshotTableDataSource)
    batches: list[set] = []

    def sink(df, _bid):
        rows = {(r["k"], r["_commit_version"]) for r in df.collect()}
        if rows:
            batches.append(rows)

    q = (
        spark.readStream.format("pysnapshot")
        .option("path", t)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "c6"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 90
    while sum(len(b) for b in batches) < 6 and time.time() < deadline:
        time.sleep(1)
    q.stop()
    assert sum(len(b) for b in batches) == 6
    assert len(batches) == 3, [sorted(b) for b in batches]  # one commit per batch
    assert [sorted({v for _, v in b})[0] for b in batches] == [1, 2, 3]


def test_streaming_upsert_merge_exactly_once(spark, tmp_path):
    """CDC-style streaming upsert: a pysnapshot stream of key/value
    images applied into a second table via foreach_batch_merger —
    updates replace, inserts land, and a hand-replayed batch (the
    crash-between-merge-and-checkpoint case) is a no-op."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "c8")
    # destination starts with keys 0..9, v = k
    S.overwrite(
        spark.range(0, 10).select(F.col("id").alias("k"), F.col("id").alias("v")), dst
    )
    # source stream: updates for 2,3 and inserts 100,101
    S.overwrite(
        spark.createDataFrame([(2, -2), (3, -3), (100, 1), (101, 2)], "k long, v long"),
        src,
    )
    register(spark, SS.SnapshotTableDataSource)
    writer = S.foreach_batch_merger(dst, ["k"])
    q = (
        spark.readStream.format("pysnapshot")
        .option("path", src)
        .load()
        .select("k", "v")
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in S.read(spark, dst).collect()}
    assert len(got) == 12 and got[2] == -2 and got[3] == -3 and got[100] == 1
    v_after = S.current_version(dst)
    # replay the same micro-batch id: no-op, version unchanged
    writer(
        spark.createDataFrame([(2, 999)], "k long, v long").withColumn("v", F.col("v")),
        0,
    )
    assert S.current_version(dst) == v_after
    assert {r["v"] for r in S.read(spark, dst).filter("k = 2").collect()} == {-2}


def test_rate_limited_stream_restart_neither_stalls_nor_duplicates(spark, tmp_path):
    """Restarting a maxVersionsPerTrigger stream from a checkpoint whose
    committed version is ahead of the reader's fresh internal floor must
    neither regress offsets (duplicates) nor stall — the engine's
    committed offset wins and partitions() re-anchors the cap."""
    import time

    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "c7")
    S.overwrite(_kv(spark, 0, 3), t)
    S.append(_kv(spark, 3, 5), t)
    register(spark, SS.SnapshotTableDataSource)
    seen: list[int] = []

    def run(nsec):
        q = (
            spark.readStream.format("pysnapshot")
            .option("path", t)
            .option("maxVersionsPerTrigger", "1")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: seen.extend(r["k"] for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + nsec
        while time.time() < deadline:
            time.sleep(1)
        q.stop()
        q.awaitTermination(30)

    run(12)
    assert sorted(seen) == [0, 1, 2, 3, 4]
    seen.clear()
    S.append(_kv(spark, 5, 7), t)  # committed after the stop
    run(15)
    assert sorted(seen) == [5, 6], seen  # new version only: no dup, no stall


def test_table_to_table_pipeline_exactly_once(spark, tmp_path):
    """snapshot → pysnapshot stream → foreach_batch_writer snapshot:
    the full incremental-ETL loop. Draining twice without new source
    commits must not duplicate rows in the sink table (idempotent
    batch ids + durable stream offsets)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "c5")
    S.overwrite(_kv(spark, 0, 10), src)
    register(spark, SS.SnapshotTableDataSource)

    def run():
        q = (
            spark.readStream.format("pysnapshot")
            .option("path", src)
            .load()
            .select("k", (F.col("v") * 10).alias("v10"))
            .writeStream.foreachBatch(S.foreach_batch_writer(dst))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert S.read(spark, dst).count() == 10
    run()  # no new source versions: no new rows
    assert S.read(spark, dst).count() == 10
    S.append(_kv(spark, 10, 13), src)
    run()
    got = {r["k"]: r["v10"] for r in S.read(spark, dst).collect()}
    assert len(got) == 13 and got[12] == 240


def test_stream_current_version_never_regresses_to_mirror(tmp_path, monkeypatch):
    """When every list-then-read attempt of the generation log loses the
    race, the stream reader must raise (like snapshot._gen_head), not
    answer from a stale ``_manifests/CURRENT`` file — a lagging answer
    would move latestOffset backwards (round-7 fix)."""
    import os

    t = str(tmp_path / "tbl")
    heads = os.path.join(t, "_manifests", "heads", "CURRENT")
    os.makedirs(heads)
    # stale mirror pointing at an OLD version — must never be consulted
    with open(os.path.join(t, "_manifests", "CURRENT"), "w") as f:
        f.write("v00001.json")
    real_listdir = os.listdir

    def ghost_listdir(path):
        if os.path.abspath(path) == os.path.abspath(heads):
            return ["g0000000042"]  # listed, but the read will 404
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", ghost_listdir)
    with pytest.raises(RuntimeError, match="unreadable after retries"):
        SS._current_version(t)


def test_stream_tails_a_partitioned_table(spark, tmp_path):
    """The self-contained stream reader must tail a PARTITION-SPEC'd
    table (round 7): partitioned manifests carry extra keys and
    hash-clustered multi-file commits, but the stream's contract —
    every appended row exactly once, tagged with its commit version —
    is layout-independent."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    df1 = spark.range(0, 12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    S.overwrite(df1, t, partition_spec=[{"column": "g", "transform": "identity"}])
    S.append(
        spark.range(100, 106).select(F.col("id").alias("k"), (F.col("id") % 3).alias("g")),
        t,
    )
    assert len(S.read_manifest(t, 2)["files"]) >= 4  # multi-file, clustered
    out = _drain(spark, t, str(tmp_path / "cp"), "snap_part_tail")
    rows = {(r["k"], r["_commit_version"]) for r in out.collect()}
    assert {k for k, _ in rows} == set(range(12)) | set(range(100, 106))
    assert {c for _, c in rows} == {1, 2}
    assert sum(1 for _, c in rows if c == 2) == 6


def test_streaming_cdc_merge_with_deletes_exactly_once(spark, tmp_path):
    """Op-tagged streaming CDC apply (round 9, foreach_batch_cdc_merger):
    a pysnapshot stream of (k, v, op) images applied with deletes —
    updates replace, inserts land, tombstones remove — and a replayed
    batch id is a no-op."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "c9")
    S.overwrite(
        spark.range(0, 10).select(F.col("id").alias("k"), F.col("id").alias("v")), dst
    )
    S.overwrite(
        spark.createDataFrame(
            [(2, -2, "U"), (100, 1, "I"), (5, None, "D"), (7, None, "D")],
            "k long, v long, op string",
        ),
        src,
    )
    register(spark, SS.SnapshotTableDataSource)
    writer = S.foreach_batch_cdc_merger(dst, ["k"])
    q = (
        spark.readStream.format("pysnapshot")
        .option("path", src)
        .load()
        .select("k", "v", "op")
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in S.read(spark, dst).collect()}
    assert len(got) == 9  # 10 - 2 deleted + 1 inserted
    assert got[2] == -2 and got[100] == 1 and 5 not in got and 7 not in got
    v_after = S.current_version(dst)
    writer(
        spark.createDataFrame([(2, 999, "U")], "k long, v long, op string"), 0
    )  # replayed micro-batch id: no-op
    assert S.current_version(dst) == v_after and S.read(spark, dst).count() == 9
