"""Streaming pipeline tests: landing-dir micro-batches, replay idempotency,
windowed rollup equivalence (SURVEY.md §2.9 / §5.2-4)."""

from __future__ import annotations

import shutil

from fraud_detection_etl_project_spark.plans.relational_queries import REFERENCE_SAMPLE_CSV as SAMPLE
from fraud_detection_etl_project_spark.sources.parquet import load_table
from fraud_detection_etl_project_spark.streaming.file_pipeline import run_fraud_stream
from fraud_detection_etl_project_spark.streaming.windows import hourly_event_rollup
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

HEADER = (
    "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest,"
    "oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"
)


def _write_landing(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(SAMPLE, landing / "file1.csv")
    # second file: one clean fraud TRANSFER row
    (landing / "file2.csv").write_text(
        HEADER + "\n9,TRANSFER,500.0,C9,500.0,0.0,C10,0.0,0.0,1,0\n"
    )
    return landing


def test_fraud_stream_two_files(spark, tmp_path):
    landing = _write_landing(tmp_path)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    run_fraud_stream(spark, str(landing), ckpt, sink)
    out = spark.read.parquet(out_dir)
    # sample contributes 2 fraud rows, file2 contributes 1
    assert out.count() == 3
    assert out.filter(F.col("amount") == 500.0).count() == 1


def test_fraud_stream_replay_is_idempotent(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint must not
    re-process files — closes the reference's duplicate-S3-event gap
    (lambda_function_aws.py:72,90-97 appends blindly)."""
    landing = _write_landing(tmp_path)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    run_fraud_stream(spark, str(landing), ckpt, sink)
    run_fraud_stream(spark, str(landing), ckpt, sink)  # replay, same checkpoint
    assert spark.read.parquet(out_dir).count() == 3


def test_fraud_stream_picks_up_new_file(spark, tmp_path):
    landing = _write_landing(tmp_path)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    run_fraud_stream(spark, str(landing), ckpt, sink)
    (landing / "file3.csv").write_text(
        HEADER + "\n10,CASH_OUT,60.0,C11,60.0,0.0,C12,0.0,0.0,0,1\n"
    )
    run_fraud_stream(spark, str(landing), ckpt, sink)
    assert spark.read.parquet(out_dir).count() == 4


def test_hourly_rollup_matches_batch(spark):
    stream_out = hourly_event_rollup(spark, SF)
    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    s = {(r["window_start"], r["event_type"]): r["n_events"] for r in stream_out.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert s == b


def test_dedup_within_watermark_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event_ids arriving within
    the watermark horizon collapse to one row (the fixture has no dups, so
    the dedup path needs synthetic re-delivery)."""
    import uuid

    from pyspark.sql import functions as F  # noqa: F811

    d = tmp_path / "events_landing"
    d.mkdir()
    rows = [
        (1, 1_000_000_000_000, 7, "click", 1.0, "{}"),
        (1, 1_000_000_000_000, 7, "click", 1.0, "{}"),  # exact re-delivery
        (2, 1_000_500_000_000, 7, "view", 2.0, "{}"),
        (2, 1_000_500_000_123, 7, "view", 2.0, "{}"),  # re-delivery, jittered ts
        (3, 2_000_000_000_000, 8, "purchase", 3.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).write.mode(
        "overwrite"
    ).parquet(str(d))

    from fraud_detection_etl_project_spark.schemas import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(str(d))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert got == [1, 2, 3]


def test_cdc_stream_merges_and_replays_idempotently(spark, tmp_path):
    """Change-feed files stream into a parquet target via foreachBatch +
    apply_cdc: updates land, inserts land, deletes remove, per-key seq
    conflicts resolve highest-wins — and a replayed drain (same checkpoint,
    no new files) leaves the target unchanged."""
    from fraud_detection_etl_project_spark.streaming.cdc import run_cdc_stream

    target = str(tmp_path / "target")
    landing = tmp_path / "landing"
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, price double"
    ).write.parquet(target)
    (landing / "f1.csv").write_text("k,op,price,seq\n2,U,21.0,1\n4,I,40.0,1\n")
    (landing / "f2.csv").write_text("k,op,price,seq\n1,D,,2\n4,U,41.0,2\n")
    schema = "k long, op string, price double, seq long"

    run_cdc_stream(spark, str(landing), ckpt, target, schema)
    got = {r["k"]: r["price"] for r in spark.read.parquet(target).collect()}
    assert got == {2: 21.0, 3: 30.0, 4: 41.0}  # 1 deleted, 2 updated, 4 upserted

    run_cdc_stream(spark, str(landing), ckpt, target, schema)  # replay: no-op
    again = {r["k"]: r["price"] for r in spark.read.parquet(target).collect()}
    assert again == got


def test_python_stream_source_offset_walk(spark, tmp_path):
    """The custom streaming DataSource pages through its offset range:
    each availableNow drain with a shared checkpoint advances the cursor
    by one batch (600 rows), never re-delivering, until the bounded
    stream is exhausted — the queue-cursor replay contract."""
    from fraud_detection_etl_project_spark.sources.pydatasource import register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.format("syntheticrowsstream")
            .option("n", 2000).option("batch", 600).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    sizes = [drain().count() for _ in range(4)]
    assert sizes == [600, 1200, 1800, 2000]  # one 600-row page per drain, capped at n
    final = drain()  # exhausted: no re-delivery
    assert final.count() == 2000
    assert sorted(r["id"] for r in final.select("id").collect()) == list(range(2000))


def test_rocksdb_state_store_matches_default_provider(spark):
    """The state-store provider is a storage engine, not a semantics
    change: the same watermarked stateful query must produce identical
    results under heap-backed and RocksDB state (streaming/state.py —
    the 100 TB posture is RocksDB, where live keys exceed any heap)."""
    from fraud_detection_etl_project_spark.streaming.state import (
        ROCKSDB_PROVIDER,
        use_default_state,
        use_rocksdb_state,
    )

    def run():
        out = hourly_event_rollup(spark, SF)
        return {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in out.collect()
        }

    baseline = run()
    use_rocksdb_state(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        assert run() == baseline
    finally:
        use_default_state(spark)
    assert baseline  # non-empty: the parity check compared real windows


def test_backlog_flood_drains_in_bounded_microbatches(spark, tmp_path):
    """Backpressure: 8 backlog files land before the job starts (the
    S3-event model's recovery-after-outage case). With maxBytesPerTrigger
    ~ 2 files, availableNow must drain the whole backlog as MULTIPLE
    micro-batches, each admitting a bounded number of files — never one
    monster batch — and deliver every row exactly once."""
    landing = tmp_path / "landing"
    landing.mkdir()
    n_files = 8
    for i in range(n_files):
        (landing / f"flood{i}.csv").write_text(
            HEADER + f"\n9,TRANSFER,{500.0 + i},C{i},{500.0 + i},0.0,D{i},0.0,0.0,1,0\n"
        )
    file_bytes = (landing / "flood0.csv").stat().st_size
    batches = []

    def sink(batch_df, batch_id):
        batches.append((batch_id, batch_df.count()))

    run_fraud_stream(
        spark,
        str(landing),
        str(tmp_path / "ckpt"),
        sink,
        max_files_per_trigger=None,
        max_bytes_per_trigger=2 * file_bytes + 10,
    )
    nonempty = [c for _, c in batches if c > 0]
    assert sum(nonempty) == n_files  # one fraud row per file, none lost
    assert len(nonempty) >= n_files // 2 - 1  # bounded admission -> many batches
    assert max(nonempty) <= 3  # no batch admitted more than ~2 files' rows
    # bytes pacing alone (no file cap) still bounded every batch: with an
    # unbounded trigger the whole flood would have arrived as ONE batch
    assert len(nonempty) > 1


def test_rocksdb_provider_actively_serves_state_with_metrics(spark):
    """Round-7: prove the RocksDB provider is the engine actually holding
    the stream's state, not just a conf string — the query's progress
    must report rocksdb* custom metrics on its state operator, with live
    state rows — and the benched stateful query (velocity alerts) must
    produce identical rows under it (bounded-heap posture:
    streaming/state.py)."""
    import uuid as _uuid

    from fraud_detection_etl_project_spark.plans import REGISTRY
    from fraud_detection_etl_project_spark.streaming.state import (
        use_default_state,
        use_rocksdb_state,
    )
    from fraud_detection_etl_project_spark.streaming.windows import events_stream

    velocity = REGISTRY["stream_velocity_alerts"].fn

    def rows():
        return {
            (r["window_start"], r["user_id"]): (r["n_events"], r["window_amount"])
            for r in velocity(spark, SF).collect()
        }

    baseline = rows()
    use_rocksdb_state(spark)
    try:
        assert rows() == baseline and baseline  # benched query: exact parity
        # metrics proof: drive one windowed agg keeping the query handle
        agg = (
            events_stream(spark, SF)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "24 hours"), "event_type")
            .count()
        )
        name = f"rocksdb_probe_{_uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        ops = q.lastProgress["stateOperators"]
        assert ops and ops[0]["numRowsTotal"] > 0
        custom = ops[0].get("customMetrics") or {}
        rocks_keys = [k for k in custom if "rocksdb" in k.lower()]
        assert rocks_keys, f"no rocksdb state metrics in progress: {sorted(custom)}"
        assert spark.table(name).count() > 0
    finally:
        use_default_state(spark)
