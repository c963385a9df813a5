"""Structured Streaming ingest: the reference's continuous topology
re-expressed (SURVEY.md §3.1).

Reference shape (ingestion/KafkaStreamsAggregator.java:53-110):
consume → deserialize → event-time extract → re-key to geohash cell →
1-hour windowed count/sum/avg into a queryable WindowStore, with a
10 s commit cadence and ~24 h late-data retention.

Spark shape: ``readStream`` (kafka or files) → ``from_json``/typed
readings → ``withWatermark('ts', grace)`` →
``groupBy(window('ts','1 hour'), gh).agg(...)`` in **update** mode →
``foreachBatch`` upsert into an external parquet view table
partitioned by window date.

Semantics mapping (SURVEY.md §2.8):
- T3 late data: watermark 24 h ≈ Kafka Streams 2.3's default window
  retention. Difference documented: the watermark DROPS rows later
  than 24 h, where KS silently stops retaining the window.
- T4 cadence: trigger(processingTime='10 seconds') mirrors the commit
  interval; tests use availableNow for determinism.
- T5 queryability: Spark state is not interactively queryable, so the
  queryable copy is this external view table — written per
  micro-batch, readable by the batch query family (operators/queries).

Scale: the upsert rewrites only the window-date partitions touched by
the micro-batch (late data bounded by the watermark bounds how many),
merging surviving rows with updated keys — at 1000 executors the
rewrite cost tracks update volume, not view size. Delta/Iceberg MERGE
is the drop-in upgrade when available.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_pipeline_spark.operators.view import DEFAULT_PRECISION, DEFAULT_WINDOW
from kafka_streams_pipeline_spark.schema import READING_SCHEMA

DEFAULT_GRACE = "24 hours"  # Kafka Streams 2.3 default retention (T3)


def streaming_view_aggregate(
    readings: DataFrame,
    precision: int = DEFAULT_PRECISION,
    window: str = DEFAULT_WINDOW,
    grace: str = DEFAULT_GRACE,
) -> DataFrame:
    """The standing windowed aggregate over a *streaming* readings
    frame: identical expression to operators/view.build_view plus the
    watermark (same plan shape → streaming/batch parity by
    construction)."""
    agg = (
        readings.withWatermark("ts", grace)
        .withColumn("gh", F.substring(F.col("geohash"), 1, precision))
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("gh"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.round(F.col("tempVal") * 1000000).cast("long")).alias("sum_u"),
        )
    )
    return agg.select(
        F.col("gh"),
        F.col("w.start").alias("window_start"),
        F.col("count"),
        (F.col("sum_u") / F.lit(1000000.0)).alias("sum"),
        (F.col("sum_u") / F.lit(1000000.0) / F.col("count")).alias("avg"),
    )


def _existing_partition_paths(
    spark: SparkSession, view_dir: str, dates: list
) -> list[str]:
    """Which ws_date=<d> partition directories already exist, from ONE
    listing of the view directory through the Hadoop FileSystem API —
    works on any Spark-supported store (local FS, HDFS, s3a://, gs://,
    abfss://), unlike os.listdir, which only sees the local disk. The
    child paths come back joined into one string, so the Py4J round
    trips do not grow with the partition count."""
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(view_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(base):
        return []
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(base))
    listed = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(paths)
    children = {p.rsplit("/", 1)[-1] for p in listed.mkString("\n").split("\n")}
    return [
        f"{view_dir}/ws_date={d}" for d in dates if f"ws_date={d}" in children
    ]


def upsert_view_batch(view_dir: str):
    """foreachBatch upsert: merge a micro-batch of updated
    (gh, window_start) aggregates into the parquet view table.

    Update-mode batches carry the COMPLETE re-aggregated value for
    every changed key (the streaming state holds the running
    aggregate), so the merge is delete-matching-keys ∪ insert-batch —
    confined to the window-date partitions present in the batch.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(
            "ws_date", F.to_date("window_start")
        ).cache()
        dates = [r["ws_date"] for r in batch_df.select("ws_date").distinct().collect()]
        if not dates:
            batch_df.unpersist()
            return
        merged = batch_df
        existing_parts = _existing_partition_paths(spark, view_dir, dates)
        if existing_parts:
            existing = spark.read.option("basePath", view_dir).parquet(
                *existing_parts
            )
            survivors = existing.join(
                batch_df.select("gh", "window_start"),
                ["gh", "window_start"],
                "left_anti",
            ).select(*batch_df.columns)
            merged = batch_df.unionByName(survivors)
        (
            merged.repartition("ws_date")
            .write.mode("overwrite")
            .partitionBy("ws_date")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(view_dir)
        )
        batch_df.unpersist()

    return apply


#: Spark's bundled RocksDB state-store provider.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
#: The state store every pipeline query runs on, set in the query's
#: cloned session so it does not depend on the caller's: RocksDB with
#: changelog checkpointing, which writes one per-batch delta file per
#: partition and uploads snapshots in the background, instead of
#: zipping and syncing a full snapshot on every batch.
STATE_STORE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}

# Standing state-key cardinality of the view topology: distinct
# geohash cells × live 1-hour windows inside the 24 h grace at the
# gate scale factor (~120 cells × 24 windows ≈ 2,880 — measured, and
# flat across sf0.01/sf0.1 because the cell grid, not the event
# volume, bounds it). The state-partition default derives from THIS,
# not from data volume: every micro-batch runs a task and a store
# load and commit for every state partition whether or not a key
# hashed into it.
VIEW_TOPOLOGY_STANDING_KEYS = 2880
# Standing keys per state partition, from the measured per-partition
# fixed cost (STATE_PARTITION_SWEEP.json, 4-vCPU host, RocksDB with
# changelog checkpointing): each partition adds F ≈ 375-550 ms of
# executor time per micro-batch to the serve_ingest catch-up (slope
# over P = 1, 2, 4, 8; ~130-180 ms of it the state commit), while a
# key costs c ≈ 0.11-0.20 ms of state update per batch. The catch-up
# is CPU-bound, so splitting K keys over one more partition pays only
# once the K·c/2 it takes off the critical path exceeds the F/cores
# it adds: K ≈ 2F/(c·4) ≈ 1,000-2,500. 1,500 puts the view topology
# on 2 partitions, inside one wave of cores.
KEYS_PER_STATE_PARTITION = 1500


def default_state_partitions(
    standing_keys: int = VIEW_TOPOLOGY_STANDING_KEYS,
) -> int:
    """State/shuffle partition count for a stateful streaming query,
    derived from its standing key cardinality: one partition per
    KEYS_PER_STATE_PARTITION keys, at least 1, capped at 200 (the
    stock Spark default — beyond it the per-batch commit fan-out is
    pure overhead for any topology this engine ships)."""
    return max(1, min(200, -(-standing_keys // KEYS_PER_STATE_PARTITION)))


def _resolve_state_partitions(
    state_partitions: int | None,
    standing_keys_hint: int | None,
    checkpoint_dir: str,
) -> int:
    """Explicit count wins; otherwise derive from the caller's
    standing-key hint, falling back to the view topology's ~2,880
    only when no hint is given (a bare default would pin the view
    topology's count into EVERY caller's checkpoint forever — Spark
    refuses to change the count on restart — even for topologies
    with far more standing keys). The derived value
    is logged at what is likely the FIRST start (no checkpoint dir
    yet) so the pinned knob is visible in the record."""
    if state_partitions is not None:
        return state_partitions
    keys = (
        standing_keys_hint
        if standing_keys_hint is not None
        else VIEW_TOPOLOGY_STANDING_KEYS
    )
    derived = default_state_partitions(keys)
    try:
        first_start = not os.path.isdir(checkpoint_dir)
    except OSError:
        first_start = False
    if first_start:
        logging.getLogger(__name__).info(
            "state partitions derived: %d (from %s standing keys%s) "
            "— pinned into checkpoint %s at first start",
            derived,
            keys,
            "" if standing_keys_hint is not None
            else " — VIEW TOPOLOGY DEFAULT; pass standing_keys_hint "
                 "for other topologies",
            checkpoint_dir,
        )
    return derived


def start_file_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    precision: int = DEFAULT_PRECISION,
    grace: str = DEFAULT_GRACE,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "10 seconds",
    state_partitions: int | None = None,
    standing_keys_hint: int | None = None,
) -> StreamingQuery:
    """File-source replay of the ingest topology (json files of
    reading records). Kafka deployments swap the source for
    sources/readings.kafka_reading_stream — every later stage is
    identical.

    ``state_partitions``: number of shuffle/state-store partitions
    for the stateful aggregate. Every micro-batch runs EVERY state
    partition (a task plus a store load and commit each, even for
    partitions no batch key hashes into), so this is the per-batch
    fixed-cost lever: size it to the standing KEY cardinality
    (cells × live windows), not to the bulk-replay data volume — the
    two differ by orders of magnitude. Fixed at the stream's FIRST
    start and pinned by the checkpoint thereafter (Spark refuses to
    restart with a different value). Default None derives it from
    ``standing_keys_hint`` when given, else from the view topology's
    standing key cardinality via ``default_state_partitions``. A
    caller replaying a topology with far more standing keys should
    pass the hint, because the derived count is pinned into the
    checkpoint forever; the derived value is logged at first start.
    Results are partition-count-independent, only the per-batch
    fixed cost moves.

    The aggregate always runs on the RocksDB state store with
    changelog checkpointing (``STATE_STORE_CONF``). The store and
    the partition count are set in the query's cloned session conf,
    so the query does not depend on the caller's session and nothing
    leaks into it. A RocksDB checkpoint written without changelog
    checkpointing keeps its partition count and switches to deltas
    on restart; a checkpoint keeps the provider class it was started
    with, which Spark records in its offset log."""
    reader = spark.readStream.schema(READING_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)
    readings = (
        raw.withColumn("ts", F.timestamp_millis(F.col("timestamp")))
        .filter(
            F.col("ts").isNotNull()
            & (F.col("timestamp").isNull() | (F.col("timestamp") >= 0))
        )
    )
    agg = streaming_view_aggregate(readings, precision=precision, grace=grace)
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_view_batch(view_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    # StreamExecution clones the session at start(), freezing the
    # confs below into the query; restoring afterwards keeps the
    # caller's session untouched.
    overrides = {
        "spark.sql.shuffle.partitions": str(
            _resolve_state_partitions(
                state_partitions, standing_keys_hint, checkpoint_dir
            )
        ),
        **STATE_STORE_CONF,
    }
    saved = {
        k: spark.conf.get(k, None) for k in overrides
    }
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        return writer.start()
    finally:
        for k, prev in saved.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def streaming_dedup(
    readings: DataFrame,
    keys: tuple[str, ...] = ("sensorId", "timestamp"),
    grace: str = DEFAULT_GRACE,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with
    dedup state bounded by the watermark (keys older than ``grace``
    are forgotten — the price of bounded state at 100 TB/day; exact
    dedup of an unbounded stream needs unbounded memory). Emits each
    surviving row exactly once in append mode."""
    return readings.withWatermark("ts", grace).dropDuplicates([*keys, "ts"])


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The queryable view table (drop the physical partition column)."""
    return spark.read.parquet(view_dir).select(
        "gh", "window_start", "count", "sum", "avg"
    )


def await_replay(q: StreamingQuery, timeout_secs: int = 300) -> None:
    """Wait for a bounded (availableNow) replay to finish, LOUDLY.

    ``StreamingQuery.awaitTermination(timeout)`` returns False on
    timeout and leaves the query RUNNING — a caller that ignores the
    return value then reads a partially-upserted sink while the
    query keeps mutating it in the background (the flaky-parity
    failure mode: a replay that outlives its wait on a loaded box).
    This helper turns that into a deterministic failure: on timeout
    it stops the query (so the sink stops moving under later
    readers), captures status + last progress for diagnosis, and
    raises. Also re-raises the query's own exception if it FAILED
    rather than timed out.
    """
    if q.awaitTermination(timeout_secs):
        return
    status, progress = None, None
    try:
        status, progress = q.status, q.lastProgress
    except Exception:  # pragma: no cover - diagnostics only
        pass
    try:
        q.stop()
    except Exception:  # pragma: no cover - best effort
        pass
    exc = q.exception()
    if exc is not None:  # died rather than timed out
        raise exc
    raise TimeoutError(
        f"streaming replay did not finish within {timeout_secs}s; "
        f"query stopped to keep the sink stable. status={status} "
        f"lastProgress={progress}"
    )
