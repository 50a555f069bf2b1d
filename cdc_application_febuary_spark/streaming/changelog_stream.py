"""The streaming change path (reference entry point 2, SURVEY §3):

    change feed -> decode Debezium envelope -> normalize ops ->
      dual sink { SCD2 target append ; event-log append } under one checkpoint

The reference does this with a Kafka Connect sink JVM + a Python consumer
thread (at-least-once: DB commit then Kafka commit,
`cdc_event_logger.py:273-291`). Spark gives exactly-once *within the
pipeline* via the streaming checkpoint; the appends are made idempotent
under foreachBatch retry by stamping `__batch_id` so replayed batches can be
deduplicated/overwritten downstream.

Sources:
  * Kafka (production): `kafka_source` — subscribePattern covers the
    reference's dynamic topic subscription (T5, cdc_event_logger.py:126-169).
  * File stream (tests / this container, where no broker exists): the same
    decode + sink graph over a JSON directory source — the engine-side
    contract (a `value STRING` column) is identical.

Scale: one streaming query per pipeline (checkpoint isolation — SURVEY §7
"what's hard"); `maxOffsetsPerTrigger`/`maxFilesPerTrigger` bound micro-batch
size; the event-log append is date-partitioned so monitoring queries prune.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.changelog import decode_debezium
from .replay import await_replay


@dataclass
class StreamConfig:
    pipeline_id: str
    target_path: str           # SCD2 append table (parquet dir)
    event_log_path: str        # monitoring event log (parquet dir)
    checkpoint_dir: str
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    max_files_per_trigger: int | None = None
    dead_letter_path: str | None = None  # quarantine for undecodable events


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    subscribe_pattern: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka change feed. `subscribePattern` (not a static list) mirrors the
    reference's runtime topic add/remove; `earliest` mirrors
    `consumer.override.auto.offset.reset=earliest` (sink_config.py:174)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribePattern", subscribe_pattern)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load().select(
        F.col("value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
    )


def topic_pattern(pipeline: str, engine: str = "postgresql") -> str:
    """Subscribe-pattern regex for a pipeline's change topics, following the
    reference topic naming (`debezium_config.py:747-775`):
    ``{pipeline}.{schema}.{table}`` — SQL Server inserts the database for a
    4-part name (`{pipeline}.{db}.{schema}.{table}``)."""
    parts = 3 if engine.lower() != "sqlserver" else 4
    seg = r"[^.]+"
    return rf"^{pipeline}\." + r"\.".join([seg] * (parts - 1)) + "$"


def file_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based change feed with the same engine-side contract as the
    Kafka source: one JSON envelope string per line in a `value` column.
    Used for tests and for replaying archived feeds."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        reader.load(path)
        .select(F.col("value"))
        .withColumn("topic", F.lit(None).cast("string"))
        .withColumn("partition", F.lit(None).cast("int"))
        .withColumn("offset", F.lit(None).cast("long"))
    )


def decoded_changelog(raw: DataFrame, payload_schema: StructType) -> DataFrame:
    """Raw feed -> engine changelog rows (see functions.changelog)."""
    return decode_debezium(raw, payload_schema)


def _event_log_rows(batch: DataFrame, pipeline_id: str) -> DataFrame:
    """Shape a decoded micro-batch into `pipeline_runs`-style event-log rows
    (reference cdc_event_logger.py:514-537): one row per change event with
    normalized type + provenance metadata."""
    return batch.select(
        F.expr("uuid()").alias("id"),
        F.lit(pipeline_id).alias("pipeline_id"),
        F.lit("CDC").alias("run_type"),
        F.col("event_type"),
        F.col("source_ts").alias("started_at"),
        F.current_timestamp().alias("logged_at"),
        F.to_json(
            F.struct(
                F.col("op").alias("operation"),
                F.col("source_table").alias("table_name"),
                F.col("topic"),
                F.col("partition"),
                F.col("offset"),
            )
        ).alias("run_metadata"),
        F.to_date(F.col("source_ts")).alias("event_date"),  # partition column
    )


def start_changelog_stream(
    spark: SparkSession,
    raw: DataFrame,
    payload_schema: StructType,
    cfg: StreamConfig,
) -> StreamingQuery:
    """Wire the dual-sink graph and start it.

    foreachBatch appends to (a) the SCD2 target and (b) the event log in the
    same micro-batch function — both stamped with `__batch_id`, so a batch
    replayed after a crash is identifiable (idempotent consumers filter on
    max batch id per key; the reference settles for at-least-once, T2)."""
    decoded = decoded_changelog(raw, payload_schema)
    payload_cols = [f.name for f in payload_schema.fields]

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            if cfg.dead_letter_path is not None:
                # quarantine undecodable events with provenance
                # (errors.tolerance=all: log and continue)
                (
                    batch.where(F.col("_corrupt"))
                    .select(
                        F.col("_raw_value").alias("raw_value"),
                        "topic",
                        "partition",
                        "offset",
                        F.lit(batch_id).alias("__batch_id"),
                        F.current_timestamp().alias("quarantined_at"),
                    )
                    .write.mode("append")
                    .parquet(cfg.dead_letter_path)
                )
            # corrupt rows never reach the target or the event log
            batch = batch.where(~F.col("_corrupt"))
            scd2_rows = batch.select(
                *[F.col("row")[c].alias(c) for c in payload_cols],
                F.col("op").alias("__op"),
                F.unix_millis(F.col("source_ts")).alias("__source_ts_ms"),
                F.col("__deleted"),
                F.lit(batch_id).alias("__batch_id"),
            )
            scd2_rows.write.mode("append").parquet(cfg.target_path)
            (
                _event_log_rows(batch, cfg.pipeline_id)
                .withColumn("__batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("event_date")
                .parquet(cfg.event_log_path)
            )
        finally:
            batch.unpersist()

    writer = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .queryName(f"changelog-{cfg.pipeline_id}")
    )
    writer = writer.trigger(**cfg.trigger)
    return writer.start()


def run_file_changelog_pipeline(
    spark: SparkSession,
    source_dir: str,
    payload_schema: StructType,
    cfg: StreamConfig,
    timeout_sec: float = 120,
) -> None:
    """Convenience: run the file-source pipeline to completion
    (availableNow) — the test/replay path. Raises ``TimeoutError`` when
    the stream has not finished within ``timeout_sec``."""
    raw = file_source(spark, source_dir, cfg.max_files_per_trigger)
    q = start_changelog_stream(spark, raw, payload_schema, cfg)
    await_replay(q, timeout_sec)
