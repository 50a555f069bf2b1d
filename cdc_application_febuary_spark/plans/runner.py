"""Full pipeline lifecycle (reference entry point 1, SURVEY §3):

    full load (snapshot, stamped __op='r') -> offset capture ->
      streaming change path appends into the SAME SCD2 target ->
        current-state view reflects snapshot + changes

This runner wires `plans.pipeline` (batch), `plans.snapshot` (decision
matrix) and `streaming.changelog_stream` (change path) over file-based
sources — the lakehouse shape; Kafka/JDBC swap in via the source/sink
specs without touching the flow.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.scd2 import current_state
from ..streaming.changelog_stream import (
    StreamConfig,
    file_source,
    start_changelog_stream,
)
from ..streaming.replay import await_replay
from .pipeline import FullLoadResult, run_full_load
from .snapshot import StreamStartPlan, resolve_snapshot_mode


@dataclass
class PipelineRunResult:
    full_load: FullLoadResult | None
    stream_plan: StreamStartPlan
    target_path: str


@dataclass
class ConnectedPipelinePlan:
    """Everything `start_pipeline` composes for one source connection
    (reference `cdc_manager.py:194-1290`): the Debezium connector config
    to POST, the change topics it will produce, the Spark `kafka_source`
    subscribePattern that covers exactly those topics, and the resolved
    snapshot/stream-start plan — all from ONE call, so the config, the
    stream subscription, and the full-load decision cannot drift."""

    connector_config: dict
    topics: list[str]
    subscribe_pattern: str
    starting_offsets: str
    stream_plan: StreamStartPlan


def plan_connected_pipeline(
    *,
    pipeline_id: str,
    connection,
    database: str,
    schema: str,
    tables: list[str],
    mode: str = "full_load_and_cdc",
    full_load_lsn: str | None = None,
    kafka_bootstrap: str = "localhost:9092",
) -> ConnectedPipelinePlan:
    """Resolve the snapshot plan for this engine+mode, generate the S17
    connector config carrying the RESOLVED snapshot mode, and derive the
    stream's subscribe pattern from the same naming rules the config uses
    (`topic_for` / `topic_pattern` / `table_name_from_topic` round-trip)."""
    from ..sources.connect_config import (
        SourceConnection,
        debezium_source_config,
        topic_for,
    )
    from ..streaming.changelog_stream import topic_pattern

    if not isinstance(connection, SourceConnection):
        raise TypeError("plan_connected_pipeline requires a SourceConnection")
    engine = connection.database_type
    plan = resolve_snapshot_mode(
        engine,
        mode,
        full_load_completed=full_load_lsn is not None,
        has_captured_offset=full_load_lsn is not None,
    )
    cfg = debezium_source_config(
        pipeline_id,
        connection,
        database,
        schema,
        tables,
        full_load_lsn=full_load_lsn,
        snapshot_mode=plan.snapshot_mode,
        kafka_bootstrap=kafka_bootstrap,
    )
    topics = [
        topic_for(pipeline_id, schema, t, database=database if engine == "sqlserver" else None)
        for t in tables
    ]
    return ConnectedPipelinePlan(
        connector_config=cfg,
        topics=topics,
        subscribe_pattern=topic_pattern(pipeline_id, engine),
        starting_offsets=plan.starting_offsets,
        stream_plan=plan,
    )


def run_connected_pipeline(
    spark: SparkSession,
    *,
    pipeline_id: str,
    connection,
    database: str,
    schema: str,
    tables: list[str],
    source: DataFrame | None,
    changelog_dir: str,
    payload_schema: StructType,
    work_root: str,
    mode: str = "full_load_and_cdc",
    stream_timeout_sec: int = 120,
    snapshot_ts_ms: int | None = None,
) -> tuple[ConnectedPipelinePlan, PipelineRunResult]:
    """The one-call pipeline start: config-gen + snapshot + change stream.
    The change feed is the file twin of the generated topics (no broker in
    this container — see NOTES.md); `kafka_source(bootstrap,
    plan.subscribe_pattern, plan.starting_offsets)` is the drop-in
    production source for the same plan."""
    plan = plan_connected_pipeline(
        pipeline_id=pipeline_id,
        connection=connection,
        database=database,
        schema=schema,
        tables=tables,
        mode=mode,
    )
    result = run_file_pipeline(
        spark,
        pipeline_id=pipeline_id,
        source=source,
        changelog_dir=changelog_dir,
        payload_schema=payload_schema,
        work_root=work_root,
        engine=connection.database_type,
        mode=mode,
        stream_timeout_sec=stream_timeout_sec,
        snapshot_ts_ms=snapshot_ts_ms,
    )
    return plan, result


def run_file_pipeline(
    spark: SparkSession,
    *,
    pipeline_id: str,
    source: DataFrame | None,
    changelog_dir: str,
    payload_schema: StructType,
    work_root: str,
    engine: str = "postgresql",
    mode: str = "full_load_and_cdc",
    stream_timeout_sec: float = 120,
    snapshot_ts_ms: int | None = None,
) -> PipelineRunResult:
    """Run one table's pipeline: optional snapshot, then drain the change
    feed (availableNow) into the same SCD2 target under a checkpoint.
    Raises ``TimeoutError`` when the drain has not finished within
    ``stream_timeout_sec``."""
    target = f"{work_root.rstrip('/')}/target"
    plan = resolve_snapshot_mode(
        engine,
        mode,
        full_load_completed=False,
        has_captured_offset=False,
    )

    fl: FullLoadResult | None = None
    if plan.run_full_load and mode != "cdc_only":
        if source is None:
            raise ValueError("full load requires a source")
        from ..sources.typemap import conform_to_schema

        # the snapshot must land with the SAME physical types the stream
        # will append (frozen target schema) or the parquet dir mixes types
        fl = run_full_load(
            spark,
            conform_to_schema(source, payload_schema),
            target,
            table=pipeline_id,
            snapshot_ts_ms=snapshot_ts_ms,
        )
        # offset captured -> re-resolve: stream starts without re-snapshot
        plan = resolve_snapshot_mode(
            engine, mode, full_load_completed=True, has_captured_offset=True
        )

    cfg = StreamConfig(
        pipeline_id=pipeline_id,
        target_path=target,
        event_log_path=f"{work_root.rstrip('/')}/event_log",
        checkpoint_dir=f"{work_root.rstrip('/')}/checkpoint",
        trigger={"availableNow": True},
    )
    q = start_changelog_stream(
        spark, file_source(spark, changelog_dir), payload_schema, cfg
    )
    await_replay(q, stream_timeout_sec)
    return PipelineRunResult(full_load=fl, stream_plan=plan, target_path=target)


def target_current_state(
    spark: SparkSession, target_path: str, key_cols: list[str]
) -> DataFrame:
    """Current-state view over a pipeline target that mixes full-load rows
    (__op='r') and streamed change rows — ordered by source commit time.

    Full-load rows carry a load-time ``__source_ts_ms``; streamed rows carry
    the source commit ``ts_ms``. Change events for a key always supersede
    the snapshot row (a change observed after the captured offset has a
    later commit ts), so plain commit-time ordering is correct."""
    df = spark.read.parquet(target_path)
    return current_state(df, key_cols, order_cols=["__source_ts_ms"])
