"""End-to-end streaming change path: JSON envelope feed -> decode ->
dual-sink (SCD2 target + event log) with checkpoint resume, plus the
monitoring listener."""

import json

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdc_application_febuary_spark.operators.scd2 import current_state
from cdc_application_febuary_spark.streaming.changelog_stream import (
    StreamConfig,
    run_file_changelog_pipeline,
)
from cdc_application_febuary_spark.streaming.monitoring import (
    MetricsListener,
    lag_health,
    slot_health,
    throughput_summary,
)

PAYLOAD = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


def _envelope(op, before, after, ts_ms):
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"ts_ms": ts_ms, "db": "d", "schema": "s", "table": "t"},
                "op": op,
                "ts_ms": ts_ms,
            }
        }
    )


def _write_feed(path, events):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{len(list(path.glob('*.json')))}.json"
    f.write_text("\n".join(events) + "\n")


def test_changelog_stream_end_to_end(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            _envelope("c", None, {"id": 2, "name": "b"}, 1100),
            _envelope("u", {"id": 1, "name": "a"}, {"id": 1, "name": "a2"}, 2000),
            _envelope("d", {"id": 2, "name": "b"}, None, 3000),
        ],
    )
    cfg = StreamConfig(
        pipeline_id="p1",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)

    target = spark.read.parquet(cfg.target_path)
    assert target.count() == 4  # delete-rewrite keeps the delete row
    dead = target.where(F.col("__deleted") == "true").collect()
    assert len(dead) == 1 and dead[0]["id"] == 2 and dead[0]["name"] == "b"

    # current-state reconstruction over the streamed SCD2 log
    cur = (
        current_state(target, ["id"], order_cols=["__source_ts_ms"])
        .orderBy("id")
        .collect()
    )
    assert [(r["id"], r["name"]) for r in cur] == [(1, "a2")]

    log = spark.read.parquet(cfg.event_log_path)
    by_type = {r["event_type"]: r["cnt"] for r in
               log.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_type == {"insert": 2, "update": 1, "delete": 1}
    assert log.select("pipeline_id").distinct().collect()[0][0] == "p1"
    meta = json.loads(log.where("event_type = 'delete'").collect()[0]["run_metadata"])
    assert meta["operation"] == "d" and meta["table_name"] == "t"


def test_checkpoint_resume_no_reprocess(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
    cfg = StreamConfig(
        pipeline_id="p2",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    assert spark.read.parquet(cfg.target_path).count() == 1

    # second run with one NEW file: checkpoint must skip the old one
    _write_feed(feed, [_envelope("c", None, {"id": 2, "name": "b"}, 2000)])
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    target = spark.read.parquet(cfg.target_path)
    assert target.count() == 2  # not 3 — no reprocessing
    assert sorted(r["id"] for r in target.collect()) == [1, 2]


def test_metrics_listener(spark, tmp_path):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        feed = tmp_path / "feed"
        _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
        cfg = StreamConfig(
            pipeline_id="p3",
            target_path=str(tmp_path / "target"),
            event_log_path=str(tmp_path / "event_log"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
        # listener delivery is async — poll until the progress event lands
        import time

        ours = []
        for _ in range(40):
            metrics = listener.snapshot(spark)
            summary = throughput_summary(metrics).collect()
            ours = [r for r in summary if r["query_name"] == "changelog-p3"]
            if ours:
                break
            time.sleep(0.5)
        assert ours and ours[0]["total_rows"] == 1
    finally:
        spark.streams.removeListener(listener)


def test_dead_letter_quarantine(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            "this is not json at all {{{",
            '{"payload": null}',
            _envelope("c", None, {"id": 2, "name": "b"}, 2000),
        ],
    )
    cfg = StreamConfig(
        pipeline_id="dlq",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)

    target = spark.read.parquet(cfg.target_path)
    assert sorted(r["id"] for r in target.collect()) == [1, 2]  # clean only
    dlq = spark.read.parquet(cfg.dead_letter_path)
    assert dlq.count() == 2
    raws = {r["raw_value"] for r in dlq.collect()}
    assert "this is not json at all {{{" in raws
    log = spark.read.parquet(cfg.event_log_path)
    assert log.count() == 2  # corrupt rows never reach the event log


def test_health_thresholds(spark):
    df = spark.createDataFrame(
        [(10, 1024), (100, 200 * 1024), (400, 600 * 1024), (500, 2 * 1024 * 1024)],
        ["lag_s", "gap_b"],
    )
    out = df.select(
        lag_health("lag_s").alias("lag"), slot_health("gap_b").alias("slot")
    ).collect()
    assert [r["lag"] for r in out] == ["normal", "warning", "critical", "critical"]
    assert [r["slot"] for r in out] == ["normal", "warning", "critical", "stuck"]


def test_file_changelog_pipeline_raises_on_timeout(spark, tmp_path):
    """A stream that does not drain in time raises instead of returning a
    partial target, and is stopped."""
    import pytest

    feed = tmp_path / "feed"
    _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
    cfg = StreamConfig(
        pipeline_id="p_timeout",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        # a processing-time trigger never finishes on its own
        trigger={"processingTime": "1 second"},
    )
    with pytest.raises(TimeoutError):
        run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg, timeout_sec=1)
    assert all(q.name != "changelog-p_timeout" for q in spark.streams.active)
