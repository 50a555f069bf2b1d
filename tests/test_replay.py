"""The replay harness policy (streaming/replay.py): a replay stream that
does not finish raises and leaves nothing running, and the Python-stateful
replay keeps the harness's state-store count without touching the
session's shuffle setting."""

import json
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from cdc_application_febuary_spark.queries.pipeline_ops import (
    stateful_running_counts,
)
from cdc_application_febuary_spark.streaming.replay import await_replay


def test_await_replay_times_out_and_stops_the_stream(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    # a processing-time trigger on a live directory never terminates
    q = (
        spark.readStream.schema("v long").json(str(feed))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    with pytest.raises(TimeoutError):
        await_replay(q, 1)
    assert not q.isActive
    assert all(a.id != q.id for a in spark.streams.active)


def test_await_replay_reraises_a_failed_stream(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.json").write_text('{"v": 1}\n')

    def boom(batch, batch_id):
        raise ValueError("sink failed")

    q = (
        spark.readStream.schema("v long").json(str(feed))
        .writeStream.foreachBatch(boom)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="sink failed"):
        await_replay(q, 120)
    assert not q.isActive


def test_stateful_running_counts_keeps_two_state_stores(
    spark, sf_small, tmp_path, monkeypatch
):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    rows = stateful_running_counts(spark, sf_small).collect()

    assert rows and all(r["events"] > 0 for r in rows)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (work,) = tmp_path.glob("stateful_q_*")
    stores = [d for d in (work / "ck" / "state" / "0").iterdir()
              if d.is_dir() and d.name.isdigit()]
    assert len(stores) == 2
    # the offset log records the count the checkpoint is pinned to
    meta = json.loads((work / "ck" / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "2"
