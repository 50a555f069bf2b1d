"""Round-5 integration queries: driver-visible (oracle-paired) evidence for
§2 rows that previously rested on pytest alone — alert-rule evaluation,
A12 consumer lag, J3 FK lineage + dependency validation, F9 type
inference — plus the connected-pipeline and object-store lifecycles.

Same contract as ``pipeline_ops``: thin adapters over library operators,
each paired with a DuckDB oracle when SQL-expressible. Numeric outputs
follow CLAUDE.md: integral counters cast BIGINT on both sides, no DECIMAL
in driver-visible columns, no ROUNDed double divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..streaming.replay import await_replay, replay_shuffle

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


# ---------------------------------------------------------------------------
# Alert-rule evaluation (reference alert_engine.py:25-130)
# ---------------------------------------------------------------------------
# Metrics are integral per-pipeline counters derived from events (each
# event_type plays a pipeline); the rule table is a constant dimension
# covering all four reference conditions plus the never-fire paths
# (disabled rule, absent metric, unknown condition).
_ALERT_RULES = [
    # (rule_id, rule_name, pipeline_id, metric, condition, threshold,
    #  severity, enabled)
    (1, "high_click_volume", "click", "events_total", "greater_than", 2000, "warning", True),
    (2, "purchase_drought", "purchase", "events_total", "less_than", 2000, "info", True),
    (3, "view_user_census", "view", "distinct_users", "equals", 150, "info", True),
    (4, "signup_user_drift", "signup", "distinct_users", "not_equals", 150, "critical", True),
    (5, "error_burst", "error", "events_total", "greater_than", 2000, "critical", True),
    (6, "disabled_probe", "click", "events_total", "greater_than", 0, "info", False),
    (7, "latency_ceiling", "click", "p99_latency_ms", "greater_than", 10, "warning", True),
    (8, "regex_rule_unsupported", "view", "events_total", "matches_regex", 0, "warning", True),
    (9, "signup_value_cap", "signup", "max_value_floor", "greater_than", 300, "warning", True),
]

_ALERT_RULES_SQL = ",".join(
    f"({rid},'{name}','{pid}','{metric}','{cond}',{thr},'{sev}',{str(en).lower()})"
    for (rid, name, pid, metric, cond, thr, sev, en) in _ALERT_RULES
)

_ALERT_ORACLE = f"""
WITH metrics AS MATERIALIZED (
  SELECT event_type AS pipeline_id, 'events_total' AS metric,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM events GROUP BY 1
  UNION ALL
  SELECT event_type, 'distinct_users', CAST(COUNT(DISTINCT user_id) AS BIGINT)
  FROM events GROUP BY 1
  UNION ALL
  SELECT event_type, 'max_value_floor', CAST(MAX(FLOOR(value)) AS BIGINT)
  FROM events GROUP BY 1
),
rules(rule_id, rule_name, pipeline_id, metric, condition, threshold,
      severity, enabled) AS (VALUES {_ALERT_RULES_SQL}),
fired AS (
  SELECT r.*, m.value
  FROM rules r JOIN metrics m USING (pipeline_id, metric)
  WHERE r.enabled AND
        CASE r.condition
          WHEN 'greater_than' THEN m.value > r.threshold
          WHEN 'less_than'    THEN m.value < r.threshold
          WHEN 'equals'       THEN m.value = r.threshold
          WHEN 'not_equals'   THEN m.value <> r.threshold
          ELSE FALSE END
)
SELECT CAST(rule_id AS BIGINT) AS rule_id, rule_name, pipeline_id, severity,
       metric, value AS metric_value, CAST(threshold AS BIGINT) AS threshold,
       condition,
       rule_name || ': ' || metric || ' (' || CAST(value AS VARCHAR) || ') '
         || condition || ' ' || CAST(threshold AS VARCHAR) AS message,
       'active' AS status
FROM fired ORDER BY rule_id
"""


@_q("alert_rules_fired", _ALERT_ORACLE)
def alert_rules_fired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-rule evaluation (`streaming/alerting.py`, reference
    alert_engine.py:25-130): enabled rules broadcast-joined to per-pipeline
    metrics, fired where the condition holds. Exercises all four reference
    conditions plus the never-fire paths — disabled rule, absent metric,
    unknown condition — and the reference's message format."""
    from ..streaming.alerting import evaluate_rules

    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(F.col("event_type").alias("pipeline_id")).agg(
        F.count(F.lit(1)).alias("events_total"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.max(F.floor("value")).alias("max_value_floor"),
    )
    metrics = base.selectExpr(
        "pipeline_id",
        "stack(3, 'events_total', events_total,"
        " 'distinct_users', distinct_users,"
        " 'max_value_floor', max_value_floor) AS (metric, value)",
    )
    rules = spark.createDataFrame(
        _ALERT_RULES,
        "rule_id long, rule_name string, pipeline_id string, metric string,"
        " condition string, threshold long, severity string, enabled boolean",
    )
    return evaluate_rules(rules, metrics).orderBy("rule_id")


# ---------------------------------------------------------------------------
# A12 consumer lag (streaming/lag.py, reference monitoring.py:41-134)
# ---------------------------------------------------------------------------
# Deterministic offsets fixture from events: one consumer group per
# event_type, 4 partitions (user_id % 4), end offset = partition row count,
# committed offset = rows whose event_id clears a per-type modulus (so the
# three health buckets all appear at a 1 event/sec drain rate), and the
# user_id%4==3 partition over-commits by 5 to exercise the floor-at-0 rule.
_LAG_ORACLE = """
WITH offsets AS MATERIALIZED (
  SELECT 'cdc-' || event_type AS group_id,
         CAST(COUNT(*) AS BIGINT) AS end_offset,
         CAST(COUNT(*) FILTER (WHERE event_id %
               CASE event_type WHEN 'error' THEN 2
                               WHEN 'purchase' THEN 20
                               ELSE 100 END <> 0) AS BIGINT)
           + CASE WHEN user_id % 4 = 3 THEN 5 ELSE 0 END AS committed_offset
  FROM events GROUP BY event_type, user_id % 4
),
lags AS (
  SELECT group_id,
         GREATEST(end_offset - committed_offset, 0) AS lag
  FROM offsets
),
g AS (
  SELECT group_id, CAST(SUM(lag) AS BIGINT) AS total_lag,
         CAST(COUNT(*) AS BIGINT) AS partitions,
         CAST(MAX(lag) AS BIGINT) AS max_partition_lag
  FROM lags GROUP BY 1
)
SELECT group_id, total_lag, partitions, max_partition_lag,
       CASE WHEN total_lag / 1.0 < 60 THEN 'normal'
            WHEN total_lag / 1.0 < 300 THEN 'warning'
            ELSE 'critical' END AS health
FROM g ORDER BY group_id
"""


@_q("consumer_lag_report", _LAG_ORACLE)
def consumer_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 driver-visible: `streaming/lag.group_lag` over a deterministic
    per-(group, partition) offsets snapshot — per consumer group total lag,
    partition count, max single-partition lag, and the reference health
    bucket at a 1 event/sec drain rate (lag_monitor.py:83 thresholds).
    One partition per group over-commits to pin the floor-at-0 rule."""
    from ..streaming.lag import group_lag
    from ..streaming.monitoring import lag_health

    ev = load_table(spark, sf_dir, "events")
    modulus = (
        F.when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 20)
        .otherwise(100)
    )
    offsets = (
        # pid is a REAL column (not a grouping alias resolved inside agg):
        # alias-in-agg resolution is a fragile path Spark rejects in SQL
        # form (ADVICE r5).
        ev.withColumn("pid", F.col("user_id") % 4)
        .groupBy("event_type", "pid")
        .agg(
            F.count(F.lit(1)).alias("end_offset"),
            (
                F.count(F.when(F.col("event_id") % modulus != 0, 1))
                + F.when(F.col("pid") == 3, 5).otherwise(0)
            ).alias("committed_offset"),
        )
        .select(
            F.concat(F.lit("cdc-"), F.col("event_type")).alias("group_id"),
            F.concat(F.lit("server1.public."), F.col("event_type")).alias(
                "topic"
            ),
            F.col("pid").alias("partition"),
            "committed_offset",
            "end_offset",
        )
    )
    g = group_lag(offsets)
    return g.select(
        "group_id",
        "total_lag",
        "partitions",
        "max_partition_lag",
        lag_health(F.col("total_lag") / F.lit(1.0)).alias("health"),
    ).orderBy("group_id")


# ---------------------------------------------------------------------------
# J3 FK lineage + J6 traversal + dependency validation (operators/lineage.py)
# ---------------------------------------------------------------------------
# Catalog fixture in the SQL Server shape the reference reads
# (sys.foreign_keys ⨝ sys.foreign_key_columns): the TPC-H FK graph.
_FK_EDGES = [
    (1, "fk_lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    (2, "fk_lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    (3, "fk_lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    (4, "fk_orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    (5, "fk_customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    (6, "fk_supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    (7, "fk_nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_FK_EDGES_SQL = ",".join(
    f"('{src}','{dst}')" for (_, _, src, _, dst, _) in _FK_EDGES
)

_FK_ORACLE = f"""
WITH RECURSIVE
edges(from_table, to_table) AS MATERIALIZED (VALUES {_FK_EDGES_SQL}),
reach(table_name, hops) AS (
  SELECT 'lineitem', 0
  UNION ALL
  SELECT e.to_table, r.hops + 1
  FROM reach r JOIN edges e ON e.from_table = r.table_name
  WHERE r.hops < 10
),
minreach AS (
  SELECT table_name, CAST(MIN(hops) AS BIGINT) AS hops
  FROM reach GROUP BY 1
),
sel(table_name) AS (VALUES ('lineitem'), ('orders')),
missing AS (
  SELECT DISTINCT e.to_table AS table_name
  FROM edges e JOIN sel s ON e.from_table = s.table_name
  WHERE e.to_table NOT IN (SELECT table_name FROM sel)
)
SELECT 'reachable' AS kind, table_name, hops FROM minreach
UNION ALL
SELECT 'missing_dependency', table_name, CAST(-1 AS BIGINT) FROM missing
ORDER BY kind, table_name
"""


@_q("fk_lineage_report", _FK_ORACLE)
def fk_lineage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+J6 driver-visible: FK edges extracted from a SQL-Server-shaped
    catalog fixture (`lineage.fk_edges_from_catalog`), BFS reachability
    from lineitem with hop distances (`lineage.reachable_tables`), and the
    referential-integrity validation set (`lineage.missing_dependencies`
    for a {{lineitem, orders}} selection — the tables a pipeline must also
    replicate). The oracle walks the same graph with a recursive CTE."""
    from ..operators.lineage import (
        fk_edges_from_catalog,
        missing_dependencies,
        reachable_tables,
    )

    fk = spark.createDataFrame(
        [(rid, name) for (rid, name, *_rest) in _FK_EDGES],
        "object_id long, name string",
    )
    fkc = spark.createDataFrame(
        [
            (rid, src, scol, dst, dcol)
            for (rid, _name, src, scol, dst, dcol) in _FK_EDGES
        ],
        "constraint_object_id long, parent_table string,"
        " parent_column string, referenced_table string,"
        " referenced_column string",
    )
    edges = fk_edges_from_catalog(fk, fkc)
    reach = reachable_tables(edges, ["lineitem"]).select(
        F.lit("reachable").alias("kind"),
        F.col("table").alias("table_name"),
        F.col("hops").cast("long").alias("hops"),
    )
    missing = missing_dependencies(edges, ["lineitem", "orders"]).select(
        F.lit("missing_dependency").alias("kind"),
        F.col("table").alias("table_name"),
        F.lit(-1).cast("long").alias("hops"),
    )
    return reach.unionByName(missing).orderBy("kind", "table_name")


# ---------------------------------------------------------------------------
# F9 type inference (sources/files.py, reference s3.py:635-776)
# ---------------------------------------------------------------------------
# A planted JSON-lines object with every inference rule: bool-before-int,
# float, string, dict->json, list->array, null->string, int+float widening
# to float, and null+int conflict widening to string. Expected results are
# deterministic given the construction, so the oracle pins them as VALUES;
# the Spark column additionally records what Spark's own sampled inference
# yields for the same object (bigint/double/struct/array — and null+int
# resolving to bigint because JSON nulls don't widen Spark's inference).
_INFER_ORACLE = """
SELECT * FROM (VALUES
  ('amount',  'float',   'double'),
  ('flag',    'boolean', 'boolean'),
  ('maybe',   'string',  'bigint'),
  ('meta',    'json',    'struct<clerk:string>'),
  ('mixed',   'float',   'double'),
  ('okey',    'integer', 'bigint'),
  ('status',  'string',  'string'),
  ('tags',    'array',   'array<string>')
) t(column_name, value_rule_type, spark_inferred_type)
ORDER BY column_name
"""


@_q("type_inference_report", _INFER_ORACLE)
def type_inference_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 driver-visible: value-based schema inference
    (`files.infer_json_schema`, reference s3.py:635-776 rules) over a
    planted JSON object derived from orders, side by side with Spark's own
    sampled inference on the same bytes. Covers bool-before-int, dict/list
    mapping, int+float widening, and the null+int conflict (the reference
    rule widens to string; Spark's inference ignores nulls -> bigint)."""
    import json
    import tempfile

    from ..sources.files import infer_json_schema, read_json_objects

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 60)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
    )
    rows = orders.collect()  # bounded: < 60 keys at every SF
    lines = []
    for i, r in enumerate(rows):
        rec = {
            "okey": int(r["o_orderkey"]),
            "amount": float(i) + 0.25,
            "status": str(r["o_orderstatus"]),
            "flag": i % 2 == 0,
            "tags": ["a", "b"],
            "meta": {"clerk": str(r["o_orderpriority"])},
            "maybe": None if i % 2 == 0 else i,
            "mixed": i if i % 2 == 0 else i + 0.5,
        }
        lines.append(json.dumps(rec))
    work = tempfile.mkdtemp(prefix="infer_")
    obj = f"{work}/orders_sample.json"
    with open(obj, "w") as f:
        f.write("\n".join(lines) + "\n")

    inferred = infer_json_schema(lines)
    spark_schema = {
        f.name: f.dataType.simpleString()
        for f in read_json_objects(spark, obj).schema.fields
    }
    out = [
        (col, inferred[col], spark_schema[col]) for col in sorted(inferred)
    ]
    return spark.createDataFrame(
        out, "column_name string, value_rule_type string,"
        " spark_inferred_type string"
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Full pipeline lifecycle against live Derby: poll -> drift/evolution ->
# exactly-once manifest -> SCD2 current state (S1+T1/T2+J2+W1 composed)
# ---------------------------------------------------------------------------
_LIFECYCLE_ORACLE = """
WITH base AS MATERIALIZED (
  SELECT c_custkey AS k, c_acctbal AS bal,
         CASE WHEN c_custkey >= 150 THEN c_mktsegment END AS segment
  FROM customer WHERE c_custkey < 200
),
final AS (
  SELECT k,
         CASE WHEN k < 30 THEN bal + 1000.0 ELSE bal END AS bal,
         segment
  FROM base
  WHERE NOT (k % 10 = 7 AND k < 150)
)
SELECT COALESCE(segment, '(pre-drift)') AS segment,
       CAST(COUNT(*) AS BIGINT) AS customers,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM final GROUP BY 1 ORDER BY 1
"""


@_q("pipeline_lifecycle_derby", _LIFECYCLE_ORACLE)
def pipeline_lifecycle_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's layered CDC story end-to-end against a live embedded
    Derby source, driver-visible: (1) full-load poll into the exactly-once
    manifest sink; (2) upstream schema drift (ALTER ADD segment) detected
    on the next incremental poll — the manifest log widens, old rows
    NULL-backfill; (3) a change batch of updates + delete-rewrites; (4)
    SCD2 current-state view over the target, rolled up per segment. The
    pipeline plan itself (S17 config + topics + subscribe pattern) is
    composed via `plan_connected_pipeline` and its round-trip invariants
    asserted inline. Oracle reproduces the surviving state from the
    customer fixture."""
    import re
    import tempfile

    from ..operators.scd2 import current_state, to_scd2_rows
    from ..plans.runner import plan_connected_pipeline
    from ..sources import evolution as ev
    from ..sources import manifest_table as mt
    from ..sources.connect_config import SourceConnection
    from ..sources.incremental import PollState, poll_changes
    from ..sources.jdbc import JdbcReadSpec, JdbcWriteSpec
    from ..streaming import manifest_sink as ms

    # planning surface: config/topics/pattern must round-trip (pinned in
    # tests/test_lifecycle.py; re-asserted here so the driver query runs
    # the same composition a real pipeline start would)
    plan = plan_connected_pipeline(
        pipeline_id="lifederby",
        connection=SourceConnection(
            host="localhost", port=5432, username="app", password="app",
            database_type="postgresql", database="appdb",
        ),
        database="appdb",
        schema="public",
        tables=["customer"],
    )
    if not all(re.fullmatch(plan.subscribe_pattern, t) for t in plan.topics):
        raise RuntimeError("subscribe pattern must cover every generated topic")

    work = tempfile.mkdtemp(prefix="lifederby_")
    db, target = f"{work}/db", f"{work}/target"
    common = dict(
        engine="derby", host="", port=0, database=db, user="app",
        password="app", table="S_CUST",
    )
    w, r = JdbcWriteSpec(**common), JdbcReadSpec(**common)

    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 200
    )
    pre = cust.where(F.col("c_custkey") < 150).select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    post = cust.where(F.col("c_custkey") >= 150).select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("segment"),
    )

    def scd2(df, cols, op, ts):
        return to_scd2_rows(
            df.withColumn("op", F.lit(op)).withColumn(
                "source_ts_ms", F.lit(ts)
            ),
            cols,
        )

    # tick 1: initial rows -> full-load poll -> manifest batch 0
    w.write(pre)
    changes, state = poll_changes(
        r.read(spark), PollState(offset_column="k", high_water=None)
    )
    ms.append_batch(scd2(changes, ["k", "bal"], "r", 1000), 0, target, ["k"])

    # tick 2: upstream drift + new rows -> incremental poll sees only the
    # delta (WHERE k > high_water ran in Derby); the added column widens
    # the manifest log, old files read back NULL
    ev.execute_ddl(
        spark, w.url, ['ALTER TABLE S_CUST ADD COLUMN "segment" VARCHAR(12)']
    )
    post.write.format("jdbc").mode("append").options(
        url=w.url, dbtable="S_CUST"
    ).save()
    delta, state = poll_changes(r.read(spark), state)
    ms.append_batch(
        scd2(delta, ["k", "bal", "segment"], "c", 2000), 1, target, ["k"]
    )

    # tick 3: a CDC change batch — balance corrections for k<30, then
    # delete-rewrites for k%10==7 (later commit ts, so SCD2 ordering wins)
    updates = pre.where(F.col("k") < 30).select(
        "k",
        (F.col("bal") + F.lit(1000.0)).alias("bal"),
        F.lit(None).cast("string").alias("segment"),
    )
    deletes = pre.where(F.col("k") % 10 == 7).select(
        "k",
        F.lit(None).cast("double").alias("bal"),
        F.lit(None).cast("string").alias("segment"),
    )
    batch2 = scd2(updates, ["k", "bal", "segment"], "u", 3000).unionByName(
        scd2(deletes, ["k", "bal", "segment"], "d", 4000)
    )
    ms.append_batch(batch2, 2, target, ["k"])
    # crash-replay of batch 2 must be a no-op (exactly-once)
    if ms.append_batch(batch2, 2, target, ["k"]) is not None:
        raise RuntimeError("batch-2 replay was not the exactly-once no-op")

    cs = current_state(
        mt.read_table(spark, target), ["k"], order_cols=["__source_ts_ms"]
    )
    return (
        cs.groupBy(
            F.coalesce(F.col("segment"), F.lit("(pre-drift)")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.sum(F.col("bal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# S7 object listing driver-visible
# ---------------------------------------------------------------------------
_LISTING_ORACLE = """
SELECT 'nation_' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') || '.txt'
         AS key,
       CAST(LENGTH(n_name) + 1 AS BIGINT) AS size,
       'nation_' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0')
         AS table_name
FROM nation ORDER BY key
"""


@_q("object_listing_report", _LISTING_ORACLE)
def object_listing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 driver-visible: plant one text object per nation
    (``nation_NN.txt`` holding the nation name + newline), list the prefix
    through `files.list_objects` (the reference's objects-as-tables
    listing, s3.py:567-633), and report key / byte size / derived table
    name. The oracle recomputes each key and size from the nation fixture."""
    import tempfile

    from ..sources.files import list_objects

    work = tempfile.mkdtemp(prefix="objlist_")
    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )  # nation is a 25-row dimension at every SF
    for r in rows:
        with open(f"{work}/nation_{int(r['n_nationkey']):02d}.txt", "w") as f:
            f.write(str(r["n_name"]) + "\n")
    listed = list_objects(work, suffixes=(".txt",))
    return spark.createDataFrame(
        [(o.key, o.size, o.table) for o in listed],
        "key string, size long, table_name string",
    ).orderBy("key")


# ---------------------------------------------------------------------------
# A10 table size / rowcount snapshot
# ---------------------------------------------------------------------------
_SIZE_TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

_SIZE_ORACLE = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS row_count,"
        f" CAST((SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM {t}) d)"
        f" AS BIGINT) AS n_columns FROM {t}"
        for t in _SIZE_TABLES
    )
    + "\n) ORDER BY table_name"
)


@_q("table_size_report", _SIZE_ORACLE)
def table_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 driver-visible: the per-table size/rowcount snapshot the
    reference's monitoring tier reads from catalog stats — row count and
    column count for every fixture table, through the engine's catalog
    loader (which normalizes the events timestamp without changing the
    column count). Parquet footer statistics make each COUNT(*) a
    metadata-only scan."""
    parts = []
    for t in _SIZE_TABLES:
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.agg(F.count(F.lit(1)).alias("row_count")).select(
                F.lit(t).alias("table_name"),
                "row_count",
                F.lit(len(df.columns)).cast("long").alias("n_columns"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# F5/F6/P6/F10 identifier pipeline
# ---------------------------------------------------------------------------
_IDENT_ORACLE = r"""
WITH s AS (
  SELECT s_suppkey,
         regexp_replace(regexp_replace(s_name,
           '[#@$%^&*()+=\[\]{};:''",.<>?/\\|`~ -]', '_', 'g'),
           '_+', '_', 'g') AS ident,
         CASE s_suppkey % 8
           WHEN 0 THEN 'completed' WHEN 1 THEN 'FAILED'
           WHEN 2 THEN 'running'   WHEN 3 THEN 'applied'
           WHEN 4 THEN 'error'     WHEN 5 THEN 'Pending'
           WHEN 6 THEN 'succeeded' ELSE 'parked' END AS raw_status
  FROM supplier WHERE s_suppkey < 40
)
SELECT s_suppkey,
       ident,
       'pipe1.public.' || ident AS topic,
       ident AS table_back,
       CASE WHEN lower(raw_status) IN
                 ('completed','applied','success','succeeded')
              THEN 'success'
            WHEN lower(raw_status) IN ('failed','error','errored')
              THEN 'failed'
            WHEN lower(raw_status) IN ('running','in_progress','pending')
              THEN 'pending'
            ELSE 'unknown' END AS status_norm
FROM s ORDER BY s_suppkey
"""


@_q("identifier_pipeline_report", _IDENT_ORACLE)
def identifier_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6/P6/F10 driver-visible in one pass: supplier names (which
    carry '#') sanitized to identifiers, built into pipeline topics,
    round-tripped back to table names, and a cycled raw-status column
    normalized through the reference's status buckets (api.py:9036-9049).
    The oracle re-implements the same regex/CASE grammar in DuckDB."""
    from ..functions.identifiers import (
        normalize_status,
        sanitize_identifier,
        table_from_topic,
        topic_name,
    )

    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 40)
        .select(
            "s_suppkey",
            sanitize_identifier("s_name").alias("ident"),
            (F.col("s_suppkey") % 8).alias("m"),
        )
    )
    raw_status = (
        F.when(F.col("m") == 0, "completed")
        .when(F.col("m") == 1, "FAILED")
        .when(F.col("m") == 2, "running")
        .when(F.col("m") == 3, "applied")
        .when(F.col("m") == 4, "error")
        .when(F.col("m") == 5, "Pending")
        .when(F.col("m") == 6, "succeeded")
        .otherwise("parked")
    )
    out = sup.select(
        "s_suppkey",
        "ident",
        topic_name(F.lit("pipe1"), F.lit("public"), F.col("ident")).alias(
            "topic"
        ),
        raw_status.alias("raw_status"),
    ).select(
        "s_suppkey",
        "ident",
        "topic",
        table_from_topic("topic").alias("table_back"),
        normalize_status("raw_status").alias("status_norm"),
    )
    return out.orderBy("s_suppkey")


# ---------------------------------------------------------------------------
# Quantile-bucketed AUC — the documented 100 TB path for auc_score
# ---------------------------------------------------------------------------
_BUCKET_AUC_ORACLE = """
WITH t AS (
  SELECT NTILE(64) OVER (ORDER BY n_chars, doc_id) AS b,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM t GROUP BY b
),
r AS (
  SELECT cnt, pos,
         pos * (2 * COALESCE(SUM(cnt) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1) AS rs2
  FROM g
),
f AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(cnt - pos) AS BIGINT) AS nn,
         CAST(SUM(rs2) AS BIGINT) AS rs2
  FROM r
)
SELECT CAST(rs2 - np * (np + 1) AS DOUBLE)
         / CAST(2 * np * nn AS DOUBLE) AS auc,
       np AS n_pos, nn AS n_neg, CAST(64 AS BIGINT) AS n_buckets
FROM f
"""


@_q("quantile_bucket_auc", _BUCKET_AUC_ORACLE)
def quantile_bucket_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path `auc_score` documents for extreme score cardinality:
    quantile-bucket scores first (`classifier.bucketed_auc_score` — exact
    ANSI NTILE via the partition-offset plan, so no single-partition pass
    over rows), then tie-corrected Mann–Whitney AUC over bucket indices in
    pure BIGINT algebra with ONE final integer division (IEEE-identical
    across engines, hash-safe without ROUND). Oracle: the same NTILE +
    rank algebra in DuckDB windows."""
    from ..operators.classifier import bucketed_auc_score

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return bucketed_auc_score(docs, "n_chars", "y", "doc_id", n_buckets=64)


@_q("pipeline_lifecycle_runner", _LIFECYCLE_ORACLE)
def pipeline_lifecycle_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Derby lifecycle's engine-native twin (VERDICT r8 item 5):
    the SAME logical lifecycle — snapshot -> offset capture -> change
    stream -> SCD2 current state — but composed through the ONE-CALL
    `plans/runner.py:run_connected_pipeline` (config-gen + snapshot plan
    + changelog stream) over a file changelog and the engine's parquet/
    event-log target instead of Derby JDBC. Embedded Derby's single-
    process file lock keeps `pipeline_lifecycle_derby` out of the
    multi-JVM sweep; every stage of THIS twin (full-load conform/stamp,
    Debezium-envelope normalization, availableNow drain, commit-time
    current state) runs on real executors, so the lifecycle LOGIC gets
    the two-executor value verdict the Derby driver cannot. Same oracle
    as the Derby query: the two must agree with each other and with the
    fixture replay."""
    import json as _json
    import os as _os
    import pathlib
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..plans.runner import run_connected_pipeline, target_current_state
    from ..sources.connect_config import SourceConnection

    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 200
    )
    src = cust.where(F.col("c_custkey") < 150).select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.lit(None).cast("string").alias("segment"),
    )
    # bounded by the key predicate (< 200 keys at every SF): the change
    # feed is authored driver-side as Debezium envelopes
    rows = [
        (int(r["c_custkey"]), float(r["c_acctbal"]), str(r["c_mktsegment"]))
        for r in cust.select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ).collect()
    ]

    def env(op, before, after, ts):
        return _json.dumps(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "source": {
                        "ts_ms": ts,
                        "db": "appdb",
                        "schema": "public",
                        "table": "customer",
                    },
                    "op": op,
                    "ts_ms": ts,
                }
            }
        )

    work = tempfile.mkdtemp(prefix="liferunner_")
    feed = pathlib.Path(work, "feed")
    feed.mkdir()
    ticks = [
        (
            "t1_inserts.json",
            [
                env("c", None, {"k": k, "bal": bal, "segment": seg}, 2000)
                for k, bal, seg in rows
                if k >= 150
            ],
        ),
        (
            "t2_updates.json",
            [
                env(
                    "u",
                    {"k": k, "bal": bal, "segment": None},
                    {"k": k, "bal": bal + 1000.0, "segment": None},
                    3000,
                )
                for k, bal, _ in rows
                if k < 30
            ],
        ),
        (
            "t3_deletes.json",
            [
                env("d", {"k": k, "bal": bal, "segment": None}, None, 4000)
                for k, bal, _ in rows
                if k % 10 == 7 and k < 150
            ],
        ),
    ]
    for i, (name, lines) in enumerate(ticks):
        f = feed / name
        f.write_text("\n".join(lines) + "\n")
        _os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    payload = StructType(
        [
            StructField("k", LongType()),
            StructField("bal", DoubleType()),
            StructField("segment", StringType()),
        ]
    )
    with replay_shuffle(spark):
        plan, res = run_connected_pipeline(
            spark,
            pipeline_id="liferunner",
            connection=SourceConnection(
                host="localhost",
                port=5432,
                username="app",
                password="app",
                database_type="postgresql",
                database="appdb",
            ),
            database="appdb",
            schema="public",
            tables=["customer"],
            source=src,
            changelog_dir=str(feed),
            payload_schema=payload,
            work_root=work,
            snapshot_ts_ms=1000,
        )
    import re as _re

    if not all(_re.fullmatch(plan.subscribe_pattern, t) for t in plan.topics):
        raise RuntimeError("subscribe pattern must cover every topic")
    if res.full_load is None or res.full_load.rows != src.count():
        raise RuntimeError("full load did not land the snapshot rows")
    cs = target_current_state(spark, res.target_path, ["k"])
    return (
        cs.groupBy(
            F.coalesce(F.col("segment"), F.lit("(pre-drift)")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.sum(F.col("bal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Concurrent multi-pipeline lifecycle (VERDICT r8 item 7)
# ---------------------------------------------------------------------------
_MULTI_PIPELINE_ORACLE = """
WITH p1 AS MATERIALIZED (
  SELECT c_custkey AS k, c_acctbal AS bal FROM customer WHERE c_custkey < 60
),
p2 AS MATERIALIZED (
  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
  WHERE c_custkey >= 60 AND c_custkey < 120
),
cur1 AS (
  SELECT k, CASE WHEN k < 15 THEN bal + 500.0 ELSE bal END AS bal
  FROM p1 WHERE k % 7 <> 3
),
cur2 AS (
  SELECT k, CASE WHEN k >= 100 THEN bal + 250.0 ELSE bal END AS bal
  FROM p2 WHERE k % 5 <> 2
)
SELECT 'p1' AS pipeline_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p1) AS events_insert,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p1 WHERE k < 15)
         AS events_update,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p1 WHERE k % 7 = 3)
         AS events_delete,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cur1) AS current_rows,
       (SELECT CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) FROM cur1)
         AS total_bal
UNION ALL
SELECT 'p2',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p2),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p2 WHERE k >= 100),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p2 WHERE k % 5 = 2),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cur2),
       (SELECT CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) FROM cur2)
ORDER BY pipeline_id
"""


@_q("multi_pipeline_concurrent", _MULTI_PIPELINE_ORACLE)
def multi_pipeline_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two CDC pipelines running CONCURRENTLY in one engine — the
    reference's multi-tenant posture (`/root/reference/backend/ingestion/
    cdc_manager.py:100-193` per-pipeline status isolation) as a
    driver-verdict query, promoting tests/test_multi_pipeline.py's logic:
    both change streams are STARTED before either is awaited, each under
    its own checkpoint and SCD2 target, both logging into ONE shared
    event-log table. Sharing is by a `pipeline=` PARTITION under a common
    table root (each writer owns its partition directory; readers see one
    partitioned table, and every row's stamped pipeline_id is checked
    against the partition that physically owns it) — two concurrent FileOutputCommitter jobs on the
    SAME directory would race on `_temporary/0` staging (job A's cleanup
    can delete job B's in-flight files), so partition-per-writer is the
    multi-writer discipline a production lake uses, not a test
    convenience.

    Isolation is ASSERTED, not assumed: each target may contain only its
    own key range and each event-log partition only its own pipeline's
    rows (a violation raises). The report reads the SHARED log grouped by
    the discovered pipeline_id partition column — per-pipeline normalized
    op counts — joined with each pipeline's SCD2 current-state rollup;
    the oracle re-derives every number from the customer fixture. Scale
    shape: N pipelines = N streaming queries + N partition dirs; the
    report reads event-log metadata-sized aggregates, never refeeds."""
    import json as _json
    import os as _os
    import pathlib
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..plans.runner import target_current_state
    from ..streaming.changelog_stream import (
        StreamConfig,
        file_source,
        start_changelog_stream,
    )

    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 120
    )
    rows = [
        (int(r["c_custkey"]), float(r["c_acctbal"]))
        for r in cust.select("c_custkey", "c_acctbal").collect()
    ]  # bounded: < 120 keys at every SF

    def env(op, before, after, ts):
        return _json.dumps(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "source": {
                        "ts_ms": ts,
                        "db": "appdb",
                        "schema": "public",
                        "table": "customer",
                    },
                    "op": op,
                    "ts_ms": ts,
                }
            }
        )

    # p1 owns keys [0, 60); p2 owns [60, 120) — same envelope grammar,
    # disjoint tenants
    specs = {
        "p1": {
            "keys": [(k, b) for k, b in rows if k < 60],
            "upd": lambda k: k < 15,
            "delta": 500.0,
            "del": lambda k: k % 7 == 3,
        },
        "p2": {
            "keys": [(k, b) for k, b in rows if k >= 60],
            "upd": lambda k: k >= 100,
            "delta": 250.0,
            "del": lambda k: k % 5 == 2,
        },
    }
    work = tempfile.mkdtemp(prefix="multipipe_")
    log_root = f"{work}/event_log"
    payload = StructType(
        [StructField("k", LongType()), StructField("bal", DoubleType())]
    )
    queries, cfgs = [], {}
    with replay_shuffle(spark):
        for pid, s in specs.items():
            feed = pathlib.Path(work, pid, "feed")
            feed.mkdir(parents=True)
            ticks = [
                (
                    "t1_inserts.json",
                    [
                        env("c", None, {"k": k, "bal": b}, 2000)
                        for k, b in s["keys"]
                    ],
                ),
                (
                    "t2_updates.json",
                    [
                        env(
                            "u",
                            {"k": k, "bal": b},
                            {"k": k, "bal": b + s["delta"]},
                            3000,
                        )
                        for k, b in s["keys"]
                        if s["upd"](k)
                    ],
                ),
                (
                    "t3_deletes.json",
                    [
                        env("d", {"k": k, "bal": b}, None, 4000)
                        for k, b in s["keys"]
                        if s["del"](k)
                    ],
                ),
            ]
            for i, (name, lines) in enumerate(ticks):
                f = feed / name
                f.write_text("\n".join(lines) + "\n")
                _os.utime(f, (1_700_000_000 + i,) * 2)
            cfg = StreamConfig(
                pipeline_id=pid,
                target_path=f"{work}/{pid}/target",
                event_log_path=f"{log_root}/pipeline={pid}",
                checkpoint_dir=f"{work}/{pid}/ckpt",
                max_files_per_trigger=1,
            )
            cfgs[pid] = cfg
            # start WITHOUT awaiting: both pipelines run at once
            queries.append(
                start_changelog_stream(
                    spark, file_source(spark, str(feed), 1), payload, cfg
                )
            )
        try:
            for q in queries:
                await_replay(q, 120)
        finally:  # a raise on the first stream must not orphan the second
            for q in queries:
                if q.isActive:
                    q.stop()

    # isolation: each target holds only its own tenant's keys
    for pid, lo, hi in (("p1", 0, 60), ("p2", 60, 120)):
        n_foreign = (
            spark.read.parquet(cfgs[pid].target_path)
            .where((F.col("k") < lo) | (F.col("k") >= hi))
            .count()
        )
        if n_foreign:
            raise RuntimeError(
                f"{pid}: {n_foreign} rows outside [{lo}, {hi}) — pipeline"
                " isolation violated"
            )
    shared_log = spark.read.parquet(log_root)  # partition discovery
    if [r["pipeline_id"] for r in
            shared_log.select("pipeline_id").distinct().orderBy(
                "pipeline_id").collect()] != ["p1", "p2"]:
        raise RuntimeError("shared event log must carry both pipelines")
    # every row's stamped pipeline_id must agree with the partition that
    # physically owns it — the writer never crossed a tenant boundary
    n_cross = shared_log.where(
        F.col("pipeline") != F.col("pipeline_id")
    ).count()
    if n_cross:
        raise RuntimeError(
            f"{n_cross} event-log rows landed in another pipeline's"
            " partition — shared-log isolation violated"
        )
    ops = (
        shared_log.groupBy("pipeline_id")
        .pivot("event_type", ["insert", "update", "delete"])
        .count()
        .select(
            "pipeline_id",
            F.coalesce("insert", F.lit(0)).alias("events_insert"),
            F.coalesce("update", F.lit(0)).alias("events_update"),
            F.coalesce("delete", F.lit(0)).alias("events_delete"),
        )
    )
    states = []
    for pid in specs:
        cs = target_current_state(spark, cfgs[pid].target_path, ["k"])
        states.append(
            cs.agg(
                F.count(F.lit(1)).alias("current_rows"),
                F.sum(F.col("bal").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_bal"),
            ).select(F.lit(pid).alias("pipeline_id"), "*")
        )
    state = states[0].unionByName(states[1])
    return ops.join(state, "pipeline_id").orderBy("pipeline_id")


# ---------------------------------------------------------------------------
# Backpressure / bounded-batch replay (VERDICT r9 item 7): the reference
# throttles throughput via sink batch sizes
# (`/root/reference/backend/ingestion/sink_config.py` batch.size /
# consumer.override.max.poll.records; SURVEY §4 batch-sizing row) — in
# Spark the same knob is maxFilesPerTrigger / maxOffsetsPerTrigger. The
# contract worth a driver verdict: a THROTTLED replay (many small
# micro-batches) must land the exact same target state as an UNBOUNDED
# replay (one big batch) — rate limiting may never change results, only
# batch boundaries.
# ---------------------------------------------------------------------------
_BACKPRESSURE_ORACLE = """
WITH k AS (
  SELECT CAST(c_custkey AS BIGINT) AS k, c_acctbal AS bal
  FROM customer WHERE c_custkey < 100
),
surv AS (
  SELECT k,
         bal + CASE WHEN k % 3 = 0 THEN 100.0 ELSE 0.0 END
             + CASE WHEN k % 5 = 1 THEN 50.0 ELSE 0.0 END AS bal
  FROM k WHERE k % 7 <> 0
),
newk AS (SELECT k + 1000 AS k, bal + 7.25 + 25.0 AS bal FROM k WHERE k % 11 = 0),
cur AS (SELECT * FROM surv UNION ALL SELECT * FROM newk)
SELECT * FROM (
  SELECT 'batches:bounded' AS item, CAST(6 AS BIGINT) AS n,
         CAST(0 AS DOUBLE) AS total_bal
  UNION ALL SELECT 'batches:unbounded', 1, 0
  UNION ALL SELECT 'equal:current_state', 1, 0
  UNION ALL SELECT 'ops:insert',
    (SELECT COUNT(*) FROM k) + (SELECT COUNT(*) FROM k WHERE k % 11 = 0), 0
  UNION ALL SELECT 'ops:update',
      (SELECT COUNT(*) FROM k WHERE k % 3 = 0)
    + (SELECT COUNT(*) FROM k WHERE k % 5 = 1 AND k % 7 <> 0)
    + (SELECT COUNT(*) FROM k WHERE k % 11 = 0), 0
  UNION ALL SELECT 'ops:delete', (SELECT COUNT(*) FROM k WHERE k % 7 = 0), 0
  UNION ALL SELECT 'state:current_rows', (SELECT COUNT(*) FROM cur),
    (SELECT CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) FROM cur)
) ORDER BY item
"""


@_q("stream_backpressure_bounded_replay", _BACKPRESSURE_ORACLE)
def stream_backpressure_bounded_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One six-file changelog feed (inserts, two update waves, deletes,
    late inserts, late updates — strictly increasing source ts and file
    mtimes) replayed through the SAME pipeline twice: unbounded
    (every file in one micro-batch) and throttled
    (``max_files_per_trigger=1`` — six micro-batches, the
    maxOffsetsPerTrigger analog for the file twin). The query ASSERTS the
    two SCD2 current states are row-for-row identical (a difference
    raises), then reports the throttled run's batch count (6), the
    unbounded run's (1), the per-op event-log totals, and the final
    current-state rollup — all re-derived by the oracle from the customer
    fixture. Deltas are dyadic (100.0 / 50.0 / 25.0 / 7.25) so double
    arithmetic is bit-identical across engines; sums route through
    DECIMAL(18,2) per CLAUDE.md."""
    import json as _json
    import os as _os
    import pathlib
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..plans.runner import target_current_state
    from ..streaming.changelog_stream import (
        StreamConfig,
        file_source,
        start_changelog_stream,
    )

    rows = [
        (int(r["c_custkey"]), float(r["c_acctbal"]))
        for r in load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select("c_custkey", "c_acctbal")
        .collect()
    ]  # bounded: < 100 keys at every SF

    def env(op, before, after, ts):
        return _json.dumps(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "source": {
                        "ts_ms": ts,
                        "db": "appdb",
                        "schema": "public",
                        "table": "customer",
                    },
                    "op": op,
                    "ts_ms": ts,
                }
            }
        )

    def bal2(k, b):
        return b + (100.0 if k % 3 == 0 else 0.0)

    def bal4(k, b):
        return bal2(k, b) + 50.0

    ticks = [
        ("f1_ins.json", [env("c", None, {"k": k, "bal": b}, 1000)
                         for k, b in rows]),
        ("f2_upd.json", [env("u", {"k": k, "bal": b},
                             {"k": k, "bal": bal2(k, b)}, 2000)
                         for k, b in rows if k % 3 == 0]),
        ("f3_del.json", [env("d", {"k": k, "bal": bal2(k, b)}, None, 3000)
                         for k, b in rows if k % 7 == 0]),
        ("f4_upd.json", [env("u", {"k": k, "bal": bal2(k, b)},
                             {"k": k, "bal": bal4(k, b)}, 4000)
                         for k, b in rows if k % 5 == 1 and k % 7 != 0]),
        ("f5_ins.json", [env("c", None,
                             {"k": k + 1000, "bal": b + 7.25}, 5000)
                         for k, b in rows if k % 11 == 0]),
        ("f6_upd.json", [env("u", {"k": k + 1000, "bal": b + 7.25},
                             {"k": k + 1000, "bal": b + 7.25 + 25.0}, 6000)
                         for k, b in rows if k % 11 == 0]),
    ]
    work = tempfile.mkdtemp(prefix="backpressure_")
    feed = pathlib.Path(work, "feed")
    feed.mkdir(parents=True)
    for i, (name, lines) in enumerate(ticks):
        f = feed / name
        f.write_text("\n".join(lines) + "\n")
        _os.utime(f, (1_700_000_000 + i,) * 2)  # strict arrival order

    payload = StructType(
        [StructField("k", LongType()), StructField("bal", DoubleType())]
    )
    cfgs = {}
    with replay_shuffle(spark):
        for mode, mft in (("unbounded", None), ("bounded", 1)):
            cfg = StreamConfig(
                pipeline_id=f"bp_{mode}",
                target_path=f"{work}/{mode}/target",
                event_log_path=f"{work}/{mode}/event_log",
                checkpoint_dir=f"{work}/{mode}/ckpt",
                max_files_per_trigger=mft,
            )
            cfgs[mode] = cfg
            q = start_changelog_stream(
                spark, file_source(spark, str(feed), mft), payload, cfg
            )
            await_replay(q, 120)

    states = {
        m: target_current_state(spark, cfgs[m].target_path, ["k"]).select(
            "k", "bal"
        )
        for m in cfgs
    }
    diff = (
        states["bounded"].exceptAll(states["unbounded"]).count()
        + states["unbounded"].exceptAll(states["bounded"]).count()
    )
    if diff:
        raise RuntimeError(
            f"throttled and unbounded replays diverged on {diff} current-"
            "state rows — rate limiting changed RESULTS, not just batching"
        )

    def n_batches(mode):
        return (
            spark.read.parquet(cfgs[mode].target_path)
            .select("__batch_id")
            .distinct()
            .count()
        )

    meta = spark.createDataFrame(
        [
            ("batches:bounded", n_batches("bounded"), 0.0),
            ("batches:unbounded", n_batches("unbounded"), 0.0),
            ("equal:current_state", 1, 0.0),
        ],
        "item string, n bigint, total_bal double",
    )
    ops = (
        spark.read.parquet(cfgs["bounded"].event_log_path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("ops:"), F.col("event_type")).alias("item"),
            "n",
            F.lit(0.0).alias("total_bal"),
        )
    )
    state = states["bounded"].agg(
        F.lit("state:current_rows").alias("item"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("bal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    ).select("item", "n", "total_bal")
    return meta.unionByName(ops).unionByName(state).orderBy("item")
