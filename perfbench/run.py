#!/usr/bin/env python3
"""Benchmark of the CDC engine: live change-path latency, backlog catch-up
and an analytics mix, with a traced run that splits time by layer.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``README.md`` in this directory
for why each exists and which layers it stresses):

* ``cdc_live``      open loop: one Debezium feed file per tick into a
                    ``processingTime`` changelog stream, timed from when each
                    file was due until its rows are readable in both sinks
                    (runnable and checked, but not in ``BENCHMARK.json``: its
                    latency does not hold still on a shared VM, see README);
* ``cdc_catchup``   snapshot full load + reconciliation, an ``availableNow``
                    drain of a pre-landed backlog, then current state and the
                    monitoring dashboard;
* ``analytics_mix`` closed loop, one client: a fixed list of registry
                    queries, each into a ``noop`` sink, checked against its
                    DuckDB oracle outside the timed passes.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it is the run's context: host,
seed, engine version, the workload's own named figures and every check.
Everything the run writes lives under ``.perfbench_work/`` in the repository
root and is removed before exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402  (benchmark-local module)
import probes  # noqa: E402

WORKLOADS = ("cdc_live", "cdc_catchup", "analytics_mix")

# Registry queries of the analytics mix, in pass order, with the layer each
# stands for. The list is what fits the per-run time budget at local[4];
# README.md lists the heavier queries that were left out and why.
ANALYTICS_QUERIES = (
    "q9",                         # plain SQL: joins + aggregate
    "changelog_net_effect",       # changelog analytics
    "value_quantile_sketch",      # Python workers (mapInPandas)
    "stateful_running_counts",    # stream replay + state store
    "manifest_change_feed",       # manifest-table commits: write, MERGE, change feed
)
ANALYTICS_SF = 0.001

# CPU seconds rather than wall time: on a shared VM the wall time of the
# same work moves with the hypervisor's steal by 30% and more from run to
# run (README.md, "Why CPU time is gated"); wall-clock figures are in each
# run's context line
END_TO_END = {
    "cpu_s": "s",
    "setup_s": "s",
}

PER_LAYER = {
    # streaming.changelog_stream, from StreamingQueryProgress.durationMs
    "stream.batches": "count",
    "stream.rows_per_batch.p50": "rows",
    "stream.addBatch_ms.p50": "ms",
    "stream.addBatch_ms.p95": "ms",
    "stream.queryPlanning_ms.p50": "ms",
    "stream.walCommit_ms.p50": "ms",
    "stream.commitOffsets_ms.p50": "ms",
    "stream.overhead_share": "fraction",
    "stream.jobs_per_batch": "count",
    "stream.backlog_files.max": "count",
    # sources.files
    "stream.latestOffset_ms.p50": "ms",
    # functions.changelog
    "decode.rows_per_s": "1/s",
    "decode.corrupt_rows": "count",
    # plans.pipeline + operators.reconciliation
    "full_load.call_s": "s",
    "reconcile.call_s": "s",
    # operators.scd2, streaming.monitoring
    "scd2.current_state_s": "s",
    "scd2.shuffle_bytes": "bytes",
    "monitoring.dashboard_s": "s",
    # queries.* (analytics mix)
    **{f"query.{q}_s": "s" for q in ANALYTICS_QUERIES},
    # Spark executors and driver, over the measured window
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.wait_s": "s",
    "exec.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver.build_s": "s",
    # Python workers (SQL operator metrics)
    "pyworker.start_s": "s",
    "pyworker.init_s": "s",
    "pyworker.run_s": "s",
    "pyworker.bytes_to": "bytes",
    "pyworker.bytes_from": "bytes",
    # state store (progress stateOperators)
    "state.commit_ms": "ms",
    "state.rows_total": "rows",
    "state.memory_bytes": "bytes",
    # sinks and checkpoint
    "sink.target_files": "count",
    "sink.event_log_files": "count",
    "ckpt.bytes": "bytes",
    # the generator
    "gen.events": "count",
    "gen.files": "count",
    # self time per layer span, and what no span covers
    "self.session_s": "s",
    "self.gen_s": "s",
    "self.warmup_s": "s",
    "self.full_load_s": "s",
    "self.reconcile_s": "s",
    "self.stream_start_s": "s",
    "self.stream_batches_s": "s",
    "self.stream_idle_s": "s",
    "self.current_state_s": "s",
    "self.dashboard_s": "s",
    "self.decode_s": "s",
    "self.queries_s": "s",
    "self.checks_s": "s",
    "trace.wall_s": "s",
    "trace.residual_s": "s",
    "trace.residual_frac": "fraction",
    "trace.overhead_frac": "fraction",
}

# span name -> self-time metric
SELF_METRICS = {
    "session": "self.session_s",
    "gen": "self.gen_s",
    "warmup": "self.warmup_s",
    "full_load": "self.full_load_s",
    "reconcile": "self.reconcile_s",
    "stream.start": "self.stream_start_s",
    "stream.batch": "self.stream_batches_s",
    "stream.window": "self.stream_idle_s",
    "scd2.current_state": "self.current_state_s",
    "monitoring.dashboard": "self.dashboard_s",
    "decode": "self.decode_s",
    "checks": "self.checks_s",
}


class Run:
    """State of one benchmark run: session, work dir, tracer, outcomes."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = probes.Tracer(trace, uuid.uuid4().hex[:12])
        self.spark = None
        self.listener = None
        self.streams: list = []
        self.procs: list[subprocess.Popen] = []  # generator processes
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, dict] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named: dict[str, float] = {}  # the workload's own named figures
        self.setup_parts: dict[str, float] = {}
        self.measured: list[tuple[float, float]] = []  # timed windows
        self.batch_windows: list[tuple[float, float]] = []  # traced stream batches
        self.bench_threads: list = []  # the benchmark's own threads, with cpu_s

    # -- outcomes -----------------------------------------------------------
    def op(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n

    def check(self, name: str, ok: bool, **detail) -> None:
        self.checks[name] = {"ok": bool(ok), **detail}
        self.op(ok)

    # -- spark ----------------------------------------------------------------
    def start_session(self) -> None:
        from pyspark.sql import SparkSession

        w = self.work
        # C1 only: in a process this short, C2 would still be compiling (on
        # cores the engine needs) during the measured window, differently
        # from run to run
        java_opts = (f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={w / 'tmp'} "
                     f"-Dderby.system.home={w / 'derby'}")
        builder = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(self.cpus))
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", str(w / "local"))
            .config("spark.sql.warehouse.dir", str(w / "warehouse"))
            .config("spark.driver.extraJavaOptions", java_opts)
            # keep every job, stage and SQL execution for the layer report
            .config("spark.ui.retainedJobs", "1000000")
            .config("spark.ui.retainedStages", "1000000")
            .config("spark.sql.ui.retainedExecutions", "1000000")
        )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        from cdc_application_febuary_spark.session import tune

        tune(self.spark)
        if self.trace:
            self.listener = probes.progress_listener()
            self.spark.streams.addListener(self.listener)

    def stop_session(self) -> None:
        """Stop Spark and wait until the driver JVM (and with it its Python
        workers) has exited; it exits when its stdin closes."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def engine_cpu_s(self) -> float:
        """CPU seconds the engine has used so far: the driver JVM and its
        Python workers, plus this process (the PySpark driver and the
        ``foreachBatch`` callbacks) less the benchmark's own threads."""
        return (probes.tree_cpu_s(self.jvm_pid()) + time.process_time()
                - sum(t.cpu_s for t in self.bench_threads))

    def stop_streams(self) -> None:
        for q in self.streams:
            if q.isActive:
                q.stop()
        self.streams.clear()


# ---------------------------------------------------------------------------
# shared checks
# ---------------------------------------------------------------------------


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """Order-insensitive (rows, sum of row hashes) over ``cols``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def check_cdc_outputs(r: Run, dead_letter: Path, expected: Path, counts: dict,
                      state_fp: tuple[int, int], dashboard: list,
                      extra_rows=None) -> None:
    """The engine's current state (``state_fp``) equals the generator's
    final state; the event-log counts by type (``dashboard`` rows) equal the
    changes fed; the dead letter holds every undecodable line. ``extra_rows``
    are rows the benchmark itself streamed (warm-up)."""
    spark = r.spark
    exp = spark.read.parquet(str(expected))
    if extra_rows is not None:
        exp = exp.unionByName(extra_rows)
    exp_fp = fingerprint(exp, exp.columns)
    r.check("current_state_matches_generator", exp_fp == state_fp,
            expected_rows=exp_fp[0], got_rows=state_fp[0])

    want = {t: counts[t] for t in ("insert", "update", "delete")}
    if extra_rows is not None:
        want["insert"] += extra_rows.count()
    have = {row["event_type"]: int(row["cnt"]) for row in dashboard}
    have = {t: have.get(t, 0) for t in set(have) | set(want)}
    r.check("event_log_counts_match_feed", have == want, expected=want, got=have)

    # the file twin of a tombstone (an empty line) is not a null value, so
    # the decoder quarantines it with the corrupt envelopes
    want_dl = counts["corrupt"] + counts["tombstone"]
    got_dl = spark.read.parquet(str(dead_letter)).count() if dead_letter.is_dir() else 0
    r.check("dead_letter_matches_corrupt_fed", got_dl == want_dl,
            expected=want_dl, got=got_dl)


def await_stream(r: Run, q, timeout_s: float, name: str) -> bool:
    """Wait for an availableNow stream; a timeout or an exception is a
    failed operation, never a result."""
    done = q.awaitTermination(timeout_s)
    ok = bool(done) and q.exception() is None
    if not done:
        q.stop()
    r.check(f"{name}_completed", ok,
            timed_out=not done,
            error=None if q.exception() is None else str(q.exception())[:300])
    return ok


def stop_after_commit(r: Run, q, checkpoint: Path, batch_id: int, timeout_s: float) -> bool:
    """Stop a continuous stream only once ``batch_id`` is committed, so no
    sink write is cut off mid-batch."""
    deadline = time.time() + timeout_s
    marker = checkpoint / "commits" / str(batch_id)
    while time.time() < deadline and q.isActive and not marker.exists():
        time.sleep(0.05)
    while q.isActive and q.status.get("isTriggerActive") and time.time() < deadline:
        time.sleep(0.05)
    committed = marker.exists()
    err = q.exception()
    q.stop()
    r.check("stream_stopped_after_last_commit", committed and err is None,
            batch_id=batch_id, error=None if err is None else str(err)[:300])
    return committed


def stream_layer(r: Run, query_name: str, checkpoint: Path, landed_at,
                 first_batch: int = 0) -> None:
    """Micro-batch metrics of one changelog stream (traced runs), from
    ``first_batch`` on: an earlier batch is a cold warm-up, not the
    steady state."""
    prog = sorted((p for p in r.listener.for_query(query_name)
                   if p.get("numInputRows", 0) > 0 and p["batchId"] >= first_batch),
                  key=lambda p: p["batchId"])
    r.layer.update(probes.stream_counts(prog))
    r.batch_windows = probes.batch_windows(prog)
    win = r.tracer.index("stream.window")
    for start, end in r.batch_windows:
        r.tracer.add("stream.batch", start, end, win)
    # backlog at each batch start: files landed minus files already read
    per_batch = probes.file_source_batches(checkpoint)
    worst = 0
    read_before = sum(n for b, n in per_batch.items() if b < first_batch)
    for p, (start, _) in zip(prog, r.batch_windows):
        worst = max(worst, landed_at(start) - read_before)
        read_before += per_batch.get(int(p["batchId"]), 0)
    r.layer["stream.backlog_files.max"] = float(worst)


def sink_layer(r: Run, target: Path, event_log: Path, checkpoint: Path) -> None:
    r.layer["sink.target_files"] = float(probes.dir_stats(target)[0])
    r.layer["sink.event_log_files"] = float(probes.dir_stats(event_log)[0])
    r.layer["ckpt.bytes"] = float(probes.dir_stats(checkpoint)[1])


def latency_summary(lat: list[float]) -> dict[str, float]:
    return {"n": len(lat), **{f"p{q}": probes.pct(lat, q / 100) for q in (50, 90, 95, 99)}}


def visibility(r: Run, visible_at: list, due: list[float], rows: list[int],
               errors: list[str]) -> list[float]:
    """Seconds from due to visible for each feed file that landed rows; such
    a file never seen in both sinks is a failed operation."""
    lat = [v - d for v, d, n in zip(visible_at, due, rows) if n and v is not None]
    missing = sum(1 for v, n in zip(visible_at, rows) if n and v is None)
    r.op(True, n=len(lat))
    r.op(False, n=missing)
    if missing or errors:
        r.checks["all_files_visible"] = {"ok": False, "missing": missing,
                                         "poll_errors": errors[:3]}
    return lat


# ---------------------------------------------------------------------------
# cdc_live
# ---------------------------------------------------------------------------

LIVE_KEYS = 20_000
# events/s: a quarter of the knee measured at local[4] with this feed and
# trigger (README.md, "Offered load"), so each batch is mostly fixed cost
LIVE_RATE = 1_000
# batches take about a second, longer than the interval, so the next batch
# starts as soon as one ends; the interval only bounds how long a file that
# lands on an idle stream waits
LIVE_TRIGGER = "250 milliseconds"
LIVE_TICK_S = 0.05
LIVE_WARM_S = 2.0           # unmeasured ticks first, so batches are steady
LIVE_MIN_TICKS = 210        # >= 10 ticks beyond p95


def cdc_live(r: Run) -> None:
    from cdc_application_febuary_spark.plans.runner import target_current_state
    from cdc_application_febuary_spark.streaming.changelog_stream import (
        StreamConfig, file_source, start_changelog_stream,
    )
    from cdc_application_febuary_spark.streaming.monitoring import event_log_dashboard

    spark = r.spark
    schema = spark_schema(gen.live_schema())
    tick_s = LIVE_TICK_S
    warm_ticks = round(LIVE_WARM_S / tick_s)
    ticks = max(LIVE_MIN_TICKS, round(r.seconds / tick_s))
    per_tick = max(1, round(LIVE_RATE * tick_s))

    d = r.work / "live"
    cfg = StreamConfig(
        pipeline_id="live",
        target_path=str(d / "target"),
        event_log_path=str(d / "event_log"),
        checkpoint_dir=str(d / "ckpt"),
        trigger={"processingTime": LIVE_TRIGGER},
        dead_letter_path=str(d / "dead_letter"),
    )
    feed = d / "feed"
    feed.mkdir(parents=True)
    # warm-up: one insert on a key outside the generator's key space
    t = time.perf_counter()
    warm_row = {"id": LIVE_KEYS, "tick": -2, "val": 0, "name": "warm"}
    gen.write_feed_file(feed / "warm.json", [json.dumps({"payload": {
        "before": None, "after": warm_row, "op": "c",
        "source": {"ts_ms": gen.SNAPSHOT_TS_MS}, "ts_ms": gen.SNAPSHOT_TS_MS}})],
        time.time() - 5)
    with r.tracer.span("stream.start"):
        q = start_changelog_stream(spark, file_source(spark, str(feed)), schema, cfg)
    r.streams.append(q)
    warm_deadline = time.time() + 120
    with r.tracer.span("warmup"):
        while time.time() < warm_deadline and q.isActive:
            if (Path(cfg.checkpoint_dir) / "commits" / "0").exists():
                break
            time.sleep(0.05)
    r.setup_parts["stream_warmup"] = time.perf_counter() - t
    r.check("warmup_batch_committed", (Path(cfg.checkpoint_dir) / "commits" / "0").exists())

    # the generator precomputes every tick, then lands them on schedule
    start_at = time.time() + 2.0
    with r.tracer.span("gen"):
        proc = start_generator(
            r, "live", "--out", str(d), "--seed", str(r.seed),
            "--keys", str(LIVE_KEYS), "--ticks", str(warm_ticks + ticks),
            "--tick-s", f"{tick_s:.6f}", "--events-per-tick", str(per_tick),
            "--start-at", f"{start_at:.6f}")
        plan_path = d / "live_plan.json"
        while not plan_path.exists() and proc.poll() is None:
            time.sleep(0.01)
    if not plan_path.exists():
        wait_generator(proc, 10)
    plan = json.loads(plan_path.read_text())
    poller = probes.VisibilityPoller(Path(cfg.target_path), Path(cfg.event_log_path),
                                     plan["rows"], gen.T0_MS, gen.FILE_STEP_MS)
    due = [start_at + k * tick_s for k in range(warm_ticks + ticks)]
    r.bench_threads.append(poller)
    poller.start()
    while time.time() < due[warm_ticks]:
        time.sleep(0.01)
    t_win, cpu_win = time.time(), r.engine_cpu_s()
    with r.tracer.span("stream.window"):
        deadline = due[-1] + 60
        while time.time() < deadline and q.isActive and not poller.all_visible():
            time.sleep(0.05)
    t_end = time.time()
    poller.stop()
    r.e2e["cpu_s"] = r.engine_cpu_s() - cpu_win
    wait_generator(proc, 60)
    r.measured.append((t_win, t_end))
    log = json.loads((d / "live_log.json").read_text())
    stop_after_commit(r, q, Path(cfg.checkpoint_dir), poller.max_batch_id, 60)

    lat = visibility(r, poller.visible_at[warm_ticks:], due[warm_ticks:],
                     plan["rows"][warm_ticks:], poller.errors)
    rows = sum(plan["rows"][warm_ticks:])
    last_visible = max((v for v in poller.visible_at if v is not None), default=t_end)
    r.named.update(visibility_p50_s=probes.pct(lat, 0.5),
                   # bounded by the offered load (README.md, "Offered load")
                   visible_rows_per_s=rows / max(1e-9, last_visible - due[warm_ticks]),
                   visibility_p95_s=probes.pct(lat, 0.95),
                   visibility_s=latency_summary(lat),
                   ticks=ticks, warm_ticks=warm_ticks, tick_s=tick_s,
                   events_per_tick=per_tick,
                   offered_events_per_s=per_tick / tick_s)
    r.named["gen_late_max_s"] = max(e["written"] - e["due"] for e in log["ticks"])
    r.layer["gen.events"] = float(sum(v for k, v in log["counts"].items()))
    r.layer["gen.files"] = float(warm_ticks + ticks)

    with r.tracer.span("checks"):
        state_fp = fingerprint(
            target_current_state(spark, cfg.target_path, list(gen.LIVE_KEYS)),
            schema.names)
        dash = event_log_dashboard(spark.read.parquet(cfg.event_log_path),
                                   days=1_000_000).collect()
        warm = spark.createDataFrame([warm_row], schema)
        check_cdc_outputs(r, Path(cfg.dead_letter_path), d / "expected",
                          log["counts"], state_fp, dash, extra_rows=warm)
    if r.trace:
        written = sorted(e["written"] for e in log["ticks"])
        stream_layer(r, "changelog-live", Path(cfg.checkpoint_dir),
                     lambda t: sum(w <= t for w in written), first_batch=1)
        sink_layer(r, Path(cfg.target_path), Path(cfg.event_log_path),
                   Path(cfg.checkpoint_dir))


def start_generator(r: Run, *args: str) -> subprocess.Popen:
    """Run ``gen.py`` with ``args`` as a process of its own."""
    proc = subprocess.Popen([sys.executable, str(HERE / "gen.py"), *args],
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    r.procs.append(proc)
    return proc


def wait_generator(proc: subprocess.Popen, timeout_s: float) -> None:
    """Wait for a generator; one that fails or overruns fails the run."""
    try:
        _, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError("generator failed: " + err.decode()[-500:])


def spark_schema(schema):
    """pyarrow schema -> Spark StructType."""
    from pyspark.sql.types import (
        DateType, DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )
    import pyarrow as pa

    kinds = {pa.int64(): LongType(), pa.int32(): IntegerType(),
             pa.float64(): DoubleType(), pa.string(): StringType(),
             pa.date32(): DateType()}
    return StructType([StructField(f.name, kinds[f.type]) for f in schema])


# ---------------------------------------------------------------------------
# cdc_catchup
# ---------------------------------------------------------------------------

CATCHUP_SNAPSHOT_ROWS = 600_000
CATCHUP_FILES = 210
CATCHUP_EVENTS_PER_FILE = 400
CATCHUP_MAX_FILES_PER_TRIGGER = 30


def cdc_catchup(r: Run) -> None:
    from pyspark.sql import functions as F

    from cdc_application_febuary_spark.functions.changelog import decode_debezium
    from cdc_application_febuary_spark.operators.reconciliation import (
        row_level_diff, validate_row_count,
    )
    from cdc_application_febuary_spark.plans.pipeline import run_full_load
    from cdc_application_febuary_spark.plans.runner import target_current_state
    from cdc_application_febuary_spark.sources.typemap import conform_to_schema
    from cdc_application_febuary_spark.streaming.changelog_stream import (
        StreamConfig, file_source, start_changelog_stream,
    )
    from cdc_application_febuary_spark.streaming.monitoring import event_log_dashboard

    spark = r.spark
    schema = spark_schema(gen.lineitem_schema())
    keys = list(gen.LINEITEM_KEYS)
    d = r.work / "catchup"

    # set-up: the generator writes the inputs in its own process while the
    # same pipeline runs once on a tiny slice (JIT, codegen, file source and
    # sink classes), so the measured phases run warm
    t = time.perf_counter()
    with r.tracer.span("gen"):
        proc = start_generator(
            r, "catchup", "--out", str(d), "--seed", str(r.seed),
            "--rows", str(CATCHUP_SNAPSHOT_ROWS), "--files", str(CATCHUP_FILES),
            "--events-per-file", str(CATCHUP_EVENTS_PER_FILE))
        with r.tracer.span("warmup"):
            w = r.work / "warm"
            gen.write_catchup(w, r.seed, 2_000, 2, 200)
            run_full_load(spark, conform_to_schema(spark.read.parquet(str(w / "snapshot")),
                                                   schema),
                          str(w / "target"), "warm", snapshot_ts_ms=gen.SNAPSHOT_TS_MS)
            q = start_changelog_stream(
                spark, file_source(spark, str(w / "feed")), schema,
                StreamConfig("warm", str(w / "target"), str(w / "event_log"),
                             str(w / "ckpt"), dead_letter_path=str(w / "dl")))
            r.streams.append(q)
            await_stream(r, q, 120, "warmup")
            fingerprint(target_current_state(spark, str(w / "target"), keys), schema.names)
            r.stop_streams()
            shutil.rmtree(w)
        wait_generator(proc, 150)
    counts = json.loads((d / "counts.json").read_text())
    r.setup_parts["generate_and_warmup"] = time.perf_counter() - t

    target, event_log = d / "target", d / "event_log"
    ckpt, dead = d / "ckpt", d / "dead_letter"
    source = conform_to_schema(spark.read.parquet(str(d / "snapshot")), schema)
    t0, cpu0 = time.time(), r.engine_cpu_s()
    with r.tracer.span("full_load"):
        fl = run_full_load(spark, source, str(target), "lineitem",
                           snapshot_ts_ms=gen.SNAPSHOT_TS_MS)
    t1 = time.time()
    r.check("full_load_reconciled", bool(fl.reconciliation.get("row_count")
                                         and fl.reconciliation.get("schema")))
    with r.tracer.span("reconcile"):
        loaded = spark.read.parquet(str(target))
        rc = validate_row_count(source, loaded, raise_on_mismatch=False)
        diff = row_level_diff(source, loaded, keys).count()
    t2 = time.time()
    r.check("reconcile_clean", rc.matches and diff == 0,
            source_rows=rc.source_rows, target_rows=rc.target_rows, key_diff=diff)

    poller = probes.VisibilityPoller(target, event_log, counts["rows_per_file"],
                                     gen.T0_MS, gen.FILE_STEP_MS)
    r.bench_threads.append(poller)
    poller.start()
    cfg = StreamConfig("catchup", str(target), str(event_log), str(ckpt),
                       trigger={"availableNow": True}, dead_letter_path=str(dead))
    with r.tracer.span("stream.window"):
        with r.tracer.span("stream.start"):
            q = start_changelog_stream(
                spark, file_source(spark, str(d / "feed"), CATCHUP_MAX_FILES_PER_TRIGGER),
                schema, cfg)
        r.streams.append(q)
        drained = await_stream(r, q, 150, "drain")
    t3 = time.time()
    poller.stop()

    # the consumers of the caught-up target: the current state (read in
    # full, as an order-insensitive fingerprint) and the dashboard
    with r.tracer.span("scd2.current_state"):
        state_fp = fingerprint(target_current_state(spark, str(target), keys),
                               schema.names)
    t4 = time.time()
    with r.tracer.span("monitoring.dashboard"):
        dash = event_log_dashboard(spark.read.parquet(str(event_log)),
                                   days=1_000_000).collect()
    t5 = time.time()
    r.e2e["cpu_s"] = r.engine_cpu_s() - cpu0
    r.measured.append((t0, t5))

    lat = visibility(r, poller.visible_at, [t2] * len(counts["rows_per_file"]),
                     counts["rows_per_file"], poller.errors)
    backlog_rows = sum(counts["rows_per_file"])
    backlog_lines = backlog_rows + counts["corrupt"] + counts["tombstone"]
    r.named.update(
        rows_per_s=(counts["snapshot_rows"] + backlog_rows) / (t5 - t0),
        visibility_p50_s=probes.pct(lat, 0.5),
        visibility_p95_s=probes.pct(lat, 0.95),
        snapshot_rows_per_s=counts["snapshot_rows"] / (t2 - t0),
        catchup_events_per_s=backlog_lines / (t3 - t2),
        current_state_s=t5 - t3,
        drain_s=t3 - t2,
        visibility_s=latency_summary(lat),
        backlog_files=len(counts["rows_per_file"]),
        backlog_lines=backlog_lines,
    )
    r.layer["full_load.call_s"] = t1 - t0
    r.layer["reconcile.call_s"] = t2 - t1
    r.layer["scd2.current_state_s"] = t4 - t3
    r.layer["monitoring.dashboard_s"] = t5 - t4
    r.layer["gen.events"] = float(backlog_lines)
    r.layer["gen.files"] = float(len(counts["rows_per_file"]))

    with r.tracer.span("checks"):
        if drained:
            check_cdc_outputs(r, dead, d / "expected", counts, state_fp, dash)
        else:
            r.op(False, n=3)
    if r.trace:
        stream_layer(r, "changelog-catchup", ckpt, lambda t: len(counts["rows_per_file"]))
        sink_layer(r, target, event_log, ckpt)
        # functions.changelog as one batch call over the same feed, with
        # tombstones as the null values a Kafka source would deliver
        raw = spark.read.text(str(d / "feed")).select(
            F.when(F.col("value") != "", F.col("value")).alias("value"))
        with r.tracer.span("decode"):
            t = time.time()
            decoded = decode_debezium(raw, schema).persist()
            n = decoded.count()
            dt = time.time() - t
        corrupt = decoded.where(F.col("_corrupt")).count()
        decoded.unpersist()
        r.layer["decode.rows_per_s"] = n / dt
        r.layer["decode.corrupt_rows"] = float(corrupt)
        r.check("decode_drops_tombstones_and_flags_corrupt",
                corrupt == counts["corrupt"] and n == backlog_rows + counts["corrupt"],
                decoded=n, corrupt=corrupt)


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------


def _canon(v):
    import datetime
    import decimal

    if v is None:
        return "<N>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def oracle_matches(con, sql: str, rows, columns: list[str]) -> tuple[bool, str]:
    """Order-insensitive comparison of a query's rows with its DuckDB oracle."""
    rel = con.sql(sql)
    dcols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in dcols]
    drows = sorted(tuple(_canon(x[i]) for i in idx) for x in rel.fetchall())
    scols = sorted(columns)
    srows = sorted(tuple(_canon(x[c]) for c in scols) for x in rows)
    if scols != dcols:
        return False, f"columns {scols} != {dcols}"
    if srows != drows:
        return False, f"rows {len(srows)} vs {len(drows)}"
    return True, ""


def analytics_mix(r: Run) -> None:
    import duckdb

    import __spark_entry__ as entry

    spark = r.spark
    queries, oracles = entry.queries(), entry.oracle_sql()
    fx = r.work / "fixture"
    t = time.perf_counter()
    with r.tracer.span("gen"):
        gen.write_fixture(fx, r.seed, ANALYTICS_SF)
    r.setup_parts["generate"] = time.perf_counter() - t

    # cold pass: collect each result and hold it against its oracle
    con = duckdb.connect()
    for tbl in sorted(p.stem for p in fx.glob("*.parquet")):
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{fx / tbl}.parquet'")
    t = time.perf_counter()
    results = {}
    for name in ANALYTICS_QUERIES:
        with r.tracer.span("query.cold"):
            try:
                df = queries[name](spark, str(fx))
                results[name] = (df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 - a query error is a failed operation
                results[name] = e
    r.setup_parts["cold_pass"] = time.perf_counter() - t
    with r.tracer.span("checks"):
        for name, res in results.items():
            if isinstance(res, Exception):
                r.check(f"oracle.{name}", False, error=repr(res)[:300])
            elif name not in oracles:
                r.check(f"oracle.{name}", False, error="no oracle")
            else:
                ok, why = oracle_matches(con, oracles[name], *res)
                r.check(f"oracle.{name}", ok, detail=why)
    con.close()

    passes: list[float] = []
    pass_cpu: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in ANALYTICS_QUERIES}
    t_start = time.time()
    # at least two passes, so no figure rests on one execution
    while len(passes) < 2 or time.time() - t_start < r.seconds:
        tp, cp = time.perf_counter(), r.engine_cpu_s()
        with r.tracer.span("pass"):
            for name in ANALYTICS_QUERIES:
                tq = time.perf_counter()
                with r.tracer.span(f"query.{name}"):
                    try:
                        queries[name](spark, str(fx)).write.format("noop").mode(
                            "overwrite").save()
                        r.op(True)
                    except Exception as e:  # noqa: BLE001 - a query error is a failed operation
                        r.op(False)
                        r.checks[f"error.{name}"] = {"ok": False, "error": repr(e)[:300]}
                per_query[name].append(time.perf_counter() - tq)
        passes.append(time.perf_counter() - tp)
        pass_cpu.append(r.engine_cpu_s() - cp)
    r.measured.append((t_start, time.time()))
    r.e2e["cpu_s"] = statistics.median(pass_cpu)
    r.named.update(analytics_pass_s=statistics.median(passes), pass_s=passes,
                   pass_cpu_s=pass_cpu,
                   queries_per_s=len(ANALYTICS_QUERIES) * len(passes) / sum(passes),
                   query_s=per_query)
    for name, ts in per_query.items():
        r.layer[f"query.{name}_s"] = statistics.median(ts)


# ---------------------------------------------------------------------------
# layers, context, main
# ---------------------------------------------------------------------------


def finish_layers(r: Run, wall: tuple[float, float]) -> dict[str, float]:
    """Complete the per-layer report from one status-store read."""
    snap = probes.StatusStores(r.spark).snapshot()
    out = {k: 0.0 for k in PER_LAYER}
    out.update(r.layer)
    out.update(probes.executor_counts(snap, r.measured))
    if r.batch_windows:
        out["stream.jobs_per_batch"] = (
            probes.executor_counts(snap, r.batch_windows)["jobs"] / len(r.batch_windows))
    cs = r.tracer.windows("scd2.current_state")
    if cs:
        out["scd2.shuffle_bytes"] = probes.executor_counts(snap, cs)["shuffle.write_bytes"]
    progress = list(r.listener.events) if r.listener else []
    out.update(probes.state_store_counts(progress))
    for span in r.tracer.spans:  # the counts next to each span
        span["counts"] = probes.executor_counts(snap, [(span["start"], span["end"])])

    selfs = r.tracer.self_times()
    for span, metric in SELF_METRICS.items():
        out[metric] = selfs.get(span, 0.0)
    out["self.queries_s"] = sum((v for k, v in selfs.items() if k.startswith("query.")), 0.0)
    covered = probes.union_s([(s["start"], s["end"]) for s in r.tracer.spans
                              if s["parent"] is None])
    out["trace.wall_s"] = wall[1] - wall[0]
    out["trace.residual_s"] = max(0.0, out["trace.wall_s"] - covered)
    out["trace.residual_frac"] = out["trace.residual_s"] / out["trace.wall_s"]
    overhead = r.tracer.bookkeeping_s + (r.listener.callback_s if r.listener else 0.0)
    out["trace.overhead_frac"] = overhead / out["trace.wall_s"]
    return out


def engine_version() -> str:
    """The commit when run from a git checkout, else a hash of the engine
    sources (a checkout without .git still identifies its code)."""
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for p in sorted((ROOT / "cdc_application_febuary_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


WORKLOAD_FNS = {"cdc_live": cdc_live, "cdc_catchup": cdc_catchup,
                "analytics_mix": analytics_mix}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "cdc_application_febuary_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = ROOT / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    for sub in ("tmp", "local", "warehouse", "derby"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # every temp file of this process, its Python workers and the JVM
    # lands under the work dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None

    tmp_before = probes.tmp_entries()
    load_before = probes.loadavg()
    cpu_before = probes.cpu_times()
    r = Run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    error = None
    try:
        t0 = time.time()
        with r.tracer.span("session"):
            r.start_session()
        r.setup_parts["session_start"] = time.time() - t0
        with probes.HostSampler(r.jvm_pid()) as host:
            r.bench_threads.append(host)
            WORKLOAD_FNS[a.workload](r)
        peak_rss_mb = host.peak_mb
        others = host.other_jvms
        r.stop_streams()
        t_end = time.time()
        r.e2e["setup_s"] = sum(r.setup_parts.values())
        if r.trace:
            layers = finish_layers(r, (t0, t_end))
    except Exception as e:  # noqa: BLE001 - reported below, exit code 1
        import traceback

        traceback.print_exc()
        error = repr(e)
    finally:
        for proc in r.procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if r.spark is not None:
            r.stop_streams()
            r.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()
    if error is not None:
        print(f"benchmark failed: {error}", file=sys.stderr)
        return 1

    import pyspark

    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "run_id": r.tracer.run_id,
        "nproc": r.cpus, "loadavg_before": load_before, "loadavg_after": probes.loadavg(),
        "steal_frac": probes.steal_frac(cpu_before, probes.cpu_times()),
        "pyspark": pyspark.__version__, "engine": engine_version(),
        "other_spark_jvms": others, "contended": bool(others),
        "tmp_delta": sorted(probes.tmp_entries() - tmp_before),
        "setup_parts_s": r.setup_parts,
        "peak_rss_mb": peak_rss_mb,
        "ops_failed_frac": r.failed / max(1, r.attempted),
        "named": r.named, "checks": r.checks,
    }
    if r.trace:
        print(json.dumps({"trace": {"run_id": r.tracer.run_id, "spans": r.tracer.spans}}))
    print(json.dumps({"context": context}, default=str))
    metrics = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
               if r.trace else
               {k: {"value": r.e2e[k], "unit": u} for k, u in END_TO_END.items()})
    correct = r.failed == 0 and all(c["ok"] for c in r.checks.values())
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
