"""Measurement from outside the engine: Spark's status stores, streaming
progress, process memory, feed visibility on disk, spans and host context.

Nothing here changes what the engine does. Status-store data is read once,
after a workload's measured window, and attributed to the benchmark's spans
by wall-clock interval, so the traced run adds almost nothing to the window
itself.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# ---------------------------------------------------------------------------
# SQL metric values as the status store renders them
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """Parse one SQL metric string from the status store into a number.

    Two forms occur. A metric updated by one task reads ``"626 ms"``; one
    updated by several reads ``"total (min, med, max (stageId: taskId))\\n
    1.2 s (10 ms, 20 ms, 50 ms (stage 3.0: task 7))"``. The total is the
    first value after the header line, not the first number in the string
    (which would be nothing, or a min). Times come back in milliseconds,
    sizes in bytes, counts as is (``"1,234"`` -> 1234)."""
    body = text.strip()
    if body.startswith("total"):
        nl = body.find("\n")
        if nl < 0:
            raise ValueError(f"metric has a header but no value: {text!r}")
        body = body[nl + 1:]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"not a metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return number * _UNITS[unit]


# ---------------------------------------------------------------------------
# status stores (one read after the window)
# ---------------------------------------------------------------------------

PYWORKER_METRICS = {
    "pyworker.start_s": ("time to start python workers", 1e-3),
    "pyworker.init_s": ("time to initialize python workers", 1e-3),
    "pyworker.run_s": ("time to run python workers", 1e-3),
    "pyworker.bytes_to": ("data sent to python workers", 1.0),
    "pyworker.bytes_from": ("data returned from python workers", 1.0),
}


class StatusStores:
    """Reads the JVM's application and SQL status stores as JSON, through
    Spark's bundled Jackson, in one call per list."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> list[dict]:
        gw = self.spark.sparkContext._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        return self._json(self._app.stageList(None, False, False, empty, None))

    def jobs(self) -> list[dict]:
        return self._json(self._app.jobsList(None))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def execution_values(self, execution_id: int) -> dict[int, str]:
        values = self._sql.executionMetrics(execution_id)
        out = {}
        it = values.iterator()
        while it.hasNext():
            kv = it.next()
            out[int(kv._1())] = str(kv._2())
        return out

    def snapshot(self) -> dict:
        """Everything the per-layer report needs, read once."""
        execs = self.executions()
        py_metrics = []
        for e in execs:
            wanted = {
                m["accumulatorId"]: m["name"].lower()
                for m in e.get("metrics", [])
                if "python worker" in m["name"].lower()
            }
            if not wanted:
                continue
            values = self.execution_values(int(e["executionId"]))
            for acc, name in wanted.items():
                if acc in values:
                    py_metrics.append({
                        "submission": e.get("submissionTime"),
                        "name": name,
                        "value": parse_metric_value(values[acc]),
                    })
        return {"stages": self.stages(), "jobs": self.jobs(), "py_metrics": py_metrics}


def _ms(t) -> float | None:
    """Status-store times come as epoch-ms numbers or ISO strings."""
    if t is None:
        return None
    if isinstance(t, (int, float)):
        return float(t)
    from datetime import datetime

    return datetime.fromisoformat(str(t).replace("GMT", "+00:00")).timestamp() * 1e3


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by a set of [start, end) intervals given in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def executor_counts(snap: dict, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Executor, shuffle, spill and job counts for stages and jobs submitted
    inside any of ``windows`` (epoch seconds), plus driver build time: the
    windows' wall time not covered by a running job."""

    def inside(t) -> bool:
        t = _ms(t)
        return t is not None and any(a * 1e3 <= t <= b * 1e3 for a, b in windows)

    out = {k: 0.0 for k in (
        "exec.cpu_s", "exec.run_s", "exec.wait_s", "exec.gc_s",
        "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
        "jobs", "stages", "tasks", "driver.build_s",
    )}
    for st in snap["stages"]:
        if not inside(st.get("submissionTime")):
            continue
        out["stages"] += 1
        out["tasks"] += st.get("numCompleteTasks", 0)
        out["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out["exec.run_s"] += st.get("executorRunTime", 0) / 1e3
        out["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
        out["shuffle.read_bytes"] += st.get("shuffleReadBytes", 0)
        out["shuffle.write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill.bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    out["exec.wait_s"] = max(0.0, out["exec.run_s"] - out["exec.cpu_s"])
    job_iv = []
    for j in snap["jobs"]:
        if inside(j.get("submissionTime")):
            out["jobs"] += 1
            end = _ms(j.get("completionTime"))
            if end is not None:
                job_iv.append((_ms(j["submissionTime"]) / 1e3, end / 1e3))
    wall = sum(b - a for a, b in windows)
    out["driver.build_s"] = max(0.0, wall - union_s(job_iv))
    for key, (name, scale) in PYWORKER_METRICS.items():
        out[key] = scale * sum(
            m["value"] for m in snap["py_metrics"]
            if m["name"] == name and inside(m["submission"])
        )
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every progress event as a dict.

    Built on demand so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.callback_s = 0.0
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
            pass  # start carries no measurement

        def onQueryProgress(self, event) -> None:  # noqa: N802
            t = time.perf_counter()
            p = json.loads(event.progress.json)
            with self._lock:
                self.events.append(p)
                self.callback_s += time.perf_counter() - t

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass  # idle triggers run no batch

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass  # termination is read from the query handle

        def for_query(self, name: str) -> list[dict]:
            with self._lock:
                return [p for p in self.events if p.get("name") == name]

    return ProgressLog()


def pct(values: list[float], q: float) -> float:
    """The ``q``-quantile (0..1), linearly interpolated; 0 for no values."""
    if not values:
        return 0.0
    import numpy as np

    return float(np.percentile(values, q * 100))


def stream_counts(batches: list[dict]) -> dict[str, float]:
    """Phase durations from the ``StreamingQueryProgress`` of each
    micro-batch that read rows."""

    def phase(name: str) -> list[float]:
        return [float(p["durationMs"].get(name, 0)) for p in batches]

    add, trig = phase("addBatch"), phase("triggerExecution")
    return {
        "stream.batches": float(len(batches)),
        "stream.rows_per_batch.p50": pct([p["numInputRows"] for p in batches], 0.5),
        "stream.addBatch_ms.p50": pct(add, 0.5),
        "stream.addBatch_ms.p95": pct(add, 0.95),
        "stream.queryPlanning_ms.p50": pct(phase("queryPlanning"), 0.5),
        "stream.walCommit_ms.p50": pct(phase("walCommit"), 0.5),
        "stream.commitOffsets_ms.p50": pct(phase("commitOffsets"), 0.5),
        "stream.latestOffset_ms.p50": pct(phase("latestOffset"), 0.5),
        "stream.overhead_share": 1.0 - sum(add) / sum(trig) if sum(trig) else 0.0,
    }


def batch_windows(batches: list[dict]) -> list[tuple[float, float]]:
    """(start, end) epoch seconds of each micro-batch's progress."""
    from datetime import datetime

    out = []
    for p in batches:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append((start, start + p["durationMs"]["triggerExecution"] / 1e3))
    return out


def state_store_counts(progress: list[dict]) -> dict[str, float]:
    """State-store size at each query's last progress, summed over queries."""
    last: dict[str, dict] = {}
    for p in progress:
        last[p["id"]] = p
    rows = mem = 0.0
    for p in last.values():
        for op in p.get("stateOperators", []):
            rows += op.get("numRowsTotal", 0)
            mem += op.get("memoryUsedBytes", 0)
    commit = sum(op.get("commitTimeMs", 0) for p in progress
                 for op in p.get("stateOperators", []))
    return {"state.commit_ms": float(commit), "state.rows_total": rows,
            "state.memory_bytes": mem}


def file_source_batches(checkpoint: Path) -> dict[int, int]:
    """Files each batch read, from the file source's checkpoint log."""
    files: dict[str, int] = {}
    src = checkpoint / "sources" / "0"
    if not src.is_dir():
        return {}
    for f in src.iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                files[e["path"]] = int(e["batchId"])
    per_batch: dict[int, int] = {}
    for b in files.values():
        per_batch[b] = per_batch.get(b, 0) + 1
    return per_batch


def dir_stats(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and _ files."""
    n = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


# ---------------------------------------------------------------------------
# visibility: rows per feed file readable in both sinks
# ---------------------------------------------------------------------------


class VisibilityPoller:
    """Watches the SCD2 target and the event log on disk and records when
    every row of each feed file is readable in both.

    Feed file ``i`` carries the logical source time ``t0_ms + i * step_ms``;
    the target stores it as ``__source_ts_ms`` and the event log as
    ``started_at``. A data file is complete once it appears under its final
    name, since the writer commits by rename."""

    def __init__(self, target: Path, event_log: Path, expected: list[int],
                 t0_ms: int, step_ms: int, interval_s: float = 0.02):
        self.target, self.event_log = target, event_log
        self.expected = expected
        self.t0_ms, self.step_ms = t0_ms, step_ms
        self.interval_s = interval_s
        self.seen: set[str] = set()
        self.counts = {"target": [0] * len(expected), "log": [0] * len(expected)}
        self.visible_at: list[float | None] = [None] * len(expected)
        self.max_batch_id = -1
        self.cpu_s = 0.0  # this thread's CPU time: the benchmark's, not the engine's
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.errors: list[str] = []

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop after one last poll, made by the poller thread itself."""
        self._stop.set()
        self._thread.join(timeout=30)

    def all_visible(self) -> bool:
        return all(v is not None for v, n in zip(self.visible_at, self.expected) if n)

    def _files(self, root: Path) -> list[str]:
        out = []
        for dirpath, dirs, names in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            out += [os.path.join(dirpath, n) for n in names
                    if n.endswith(".parquet") and not n.startswith((".", "_"))]
        return out

    def _tally(self, path: str, sink: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        col = "__source_ts_ms" if sink == "target" else "started_at"
        if "__batch_id" not in pq.read_schema(path).names:
            return  # a full-load file: snapshot rows, no feed file's
        t = pq.read_table(path, columns=[col, "__batch_id"])
        ts = t.column(col)
        if sink == "log":
            ts = pc.cast(pc.cast(ts, "timestamp[ms]"), "int64")
        if t.num_rows:
            self.max_batch_id = max(self.max_batch_id, pc.max(t.column("__batch_id")).as_py())
        idx = pc.divide(pc.subtract(ts, self.t0_ms), self.step_ms).to_numpy(zero_copy_only=False)
        counts = self.counts[sink]
        for i in idx[(idx >= 0) & (idx < len(counts))].tolist():
            counts[int(i)] += 1

    def poll(self) -> None:
        now = time.time()
        for sink, root in (("target", self.target), ("log", self.event_log)):
            if not root.is_dir():
                continue
            for path in self._files(root):
                if path not in self.seen:
                    self.seen.add(path)
                    self._tally(path, sink)
        tgt, log = self.counts["target"], self.counts["log"]
        for i, need in enumerate(self.expected):
            if need and self.visible_at[i] is None and tgt[i] >= need and log[i] >= need:
                self.visible_at[i] = now

    def _run(self) -> None:
        while True:
            stopping = self._stop.is_set()
            try:
                self.poll()
            except Exception as e:  # noqa: BLE001 - a poll error is recorded, polling goes on
                self.errors.append(repr(e))
            self.cpu_s = time.thread_time()
            if stopping:
                return
            self._stop.wait(self.interval_s)


# ---------------------------------------------------------------------------
# process memory and host context
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root_pid: int) -> list[int]:
    """A process and all its descendants."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, in MB."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of a process and all its descendants,
    including the children they have already reaped (exited Python
    workers). Time the hypervisor stole is not in it."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class HostSampler:
    """Once per ``interval_s``: the resident memory of the driver JVM's
    process tree (the JVM and its Python workers), keeping the peak, and any
    other Spark JVM alive on the host. Sampling is sparse because the scan
    holds the interpreter lock that the ``foreachBatch`` callback needs."""

    def __init__(self, pid: int, interval_s: float = 1.0):
        self.pid, self.interval_s = pid, interval_s
        self.peak_mb = 0.0
        self.other_jvms: dict[int, str] = {}
        self.cpu_s = 0.0  # this thread's CPU time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "HostSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self.other_jvms.update(spark_jvms(self.pid))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)


def _ours(pid: int, root: int) -> bool:
    """Whether ``pid`` is ``root`` or runs under it. A process that is gone
    by now counts as ours: it lived for milliseconds, as a child does
    between fork and exec."""
    while pid > 1:
        if pid == root:
            return True
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            return True
    return False


def spark_jvms(own: int) -> dict[int, str]:
    """Spark JVMs on this host other than ``own`` and the processes under
    it: pid -> main class. A child the JVM forks (a Python worker, a shell
    helper) carries the JVM's command line until it execs, so ancestry
    decides, not the command line alone."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # the program itself must be java: a shell or a grep that merely
        # names Spark is not a JVM
        args = cmd.split(b"\0")
        if (args[0].endswith(b"java") and b"org.apache.spark" in cmd
                and not _ours(int(d), own)):
            out[int(d)] = next((a.decode(errors="replace") for a in args
                                if a.startswith(b"org.apache.spark")), "?")
    return out


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def tmp_entries() -> set[str]:
    try:
        return set(os.listdir("/tmp"))
    except OSError:
        return set()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine's layers: name, start, end and
    parent, sharing one run id, kept in memory. Disabled, ``span`` costs one
    branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span observed after the fact (e.g. a micro-batch)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id})
        return len(self.spans) - 1

    def index(self, name: str) -> int | None:
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i]["name"] == name:
                return i
        return None

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - union_s(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(i, [])
                 if b > s["start"] and a < s["end"]]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
        return out
