#!/usr/bin/env python
"""Interleaved worktree adjudication probe (the CLAUDE.md rule, as a
tool): before calling a per-query bench swing a code regression, rerun
the suspect INTERLEAVED against an old commit checked out in a git
worktree, min-of-N each side.

Driver mode spawns two persistent worker subprocesses — one per repo
root, each with its own warmed Spark JVM — and alternates single samples
between them (A q s1, B q s1, A q s2, ...), so both sides see the same
machine weather sample-by-sample while never running concurrently.
Worker mode serves one repo: reads query names on stdin, runs
build-plan + noop-sink write (bench.py's harness), prints one JSON
timing line per request: wall seconds, and the CPU seconds of the
worker's Spark driver JVM with its Python workers plus the worker's own
PySpark driver process (the process tree read from /proc, the same
count the benchmark gates on). Each side reports min-of-N for both.

Usage:
  git worktree add /tmp/r5tree <old-commit>
  python scripts/interleaved_probe.py --old /tmp/r5tree \
      ann_topk_ivf cube_status_priority curriculum_quartiles
"""

# NO `from __future__ import annotations` here: it breaks pandas_udf
# type-hint inference (CLAUDE.md rule) — pandas/numpy imported at module
# scope for the same reason.
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent.parent


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of a process and all its descendants,
    including the children they have already reaped (exited Python
    workers)."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def worker(repo: str) -> None:
    repo_p = str(Path(repo).resolve())
    os.chdir(repo_p)
    sys.path.insert(0, repo_p)
    from cdc_application_febuary_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name=f"probe-{Path(repo_p).name}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet").count()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cpus * 4, numPartitions=cpus).select(_warm("id")).collect()

    import __spark_entry__ as E

    qs = E.queries()
    jvm_pid = spark.sparkContext._gateway.proc.pid

    def cpu_s() -> float:
        return _tree_cpu_s(jvm_pid) + time.process_time()

    print(json.dumps({"ready": True, "repo": repo_p}), flush=True)
    for line in sys.stdin:
        name = line.strip()
        if not name:
            break
        t0, c0 = time.time(), cpu_s()
        try:
            df = qs[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            sec = round(time.time() - t0, 4)
            cpu = round(cpu_s() - c0, 3)
            print(json.dumps({"q": name, "sec": sec, "cpu_s": cpu}), flush=True)
        except Exception as e:
            print(json.dumps({"q": name, "err": str(e)[:400]}), flush=True)
    spark.stop()


def _spawn(repo: str, tag: str) -> subprocess.Popen:
    # ADVICE r9: worker stderr used to go to DEVNULL, so startup failures
    # (e.g. an old worktree whose get_spark signature differs) surfaced only
    # as a bare "worker failed to start" — tee it to a log file instead.
    log = HERE / f"interleaved_probe_{tag}.stderr.log"
    return subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--worker", repo],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=open(log, "w"),
        text=True,
        cwd=repo,
    )


def _ask(p: subprocess.Popen, name: str) -> dict:
    p.stdin.write(name + "\n")
    p.stdin.flush()
    while True:
        line = p.stdout.readline()
        if not line:
            raise RuntimeError("worker died")
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if d.get("q") == name:
            return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", metavar="REPO")
    ap.add_argument("--old", help="worktree path of the old commit")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.worker:
        worker(args.worker)
        return
    if not args.old or not args.queries:
        ap.error("driver mode needs --old and query names")

    sides = {"new": str(HERE), "old": str(Path(args.old).resolve())}
    procs = {k: _spawn(v, k) for k, v in sides.items()}
    for k, p in procs.items():
        while True:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(
                    f"{k} worker failed to start — see"
                    f" {HERE}/interleaved_probe_{k}.stderr.log"
                )
            try:
                if json.loads(line).get("ready"):
                    break
            except json.JSONDecodeError:
                continue
        print(f"[{k}] ready", file=sys.stderr)

    samples: dict[str, dict[str, list[float]]] = {
        q: {k: [] for k in sides} for q in args.queries
    }
    cpu: dict[str, dict[str, list[float]]] = {
        q: {k: [] for k in sides} for q in args.queries
    }
    for i in range(args.runs):
        for q in args.queries:
            for k in procs:
                d = _ask(procs[k], q)
                if "err" in d:
                    print(f"[{k}] {q}: ERROR {d['err']}", file=sys.stderr)
                    samples[q][k].append(-1.0)
                    cpu[q][k].append(-1.0)
                else:
                    samples[q][k].append(d["sec"])
                    cpu[q][k].append(d["cpu_s"])
            print(
                f"sample {i + 1}/{args.runs} {q}: "
                + " ".join(
                    f"{k}={samples[q][k][-1]}s/{cpu[q][k][-1]}cpu"
                    for k in procs
                ),
                file=sys.stderr,
            )
    for p in procs.values():
        try:
            p.stdin.close()
            p.wait(timeout=60)
        except Exception:
            p.kill()

    def mins_and_ratio(by_side: dict) -> tuple:
        # ADVICE r9: min over POSITIVE samples only — one transient -1.0
        # error sample must not discard the remaining valid samples.
        mins = {
            k: (min(good) if (good := [s for s in v if s > 0]) else None)
            for k, v in by_side.items()
        }
        ratio = (
            round(mins["new"] / mins["old"], 3)
            if mins["new"] and mins["old"]
            else None
        )
        return mins, ratio

    verdict = {}
    for q in args.queries:
        mins, ratio = mins_and_ratio(samples[q])
        cpu_mins, cpu_ratio = mins_and_ratio(cpu[q])
        verdict[q] = {
            "min_new": mins["new"],
            "min_old": mins["old"],
            "ratio_new_over_old": ratio,
            "samples": samples[q],
            "min_cpu_new": cpu_mins["new"],
            "min_cpu_old": cpu_mins["old"],
            "cpu_ratio_new_over_old": cpu_ratio,
            "cpu_samples": cpu[q],
        }
    print(json.dumps(verdict, indent=1))


if __name__ == "__main__":
    main()
