"""Pure-Python pieces of the benchmark: status-store metric parsing, spans,
and the generator's reference state.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from probes import Tracer, parse_metric_value, pct, spark_jvms, union_s  # noqa: E402

MULTI = (
    "total (min, med, max (stageId: taskId))\n"
    "2.9 s (1.4 s, 1.4 s, 1.5 s (stage 0.0: task 0))"
)


@pytest.mark.parametrize(
    "text, value",
    [
        ("626 ms", 626.0),
        ("1.3 s", 1300.0),
        ("2 min", 120_000.0),
        ("10,000", 10_000.0),
        ("78.4 KiB", 78.4 * 1024),
        ("0 B", 0.0),
        (MULTI, 2900.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1,536.0 MiB (512.0 MiB, 512.0 MiB, 512.0 MiB (stage 3.0: task 7))",
            1536.0 * 2**20,
        ),
    ],
)
def test_parse_metric_value_reads_both_forms(text, value):
    assert parse_metric_value(text) == pytest.approx(value)


def test_total_form_is_not_read_as_its_first_number():
    # a parser that takes the first number it meets reads the min (1.4 s)
    # or nothing at all from the header line; the total is 2.9 s
    assert parse_metric_value(MULTI) == pytest.approx(2900.0)


@pytest.mark.parametrize("bad", ["", "total (min, med, max)", "n/a", "5 parsecs"])
def test_parse_metric_value_rejects_what_it_cannot_read(bad):
    with pytest.raises(ValueError):
        parse_metric_value(bad)


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_s([]) == 0.0


def test_pct_interpolates_and_handles_empty():
    assert pct([], 0.5) == 0.0
    assert pct([1.0, 2.0, 3.0, 4.0], 0.5) == pytest.approx(2.5)
    assert pct(list(range(101)), 0.95) == pytest.approx(95.0)


def test_self_time_is_span_minus_children():
    t = Tracer(True, "run")
    root = t.add("workload", 0.0, 10.0, None)
    child = t.add("stream.window", 2.0, 8.0, root)
    t.add("stream.batch", 3.0, 5.0, child)
    t.add("stream.batch", 4.0, 6.0, child)  # overlaps the first batch
    selfs = t.self_times()
    assert selfs["workload"] == pytest.approx(4.0)
    assert selfs["stream.window"] == pytest.approx(3.0)
    assert selfs["stream.batch"] == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False, "run")
    with t.span("x"):
        pass
    assert t.spans == []


def _replay(snapshot_rows, feed_dir, keys):
    """Apply a feed's envelopes in file order to a snapshot, in plain Python."""
    import json

    state = {tuple(r[k] for k in keys): r for r in snapshot_rows}
    for path in sorted(feed_dir.iterdir()):
        for line in path.read_text().splitlines():
            try:
                p = json.loads(line)["payload"]
            except (ValueError, KeyError):
                continue  # corrupt envelope or tombstone
            row = p["after"] or p["before"]
            key = tuple(row[k] for k in keys)
            if p["op"] == "d":
                state.pop(key, None)
            else:
                state[key] = p["after"]
    return state


def test_catchup_expected_state_matches_a_replay_of_the_feed(tmp_path):
    import gen
    import pyarrow.parquet as pq

    counts = gen.write_catchup(tmp_path, 5, 3_000, 6, 300)
    snap = pq.read_table(tmp_path / "snapshot").to_pylist()
    for r in snap:
        r["l_shipdate"] = r["l_shipdate"].isoformat()
    want = _replay(snap, tmp_path / "feed", gen.LINEITEM_KEYS)
    got = pq.read_table(tmp_path / "expected").to_pylist()
    for r in got:
        r["l_shipdate"] = r["l_shipdate"].isoformat()
    assert {tuple(r[k] for k in gen.LINEITEM_KEYS): r for r in got} == want
    assert counts["final_rows"] == len(want)
    assert sum(counts["rows_per_file"]) == counts["insert"] + counts["update"] + counts["delete"]


def test_inputs_depend_only_on_the_seed(tmp_path):
    import gen

    gen.write_catchup(tmp_path / "a", 9, 1_000, 3, 100)
    gen.write_catchup(tmp_path / "b", 9, 1_000, 3, 100)
    for f in sorted((tmp_path / "a" / "feed").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / "feed" / f.name).read_bytes()


def test_a_jvm_is_other_only_when_it_runs_outside_our_tree(tmp_path):
    # a child that still shows a Spark JVM's command line (as a fork of the
    # driver JVM does until it execs) is ours, not a contending JVM
    import os
    import subprocess
    import time

    java = tmp_path / "java"
    java.symlink_to(sys.executable)
    child = subprocess.Popen([str(java), "-c", "import time; time.sleep(30)",
                              "org.apache.spark.deploy.SparkSubmit"])
    try:
        for _ in range(100):  # until the child's command line is in place
            with open(f"/proc/{child.pid}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    break
            time.sleep(0.05)
        assert child.pid not in spark_jvms(os.getpid())
        others = spark_jvms(2**22 + 1)  # no such process: nothing is under it
        assert others.get(child.pid) == "org.apache.spark.deploy.SparkSubmit"
    finally:
        child.kill()
        child.wait()
