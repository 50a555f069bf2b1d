"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run is written here, from the
seed alone: the TPC-H-style fixture tables for the analytics mix, the
lineitem snapshot and change backlog for the catch-up workload, and the live
change feed. Next to each change feed the generator writes the state and
counts the engine must end up with, computed in numpy without Spark, so the
benchmark can check the engine against an independent reference.

Run as its own process, ``python3 perfbench/gen.py live ...`` lands the live
feed on an absolute schedule, so a slow engine cannot slow the load down, and
``python3 perfbench/gen.py catchup ...`` writes the catch-up inputs while the
benchmark warms the engine up.

Timestamps are logical, not wall-clock: change ``k`` of a key always carries
a later ``ts_ms`` than change ``k-1``, and one feed file never holds two
changes to one key, so the engine's commit-time ordering is total.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# logical source clock: 2024-01-01T00:00:00Z; one second per feed file
T0_MS = 1_704_067_200_000
FILE_STEP_MS = 1_000
SNAPSHOT_TS_MS = T0_MS - FILE_STEP_MS

PART_WORDS = (
    "ring hot gear large cold red bolt plate anvil rod widget blue gizmo old "
    "small new"
).split()
DOC_WORDS = (
    "fast spark line small customer group value hash batch sort data big "
    "filter dup key agg scan slow table part a merge window order column "
    "join vector row the query stream"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(lo_d, hi_d + 1, n) * 86_400_000_000).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------------------
# analytics fixture: the registry's table set at a chosen scale factor
# ---------------------------------------------------------------------------


def write_fixture(out: Path, seed: int, sf: float) -> None:
    """Write region..embeddings as one parquet file each under ``out``,
    with the registry's schemas."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs, dim = 500, 500, 64

    def put(name: str, cols: dict) -> None:
        _write(pa.table(cols), out / f"{name}.parquet")

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    li = lineitem_columns(rng, n_line, n_ord, n_part, n_supp)
    li["l_shipdate"] = li["l_shipdate"].astype("datetime64[us]")
    put("lineitem", li)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(ts0, ts0 + 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_docs)
    texts = [
        " ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n))
        for n in lens
    ]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.12, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vecs, dim))).astype(
        np.float32
    )
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def lineitem_columns(
    rng: np.random.Generator, n_line: int, n_ord: int, n_part: int, n_supp: int
) -> dict[str, np.ndarray]:
    """Lineitem rows whose (l_orderkey, l_linenumber) is unique: each order
    gets 1..7 consecutive line numbers until ``n_line`` rows exist."""
    per_order = rng.integers(1, 8, n_ord)
    ends = np.cumsum(per_order)
    per_order = per_order[: int(np.searchsorted(ends, n_line)) + 1]
    orderkey = np.repeat(np.arange(len(per_order), dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    orderkey, linenumber = orderkey[:n_line], linenumber[:n_line]
    n = len(orderkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n).astype(
            "datetime64[D]"
        ),
    }


# ---------------------------------------------------------------------------
# change feeds
# ---------------------------------------------------------------------------


class ChangeModel:
    """Applies generated changes to a keyed table and renders each change as
    one Debezium envelope line.

    Keys are ints. A key's row is ``touched[key]`` once a change hit it
    (``None`` after a delete), else ``base_row(key)`` from the snapshot.
    ``counts`` tallies what reached the feed: insert/update/delete
    envelopes, corrupt envelopes and tombstones."""

    def __init__(self, base_row):
        self.base_row = base_row
        self.touched: dict[int, dict | None] = {}
        self._json: dict[int, str] = {}  # rendered image of each touched key
        self.counts = {"insert": 0, "update": 0, "delete": 0,
                       "corrupt": 0, "tombstone": 0}

    def current(self, key: int) -> dict | None:
        if key in self.touched:
            return self.touched[key]
        return self.base_row(key)

    def envelope(self, op: str, key: int, after: dict | None, ts_ms: int) -> str:
        if key in self._json:
            before = self._json[key]
        else:
            before = json.dumps(self.base_row(key), separators=(",", ":"))
        after_json = "null" if after is None else json.dumps(after, separators=(",", ":"))
        self.touched[key] = after
        self._json[key] = after_json
        self.counts[{"c": "insert", "u": "update", "d": "delete"}[op]] += 1
        return (
            '{"payload":{"before":%s,"after":%s,"source":{"ts_ms":%d,"db":"bench",'
            '"schema":"public","table":"t"},"op":"%s","ts_ms":%d}}'
            % (before, after_json, ts_ms, op, ts_ms)
        )

    def corrupt(self, ts_ms: int, salt: int) -> str:
        self.counts["corrupt"] += 1
        # a truncated envelope: valid prefix, no closing braces
        return '{"payload":{"op":"u","ts_ms":%d,"after":{"x":%d' % (ts_ms, salt)

    def tombstone(self) -> str:
        # the file twin of a Kafka tombstone (null value) is an empty line
        self.counts["tombstone"] += 1
        return ""

    def expected_table(
        self, schema: pa.Schema, base: pa.Table | None = None,
        base_keys: np.ndarray | None = None,
    ) -> pa.Table:
        """Final state: the snapshot rows no change touched (``base``, keyed
        by ``base_keys``) plus every touched row still alive."""
        live = [r for r in self.touched.values() if r is not None]
        changed = pa.table({f.name: [r[f.name] for r in live] for f in schema},
                           schema=schema)
        if base is None:
            return changed
        touched = np.fromiter(self.touched, dtype=np.int64, count=len(self.touched))
        kept = base.filter(pa.array(~np.isin(base_keys, touched)))
        return pa.concat_tables([kept.cast(schema), changed])


def _skewed_keys(rng: np.random.Generator, n_keys: int, n: int, a: float) -> np.ndarray:
    """``n`` distinct key indices in [0, n_keys), hot keys first: a Zipf draw
    folded onto the key space, de-duplicated."""
    draw = (rng.zipf(a, 4 * n + 16) - 1) % n_keys
    _, first = np.unique(draw, return_index=True)
    keys = draw[np.sort(first)][:n]
    if len(keys) < n:  # top up with uniform keys when the skew is extreme
        rest = np.setdiff1d(rng.integers(0, n_keys, 4 * n), keys)
        keys = np.concatenate([keys, rng.permutation(rest)[: n - len(keys)]])
    return keys


def change_lines(
    model: ChangeModel,
    rng: np.random.Generator,
    key_space: np.ndarray,
    make_row,
    n_events: int,
    ts_ms: int,
    p_delete: float,
    p_corrupt: float,
    p_tombstone: float,
    skew: float,
) -> list[str]:
    """One feed file's lines: ``n_events`` changes on distinct keys drawn
    with Zipf skew from ``key_space``. A live key is deleted with
    probability ``p_delete``, else updated; a dead key is (re-)inserted.
    ``make_row(key, j)`` builds the new image of the ``j``-th change."""
    keys = key_space[_skewed_keys(rng, len(key_space), n_events, skew)]
    u = rng.random(len(keys))
    salts = rng.integers(0, 1 << 30, len(keys))
    lines = []
    for j, key in enumerate(keys.tolist()):
        if u[j] < p_corrupt:
            lines.append(model.corrupt(ts_ms, int(salts[j])))
        elif u[j] < p_corrupt + p_tombstone:
            lines.append(model.tombstone())
        elif model.current(key) is None:
            lines.append(model.envelope("c", key, make_row(key, j), ts_ms))
        elif u[j] < p_corrupt + p_tombstone + p_delete:
            lines.append(model.envelope("d", key, None, ts_ms))
        else:
            lines.append(model.envelope("u", key, make_row(key, j), ts_ms))
    return lines


def write_feed_file(path: Path, lines: list[str], mtime: float) -> None:
    """Land a feed file atomically (write a dot-file, stamp, rename) with a
    strictly increasing mtime so the file source orders files as written."""
    tmp = path.with_name("." + path.name + ".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def _rows_landed(before: dict, after: dict) -> int:
    return sum(after[t] - before[t] for t in ("insert", "update", "delete"))


# ---------------------------------------------------------------------------
# cdc_catchup inputs: lineitem snapshot + pre-landed backlog
# ---------------------------------------------------------------------------

LINEITEM_KEYS = ("l_orderkey", "l_linenumber")


def lineitem_schema() -> pa.Schema:
    return pa.schema([
        ("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
    ])


def write_catchup(
    out: Path, seed: int, snapshot_rows: int, files: int, events_per_file: int
) -> dict:
    """Snapshot parquet (``snapshot/``), a pre-landed backlog of change
    files (``feed/``) on the snapshot's keys, and the expected final state
    (``expected/``). Every fourth file is delete-heavy, the rest are
    update-heavy. Returns the feed's counts and rows landed per file."""
    rng = np.random.default_rng([seed, 2])
    n_ord = snapshot_rows // 3
    cols = lineitem_columns(rng, snapshot_rows, n_ord, 20_000, 1_000)
    schema = lineitem_schema()
    snap = pa.table({f.name: cols[f.name] for f in schema}, schema=schema)
    _write(snap, out / "snapshot" / "part-0.parquet")

    codes = cols["l_orderkey"] * 16 + cols["l_linenumber"]
    index = dict(zip(codes.tolist(), range(len(codes))))
    py = {c: v.tolist() for c, v in cols.items() if c != "l_shipdate"}
    py["l_shipdate"] = np.datetime_as_string(cols["l_shipdate"]).tolist()

    def base_row(key: int) -> dict | None:
        i = index.get(key)
        return None if i is None else {c: v[i] for c, v in py.items()}

    # inserts land on line numbers 8..9, which the snapshot never uses
    extra = np.arange(0, n_ord, 40, dtype=np.int64) * 16
    key_space = np.concatenate([codes, extra + 8, extra + 9])
    model = ChangeModel(base_row)
    day0 = np.datetime64("1995-01-02", "D")
    feed = out / "feed"
    feed.mkdir(parents=True)
    base_mtime = time.time() - files - 10
    rows_per_file = []
    for f in range(files):
        n = events_per_file
        qty = rng.integers(1, 51, n).astype(float)
        draw = {
            "l_partkey": rng.integers(0, 20_000, n).tolist(),
            "l_suppkey": rng.integers(0, 1_000, n).tolist(),
            "l_quantity": qty.tolist(),
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2).tolist(),
            "l_discount": (rng.integers(0, 11, n) / 100.0).tolist(),
            "l_tax": (rng.integers(0, 9, n) / 100.0).tolist(),
            "l_returnflag": rng.choice(("A", "N", "R"), n).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n).tolist(),
            "l_shipdate": np.datetime_as_string(day0 + rng.integers(0, 2500, n)).tolist(),
        }

        def make_row(key: int, j: int, draw=draw) -> dict:
            row = {"l_orderkey": key >> 4, "l_linenumber": key & 15}
            row.update((c, v[j]) for c, v in draw.items())
            return row

        before = dict(model.counts)
        lines = change_lines(
            model, rng, key_space, make_row, n, T0_MS + f * FILE_STEP_MS,
            p_delete=0.7 if f % 4 == 3 else 0.15,
            p_corrupt=0.004, p_tombstone=0.004, skew=1.3,
        )
        write_feed_file(feed / f"changes-{f:05d}.json", lines, base_mtime + f)
        rows_per_file.append(_rows_landed(before, model.counts))
    for r in model.touched.values():
        if r is not None:
            r["l_shipdate"] = np.datetime64(r["l_shipdate"], "D").item()
    expected = model.expected_table(schema, snap, codes)
    _write(expected, out / "expected" / "part-0.parquet")
    return dict(model.counts, files=files, snapshot_rows=snap.num_rows,
                final_rows=expected.num_rows, rows_per_file=rows_per_file)


# ---------------------------------------------------------------------------
# cdc_live inputs: a feed landed on a schedule
# ---------------------------------------------------------------------------

LIVE_KEYS = ("id",)


def live_schema() -> pa.Schema:
    return pa.schema([("id", pa.int64()), ("tick", pa.int32()),
                      ("val", pa.int64()), ("name", pa.string())])


def run_live(
    out: Path, seed: int, n_keys: int, ticks: int, tick_s: float,
    events_per_tick: int, start_at: float,
) -> None:
    """Compute every tick's feed file, publish the rows each will land
    (``live_plan.json``), then land one file per tick on the absolute
    schedule ``start_at + k * tick_s``. Afterwards log when each was due and
    written (``live_log.json``) and write the expected final state."""
    rng = np.random.default_rng([seed, 4])
    model = ChangeModel(lambda key: None)  # the target starts empty
    key_space = np.arange(n_keys, dtype=np.int64)
    files, rows = [], []
    for k in range(ticks):
        new_vals = rng.integers(0, 1 << 40, events_per_tick).tolist()

        def make_row(key: int, j: int, k: int = k, new_vals=new_vals) -> dict:
            return {"id": key, "tick": k, "val": new_vals[j],
                    "name": f"row-{key}-{k}"}

        before = dict(model.counts)
        files.append(change_lines(
            model, rng, key_space, make_row, events_per_tick,
            T0_MS + k * FILE_STEP_MS, p_delete=0.2,
            p_corrupt=0.005, p_tombstone=0.005, skew=1.2,
        ))
        rows.append(_rows_landed(before, model.counts))
    plan = out / "live_plan.json"
    tmp = plan.with_name(".live_plan.tmp")
    tmp.write_text(json.dumps({"rows": rows}))
    os.replace(tmp, plan)

    feed = out / "feed"
    feed.mkdir(parents=True, exist_ok=True)
    log = []
    for k, lines in enumerate(files):
        due = start_at + k * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_feed_file(feed / f"tick-{k:05d}.json", lines, due)
        log.append({"tick": k, "due": due, "written": time.time(), "rows": rows[k]})
    expected = model.expected_table(live_schema())
    _write(expected, out / "expected" / "part-0.parquet")
    (out / "live_log.json").write_text(
        json.dumps({"ticks": log, "counts": model.counts})
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Write a workload's change feed.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    live = sub.add_parser("live", help="land the live feed on a schedule")
    live.add_argument("--out", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--keys", type=int, required=True)
    live.add_argument("--ticks", type=int, required=True)
    live.add_argument("--tick-s", type=float, required=True)
    live.add_argument("--events-per-tick", type=int, required=True)
    live.add_argument("--start-at", type=float, required=True)
    cu = sub.add_parser("catchup", help="write the snapshot and the backlog")
    cu.add_argument("--out", required=True)
    cu.add_argument("--seed", type=int, required=True)
    cu.add_argument("--rows", type=int, required=True)
    cu.add_argument("--files", type=int, required=True)
    cu.add_argument("--events-per-file", type=int, required=True)
    a = ap.parse_args(argv)
    if a.cmd == "live":
        run_live(Path(a.out), a.seed, a.keys, a.ticks, a.tick_s,
                 a.events_per_tick, a.start_at)
    else:
        counts = write_catchup(Path(a.out), a.seed, a.rows, a.files, a.events_per_file)
        (Path(a.out) / "counts.json").write_text(json.dumps(counts))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
