"""The file-replay harness policy, in one place: how many state stores a
replay stream keeps, and how a replay waits for its stream to drain.

Every registry query that replays a feed through a stateful stream starts
it inside :func:`replay_shuffle` and waits for it with
:func:`await_replay`; the file pipelines of ``plans.runner`` and
``streaming.changelog_stream`` wait the same way.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery


@contextlib.contextmanager
def replay_shuffle(spark: SparkSession, n: int | None = None):
    """Bound the state-store partition count for a file-replay streaming
    lifecycle query. A FRESH checkpoint pins its state partitioning from
    ``spark.sql.shuffle.partitions`` at stream start; the replay feeds are
    sf-bounded (hundreds of KB), so 32 state stores x 4-5 store instances
    x N micro-batches of per-batch snapshot+delta commits are pure fixed
    cost (~3x the whole query, measured 20.8 s -> 6.6 s solo on
    stream_stream_left_outer in r8). r10 re-measured the remaining cost:
    per-micro-batch addBatch time still scaled with the store count, and
    2 partitions vs 8 cut the stream phase a further ~2-3x at identical
    output (A/B'd on stream_stream_left_outer, output hash bit-identical
    across 8/2 x tmp/tmpfs). Python-stateful replays pay it per partition
    too: stateful_running_counts (five keys, sf0.001, local[4]) took 5.2
    CPU-s at 8 stores and 2.5 at 2, with 261 vs 132 local-FS shell-outs
    (chmod/readlink) for its checkpoint and state files. State
    partitioning is invisible to query VALUES (watermarks and
    aggregations are partitioning-invariant; every replay query is
    oracle-hashed), so the harness default is the smallest count that
    still exercises multi-partition state. The PRODUCTION operators
    inherit the session conf untouched — on a real cluster state
    partitioning sizes to rate x window as before; only the replay
    harness dials down. Override for experiments via
    $SPARK_GRAFT_REPLAY_STATE_PARTITIONS or the ``n`` argument.
    """
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", "2"))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def await_replay(q: StreamingQuery, timeout_s: float) -> None:
    """Wait for a draining (``availableNow``) stream to finish, so its
    caller never reads a partial target: a stream still running after
    ``timeout_s`` is stopped and raises ``TimeoutError``; a stream that
    failed re-raises its exception."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not finish within {timeout_s} s;"
            " stopped it instead of returning partial output"
        )
    exc = q.exception()
    if exc is not None:
        raise exc
