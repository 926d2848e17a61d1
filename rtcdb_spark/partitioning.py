"""Partition width: the one module that decides how wide a run is.

Widths. The session's ``spark.sql.shuffle.partitions`` (set by ``get_spark``
or by whoever built a foreign session) is the *configured* width, and no code
path runs wider than it. Two kinds of eager work run narrower, each by a
scale-adaptive rule:

- ``loop_width(rows)`` for the shuffles of an iterative kernel's rounds
  (pagerank, label propagation, star connected components). Each round over a
  small contracted relation pays a fixed per-task scheduling and shuffle
  bookkeeping cost, times the width, times the rounds; at the session width
  that floor dominates tiny rounds. One partition per 250k loop rows, at
  least 8, so a billion-edge loop keeps the full width.
- ``stream_width(spark)`` for a stateful stream's state stores. Spark keeps
  one state store per shuffle partition, and store setup/commit is a fixed
  per-partition, per-micro-batch cost that dominates short drains, so streams
  use a quarter of the cores (at least 8). The checkpoint pins the store
  count at the first start; a production job with large per-key state sizes
  the session width itself (~1 GB of state per store).

``shuffle_width(spark, n)`` applies a rule for the length of a block. It is
the only writer of the conf apart from ``get_spark``'s builder.

Fan-out. A coarse scan (the one-row-group parquet fixture is ONE split) would
run a heavy map stage on one task. ``spread`` round-robins such a scan across
cores. ``map_ordered`` does the same for a map whose output contract is ORDER
BY the id, and owns the finishing sort so the two cannot be split apart.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# Held from set to restore: two overlapping blocks would otherwise interleave
# their save/restore and leave the session at a throttled width.
_WIDTH_LOCK = threading.Lock()


def loop_width(rows: int) -> int:
    """Shuffle width for an iterative kernel whose loop relation has ``rows``."""
    return max(8, -(-int(rows) // 250_000))


def stream_width(spark: SparkSession) -> int:
    """Shuffle width (= state-store count) for a stream started on ``spark``."""
    return max(8, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def shuffle_width(spark: SparkSession, n: int):
    """Run the block at ``min(n, configured)`` shuffle partitions, then
    restore the configured value.

    The conf is session-global: a query another thread plans on the same
    session inside the block sees the narrower width too. The lock only
    keeps overlapping blocks from leaking a throttled width past their end.
    The caller must execute its work inside the block (an action, an eager
    checkpoint or a stream ``start()``) for the width to apply to it."""
    with _WIDTH_LOCK:
        configured = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(min(n, int(configured))))
        try:
            yield
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, configured)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin a scan that has fewer partitions than the session's
    parallelism, so the heavy map stage after it uses every core (repartition
    right after an un-parallel read). A no-op when the input is already
    core-parallel, so at corpus scale it never adds a shuffle.

    Streaming frames pass through: their partitioning is the source's
    per-micro-batch layout, and ``df.rdd`` (the partition-count probe) is
    illegal on a streaming plan. The probe plans ``df`` once, which is cheap
    on a scan but not on a wide plan, so call it on the raw scan."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def map_ordered(
    df: DataFrame, id_col: str, fn: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """``fn(df)`` in ``id_col`` order.

    A global sort above an expensive map runs the range partitioner's
    sampling pass over the map's output, which executes the whole map twice.
    So when the input is the id column alone (an 8-byte/row exchange, cheap at
    any scale) or is narrower than the session's parallelism, the input is
    range-partitioned on the id instead: the sampling pass reads only the
    input, ``fn`` runs once, each partition holds one contiguous id range, and a shuffle-free
    ``sortWithinPartitions`` gives the global order, because partitions are
    collected in range order. This holds only if ``fn`` keeps each row in
    its partition (a map, filter or projection) and keeps ``id_col``.

    Otherwise (a core-parallel scan that carries payload columns) ``fn(df)``
    is globally sorted: moving the payload to dodge the sampling pass costs
    more than the duplicated map saves unless the map is expensive. A stream
    has no global order; ``fn`` is applied to it as is."""
    if df.isStreaming:
        return fn(df)
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.columns == [id_col] or df.rdd.getNumPartitions() < n:
        return fn(df.repartitionByRange(n, id_col)).sortWithinPartitions(id_col)
    return fn(df).orderBy(id_col)
