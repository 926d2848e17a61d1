"""Partition width and fan-out (`rtcdb_spark.partitioning`).

- No code path runs wider than the session's configured shuffle width: a
  drained stream's state-store count and a `shuffle_width` block are both
  clamped to it.
- Overlapping `shuffle_width` blocks on two threads restore the configured
  width.
- `spread` / `map_ordered`: streaming pass-through, and the range contract
  that gives `map_ordered` a global order with the map run once (no
  Exchange above it) while a core-parallel payload scan is not shuffled.
"""

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from rtcdb_spark.partitioning import map_ordered, shuffle_width, spread, stream_width
from rtcdb_spark.streaming.events import drain

WIDTH = "spark.sql.shuffle.partitions"


@pytest.fixture
def width3(spark):
    prev = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, "3")
    try:
        yield spark
    finally:
        spark.conf.set(WIDTH, prev)


def test_width_never_exceeds_configured(width3, tmp_path):
    spark = width3
    with shuffle_width(spark, 64):
        assert spark.conf.get(WIDTH) == "3"
    assert spark.conf.get(WIDTH) == "3"

    src, ckpt = str(tmp_path / "src"), tmp_path / "ckpt"
    rows = spark.range(0, 100).select((F.col("id") % 5).alias("k"))
    rows.write.parquet(src)
    counts = spark.readStream.schema(rows.schema).parquet(src).groupBy("k").count()
    drain(
        counts.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
    )
    stores = [p for p in os.listdir(ckpt / "state" / "0") if p.isdigit()]
    assert len(stores) == min(3, stream_width(spark)) == 3
    assert spark.conf.get(WIDTH) == "3"


def test_overlapping_widths_restore_configured(spark):
    configured = spark.conf.get(WIDTH)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def a():
        with shuffle_width(spark, 2):
            a_in.set()
            b_in.wait(timeout=2)  # B cannot enter while A holds the width
        a_out.set()

    def b():
        a_in.wait(timeout=30)
        with shuffle_width(spark, 1):
            b_in.set()
            a_out.wait(timeout=30)  # without the lock: B restores A's width

    threads = [threading.Thread(target=a), threading.Thread(target=b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert a_in.is_set() and b_in.is_set() and a_out.is_set()
    assert spark.conf.get(WIDTH) == configured


def test_concurrent_widths_hold_inside_each_block(spark):
    configured = int(spark.conf.get(WIDTH))
    seen = []

    def worker(n):
        for _ in range(10):
            with shuffle_width(spark, n):
                seen.append((n, int(spark.conf.get(WIDTH))))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(1, 9)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 80
    assert all(got == min(n, configured) for n, got in seen)
    assert int(spark.conf.get(WIDTH)) == configured


def test_spread_and_map_ordered_pass_streams_through(spark):
    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert spread(sdf) is sdf
    assert map_ordered(sdf, "value", lambda d: d) is sdf


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _around(df, node: str) -> tuple[str, str]:
    """The plan tree's text above and below the first ``node``. Call it
    before executing ``df``: afterwards AQE also prints the initial plan."""
    tree = _formatted_plan(df).split("\n\n", 1)[0].splitlines()
    i = next(i for i, ln in enumerate(tree) if node in ln)
    return "\n".join(tree[:i]), "\n".join(tree[i + 1 :])


def _identity(batches):
    yield from batches


def test_map_ordered_contract(spark):
    n = spark.sparkContext.defaultParallelism
    kernel = lambda d: d.mapInPandas(_identity, d.schema)  # noqa: E731
    narrow = spark.range(0, 1000).coalesce(1).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    wide = spark.range(0, 1000, numPartitions=n).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    cases = [
        (narrow, True),  # narrow scan: range-partitioned below the map
        (wide.select("doc_id"), True),  # the id alone: always range-partitioned
        (wide, False),  # core-parallel payload: not shuffled, sorted above
    ]
    for df, ranged in cases:
        out = map_ordered(df, "doc_id", kernel)
        above, below = _around(out, "MapInPandas")
        assert ("Exchange" not in above) is ranged
        assert ("Exchange" in below) is ranged
        # range partitioning on doc_id + sortWithinPartitions == global order
        assert [r.doc_id for r in out.collect()] == list(range(1000))


def test_codec_output_ordered_without_caller_sort(spark):
    from rtcdb_spark.functions.multimodal import synth_and_decode

    ids = spark.range(0, 200).coalesce(1).select(F.col("id").alias("doc_id"))
    out = synth_and_decode(ids)
    above, _ = _around(out, "MapInPandas")
    assert "Exchange" not in above
    assert [r.doc_id for r in out.collect()] == list(range(200))
