"""Parquet schema resolution (sources.tables.parquet_schema): a table load
after the first plans from the cached inferred schema without a Spark job;
a rewritten file or a change to an inference conf infers again."""

from __future__ import annotations

import datetime as dt
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rtcdb_spark.sources.tables import load_table
from rtcdb_spark.streaming.events import read_table_stream


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    group = f"schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # Job starts reach the status tracker through the async listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    assert sorted(load_table(spark, str(tmp_path), "t").collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_overwritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert df.collect() == [("x", 1.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"payload": pa.array([b"ab"], pa.binary())}), tmp_path / "t.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("payload", "binary")]
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("payload", "string")]
        assert df.collect()[0]["payload"] == "ab"
    finally:
        spark.conf.set(conf, prev)


def test_directory_stream_source_is_inferred_again(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"a": [i]}), src / f"part-{i}.parquet")
    assert read_table_stream(spark, "", "x", path=str(src)).columns == ["a"]
    assert _jobs_started(spark, lambda: read_table_stream(spark, "", "x", path=str(src))) == 0
    for f in src.iterdir():
        f.unlink()
    pq.write_table(pa.table({"b": ["x"]}), src / "part-0.parquet")
    assert read_table_stream(spark, "", "x", path=str(src)).dtypes == [("b", "string")]


def test_concurrent_loads_share_the_cache(spark, tmp_path):
    """More threads than cores resolve two tables at once: every load gets
    its own table's schema, and afterwards a load starts no job."""
    for name, col in (("a", "x"), ("b", "y")):
        pq.write_table(pa.table({col: [1]}), tmp_path / f"{name}.parquet")
    want = {"a": ["x"], "b": ["y"]}
    got, errors = [], []

    def work(i):
        try:
            for _ in range(3):
                name = "ab"[i % 2]
                got.append((name, load_table(spark, str(tmp_path), name).columns))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 36 and all(cols == want[name] for name, cols in got)
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "a")) == 0


def test_missing_path_still_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")


def test_nanosecond_events_ts_truncates_to_micros(spark, tmp_path):
    """The fixtures store events.ts as timestamp[us]; a timestamp[ns] file
    reads as a long (nanosAsLong) and load_table truncates it to whole
    microseconds as TIMESTAMP_NTZ."""
    ns = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999]
    table = pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    epoch = dt.datetime(1970, 1, 1)
    want = [(i, epoch + dt.timedelta(microseconds=n // 1000)) for i, n in zip([1, 2], ns)]
    assert sorted(df.collect()) == want
    assert want[0][1].microsecond == 123_456
