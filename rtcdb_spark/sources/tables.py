"""Parquet table loaders for the driver fixture star schema.

Analogue of the reference's scan path (``read_all`` + ``create_readers``,
reference src/storage.rs:189-222, 299-327) — but expressed as a declarative
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and row-group skipping for free (the reference only *designed* those,
README.md:51-62).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from rtcdb_spark.session import tune

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables — always broadcast-join candidates. At 100 TB the
# fact tables (lineitem, orders, events) scale with data volume; these stay
# tiny (region=5, nation=25 rows regardless of SF) or sub-GB (supplier, part,
# customer grow slowly), so broadcasting them avoids shuffling the fact side.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# (realpath, conf values) -> (file versions, inferred schema): one entry per
# path and settings, replaced when the files change. Threads share it without
# a lock: an entry is stored whole and checked against the files on every
# read, so a race costs at most one more inference.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_versions(real: str) -> tuple | None:
    """(path, inode, size, mtime_ns) of the file at realpath ``real``, or of
    every file under it for a directory; None if it is not a local file or
    directory, or a file vanished while being listed."""
    if os.path.isdir(real):
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(real) for f in fs)
    elif os.path.isfile(real):
        files = [real]
    else:
        return None
    out = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:
            return None
        out.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the parquet file or directory at ``path``.

    Inference runs a one-task Spark job over the footer; its result is cached
    per file version (realpath, inode, size, mtime of every file) and per
    value of the session confs that change inference, so a rewritten file or
    a session with other settings infers again. A plan built with
    ``spark.read.schema(parquet_schema(spark, p)).parquet(p)`` then starts no
    job. Paths that are not local files are inferred every time.
    """
    real = os.path.realpath(path)
    versions = _file_versions(real)
    if versions is None:
        return spark.read.parquet(path).schema
    key = (real, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == versions:
        return hit[1]
    schema = spark.read.parquet(path).schema
    # Cache only if no file changed while Spark read the footers.
    if _file_versions(real) == versions:
        _SCHEMAS[key] = (versions, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with the schema from its parquet footer
    (``parquet_schema``).

    The fixtures store ``events.ts`` as parquet timestamp[us], which reads as
    TIMESTAMP_NTZ directly. A timestamp[ns] file reads as a nanosecond long
    (legacy.parquet.nanosAsLong); it is truncated to a microsecond
    TIMESTAMP_NTZ, the same truncation DuckDB applies.
    """
    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    ts = schema["ts"].dataType if "ts" in schema.names else None
    if name == "events" and isinstance(ts, LongType):
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by a join key.

    Bucketing is the co-located-join mechanism: two tables bucketed by the
    same key into the same bucket count join with NO exchange on either side
    (verified in tests/test_bucketing.py) — at 100 TB this removes the
    biggest shuffle in fact-fact joins like lineitem↔orders. This is the
    industrial version of the reference's "rows sorted by column order"
    contract (reference README.md:44): there sorting enables binary search;
    here bucket+sort enables shuffle-free merge joins and bucket pruning."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)
