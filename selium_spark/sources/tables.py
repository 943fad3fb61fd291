"""Canonical loaders for the driver testdata tables.

One normalization: ``events.ts`` is written as parquet TIMESTAMP(NANOS),
which Spark's reader surfaces as a nanosecond long (with
``spark.sql.legacy.parquet.nanosAsLong=true``). We truncate to
microseconds (integer ``div 1000`` — no double round-trip, lossless for
the int64 range) to match DuckDB's microsecond timestamps, so oracle
comparisons agree.

Schemas come from ``table_schema``, a process-wide cache of parquet
footer inference: an uncached read runs a Spark job to read the footer
on every call, though the file has not changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from ..fsutil import fs_file_version

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Runtime-settable conf required to scan TIMESTAMP(NANOS) parquet
    (events.ts) on sessions not built by selium_spark.session.get_spark."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


#: session confs that change what parquet schema inference returns;
#: their values are part of every cache key
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

#: path -> (version key, schema) of the last inference of each file.
#: One entry per path, so a rewritten file replaces its stale entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file version.

    The key is the file's length and modification time (Hadoop
    FileSystem, so any scheme works) plus the session confs in
    ``_INFERENCE_CONFS``. Directories, globs and missing paths are not
    cached: they are inferred (or fail) exactly as an uncached read
    would. The returned schema is shared by every caller: do not mutate
    it."""
    # stat before inferring: a rewrite racing the inference leaves the
    # entry under the older key, so the next call misses and re-infers
    version = fs_file_version(spark, path)
    if version is None:
        return spark.read.parquet(path).schema
    key = (*version, *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        ensure_nanos_as_long(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = table_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and "ts" in schema.names and isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NOTE: no blanket repartition here. Joins/aggs shuffle on their own
    # keys anyway, so a round-robin exchange ahead of them is a wasted
    # extra shuffle (measured: q2 2x slower). CPU-per-row operators that
    # DO deserve the fan-out call sources.layout.fan_out at their own
    # entry points, where it's gated to be a no-op at real scale.
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for the SQL surface)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
