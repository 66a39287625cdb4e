"""Fixture-table loading (driver-generated parquet, see /root/repo/TESTDATA.md)."""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor the
# TPC-H-ish generator produces (region=5, nation=25 rows always; supplier
# and part grow slowly). customer/orders/lineitem are fact-sized.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Spark's own inferred schema of each table file read in this process:
# path -> ((inode, size, mtime_ns, nanosAsLong), schema). Inferring a
# schema launches a Spark job, 86 ms median against 16 ms for the same
# read with the schema given (local[2]), and a warm query re-reads the
# same unchanged files. A rewritten file replaces its path's entry.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    file's identity or the parquet-read conf this module sets changed
    since the last read. A path that is not a plain local file (a
    directory, or one that does not exist) is read as before, so Spark
    reports its own errors."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    identity = (st.st_ino, st.st_size, st.st_mtime_ns,
                spark.conf.get(_NANOS_AS_LONG, "false"))
    known = _schemas.get(path)
    if known is not None and known[0] == identity:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (identity, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver has shipped events.parquet in two layouts: TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark reads natively as TIMESTAMP_NTZ, and
    TIMESTAMP(NANOS), which Spark's parquet reader rejects unless nanos are
    read as long (legacy conf, runtime-settable) and truncated to microsecond
    TIMESTAMP_NTZ — exactly what DuckDB does on read, so the oracle sees
    identical values either way. NTZ keeps every downstream format/compare
    independent of the session timezone. Branch on the physical type."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set(_NANOS_AS_LONG, "true")
    raw = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, TimestampNTZType):
        return raw  # native TIMESTAMP_NTZ micros — nothing to convert
    if not isinstance(ts_type, LongType):
        # e.g. TIMESTAMP(MICROS, isAdjustedToUTC=true) reads as session-
        # timezone-dependent TimestampType (LTZ); silently passing it
        # through would break the NTZ/timezone-independence contract every
        # downstream format/compare relies on. Fail loudly instead.
        raise TypeError(
            f"events.ts read as {ts_type}; expected TIMESTAMP_NTZ or "
            "nanos-as-long (set by spark.sql.legacy.parquet.nanosAsLong). "
            "An isAdjustedToUTC=true layout would make results depend on "
            "the session timezone — refusing to load it.")
    # Nanos-as-long layout: build NTZ by pure interval arithmetic from the
    # epoch — NEVER via timestamp_micros/convert_timezone: those round-trip
    # through LTZ and an implicit LTZ->NTZ cast that uses the SESSION
    # timezone (correct in UTC sessions, 5h off in America/New_York —
    # caught by the TZ-variant contract drive). Exactness verified to the
    # microsecond against a Python reference across TZs.
    return raw.withColumn(
        "ts",
        F.expr("""
          CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)
            + make_dt_interval(CAST((ts DIV 1000) DIV 86400000000 AS INT),
                               0, 0, 0)
            + INTERVAL '0.000001' SECOND * ((ts DIV 1000) % 86400000000)
        """))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view (for the SQL-facing API)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
