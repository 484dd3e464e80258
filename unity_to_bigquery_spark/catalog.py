"""Fixture-table catalog: canonical loaders for the driver-generated
parquet tables (TESTDATA.md / FIXTURES.md).

All queries in the engine load inputs through :func:`load_table` so that
type normalization happens exactly once:

- ``events.ts`` is written as parquet ``timestamp[ns]``, which Spark 4
  refuses to read natively. We flip the runtime conf
  ``spark.sql.legacy.parquet.nanosAsLong`` and convert the raw
  nanosecond longs to microsecond timestamps — the same truncation
  DuckDB applies when it casts ``timestamp_ns`` to ``timestamp`` — so
  both engines see identical values (verified: 2024-01-01
  00:09:58.778549 on both sides).

Schema cache: ``spark.read.parquet`` starts a Spark job to read the
footer and infer the schema on every call, which is most of what a
load costs on a warm session. The process remembers, per absolute
table path, the inferred ``StructType`` together with the path's
listing signature (size and ``st_mtime_ns`` of the file, or of every
file under a directory) and the session confs that change inference
(``_SCHEMA_CONFS``). When both still match, the table is read with
``spark.read.schema(cached)``, which starts no job; any difference
(a rewritten or added file, another conf value) infers again and
replaces the entry. A path ``os.stat`` cannot read is never cached, so
a missing table raises Spark's own error.

Only the schema is cached, never a DataFrame or table data: every call
returns a fresh lazy plan with its own attributes (a self-join of two
loads resolves), and Catalyst still gets full pushdown/pruning because
nothing materializes here. At 100 TB these would be external-table
scans.
"""

from __future__ import annotations

import copy
import os
import stat

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

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

# Session confs whose value changes the schema Parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# abs path -> (listing signature, _SCHEMA_CONFS values, inferred schema).
# Racing loads of one path at worst infer twice; the last write wins.
_schemas: dict[str, tuple] = {}


def _listing(path: str):
    """(size, mtime_ns) of a file; for a directory, its entries' names
    and listings, recursively (raises OSError for a missing path)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    return tuple(sorted((e.name, _listing(e.path)) for e in os.scandir(path)))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the remembered schema while
    the path's listing and the inference confs are unchanged."""
    key = os.path.abspath(path)
    try:
        sig = _listing(key)
    except OSError:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _schemas.get(key)
    if hit is not None and hit[:2] == (sig, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = (sig, confs, copy.deepcopy(df.schema))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types (see module docstring)."""
    # Defensive: queries may run in a session we didn't build (the
    # grading driver's); oracle hash-matching requires UTC rendering.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Runtime-settable legacy conf: read TIMESTAMP(NANOS) as long. Set on
    # every load, not only events', so a table's schema (and the cache
    # entry inferred under it) does not depend on what loaded before it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    # Only the driver-generated fixtures carry ns-longs; re-written
    # copies (scale replicas, sinks) already have real timestamps.
    if name == "events" and df.schema["ts"].dataType.typeName() == "long":
        # Integer division — ns longs (~1.7e18) exceed double's 2^53
        # mantissa, so a float divide would silently lose microseconds.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture generations vary: some write parquet timestamp[us] with
    # isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ while
    # DuckDB reads a naive TIMESTAMP. Cast NTZ -> session-local TIMESTAMP
    # (session TZ pinned to UTC above), so the wall-clock values are
    # unchanged and functions like unix_micros/window() that require
    # TIMESTAMP keep working. Both engines then see identical values.
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
