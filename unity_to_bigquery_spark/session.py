"""SparkSession factory tuned for this engine.

Design notes (100 TB mandate, SURVEY.md §4):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned plans.
- Session timezone pinned to UTC so results hash-match the DuckDB oracle
  (FIXTURES.md §3).
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  test scale; on a real cluster this is sized to ~128 MB per shuffle
  partition of the largest shuffle (set via ``extra_conf``).
- Arrow enabled for the Pandas-UDF paths (LLM operators, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "unity-to-bigquery-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Mirrors the reference's engine-init step (``Unity_to_BigQuery.py:19-54``)
    but the "connection" here is a Spark driver, not Postgres.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    effective_master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(effective_master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Write modern TIMESTAMP_MICROS, not legacy INT96: INT96 columns
        # carry NO parquet min/max statistics, which silently disables
        # every timestamp-based file-skipping path (footer pruning,
        # VersionedTable manifest stats) and bloats files.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Read int64 timestamp[ns] parquet (events.ts) without error;
        # values truncate to Spark's microsecond precision.
        .config("spark.sql.legacy.parquet.nanosAsLong", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Delay scheduling buys nothing on a single-node (local[N])
        # deployment — every task is process-local by construction — but
        # its wait gates task launch after each stage boundary (measured
        # here: a 4-stage shuffle+broadcast chain at sf0.1 drops ~35%
        # wall with wait=0). Keyed off the master: a cluster deployment
        # keeps Spark's 3s default and its rack locality; local[N] gets
        # the measured win.
        .config(
            "spark.locality.wait",
            "0s" if effective_master.startswith("local") else "3s",
        )
        .config("spark.ui.enabled", "false")
    )
    # Ad-hoc conf passthrough for A/B measurement and cluster tuning:
    # "k1=v1;k2=v2". Applied before extra_conf so programmatic callers
    # still win.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        if k and v:
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
