"""Table loaders for the driver testdata.

The driver generates a TPC-H-ish star schema plus ``events`` (stream),
``documents`` and ``embeddings`` (pipeline tables) at
``/root/testdata/sf{0.001,0.01,0.1}`` (see TESTDATA.md). All declared
queries take an ``sf_dir`` and read parquet from it — filters and column
pruning are pushed to the scan by Catalyst, so loaders never pre-select.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin the session timezone: the driver's own SparkSession may default
    # to the machine timezone, and timestamp<->date comparisons /
    # date_trunc would then shift against the DuckDB oracle's UTC
    # semantics. Runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Testdata vintages differ on the ``ts`` column: older generators
        # wrote TIMESTAMP(NANOS) (which Spark's parquet reader only accepts
        # as LONG via the legacy conf), newer ones write TIMESTAMP(MICROS).
        # Branch on the decoded dtype so either vintage loads; normalize to
        # a µs TIMESTAMP (matching DuckDB's TIMESTAMP semantics).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            # nanos-as-long vintage: convert exactly (values are µs-grained)
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
