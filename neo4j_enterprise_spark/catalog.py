"""Table loaders for the driver testdata, and ``local_frame``, through
which every frame made on the driver from Python rows is created.

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


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small frame of ``rows`` (tuples in the order of the DDL
    ``schema``), built on the driver.

    The rows go to Spark as a ``pyarrow.Table``, so below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) the frame
    is a JVM-side ``LocalRelation``: Catalyst sees its exact size, and a
    job that reads it starts no Python worker. ``createDataFrame`` over a
    Python list instead yields a pickled ``LogicalRDD`` that Catalyst
    sizes as ``Long.MaxValue`` and that Python workers must decode.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
