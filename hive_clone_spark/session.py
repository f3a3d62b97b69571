"""SparkSession factory.

Tuned for the driver's local[N] harness but configured the way a real
cluster deployment would be: AQE on (runtime coalesce + skew-join
handling), Arrow for any Python exchange, UTC session timezone so
timestamp semantics match the DuckDB oracle, and a shuffle-partition
count sized to cores rather than the 200 default.

At 100 TB the same settings hold, with shuffle.partitions scaled to
~2-3x total executor cores and maxPartitionBytes left at 128m so scan
tasks stay balanced; AQE then coalesces small post-shuffle partitions
and splits skewed ones without manual retuning.

Streaming checkpoints go through `FileSystemBasedCheckpointFileManager`.
Spark 4.1's default manager writes every offset, commit and state-store
delta through Hadoop's FileContext and a checksum wrapper, and that
fixed cost dominates a small micro-batch: in q187's four batches at
sf0.1, `walCommit` plus `commitOffsets` fell from about 680 ms to about
220 ms with this manager. It still writes each file to a temp name and
renames it into place, which is atomic on a local or HDFS filesystem.
The conf is read when a query starts, so it holds for every drain in
`streaming/streams.py` without a per-runner override.

`local_rows` builds the small driver-side frames (bindings, fixtures,
empty tables) as a JVM `LocalRelation`. `createDataFrame(list)` instead
plans a `Scan ExistingRDD` whose rows PySpark re-serialises through a
Python-worker stage on every action that reads them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "hive-clone-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession. The driver heap comes
    from the deployment setting SPARK_GRAFT_DRIVER_MEM (default 16g)."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Catalyst / AQE: runtime re-planning, post-shuffle coalesce, skew splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dims here are tiny; on a cluster this keeps star-schema joins broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Arrow for pandas UDF / toPandas exchange (vectorized, not per-row pickle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic timestamp semantics (matches DuckDB's naive timestamps)
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert in catalog.table (truncation to micros
        # matches DuckDB's nanos→micros behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # plain FileSystem create + rename for offsets, commits and state
        # deltas (see the module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """Driver rows as a JVM `LocalRelation` (a `LocalTableScan` in the
    plan): the rows go to the JVM once, as an Arrow table at the Spark
    schema's Arrow types, and no action that reads them starts a
    Python worker. `schema` is a DDL string or a StructType; its
    nullability is kept, as in `createDataFrame(rows, schema)`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
