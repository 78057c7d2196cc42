"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the configs below are the ones that also
matter on a real cluster (AQE, shuffle partition sizing, Arrow for the
Pandas-UDF paths). Nothing here is local-mode-specific except the master
default.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampType


def get_spark(
    app_name: str = "gedixr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — at 100 TB the
      static plan is never exactly right.
    - Arrow on: every Pandas-UDF boundary (HDF5 reader, point-in-polygon)
      moves data in Arrow batches, not pickled rows.
    - shuffle.partitions defaults to cores locally; on a cluster you'd
      size it so post-shuffle partitions land in the 64–256 MB range and
      let AQE coalesce.
    """
    # make this package importable inside Python workers (local mode
    # forks them with the driver's environment, not its sys.path)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize (coalesce/skew-split) the stages that
        # feed a .cache()/.persist() too: off, a cached micro-batch
        # pins spark.sql.shuffle.partitions tiny partitions and every
        # downstream action pays that task count (measured: the CDC
        # mirror's cached per-key batch ran 32-partition stages for
        # KB-sized data); on, cached exchanges right-size by the AQE
        # advisory target at every scale. Trade-off per the docs is
        # only that a cache consumer can no longer REUSE the cached
        # partitioning to elide its own exchange — none of our cache
        # consumers joins/groups on the cached key without
        # re-aggregating, so nothing is lost.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-side rows → a DataFrame over a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` parallelizes the rows as a
    Python RDD (``Scan ExistingRDD``), so every collect or broadcast of
    the frame launches Spark jobs. The tables the engine builds on the
    driver (granule inventory, AOI table, join cell/edge indexes, CDC
    role maps, one-row summaries) are tiny and read many times; as a
    ``LocalRelation`` they are collected on the driver, and filters and
    projections over them fold into the relation, with no job at all.

    ``rows`` are positional tuples matching ``schema`` (a DDL string or
    a ``StructType``). Non-empty rows travel as one ``pyarrow.Table``,
    which ``createDataFrame`` turns into a ``LocalRelation`` whatever
    the Arrow conf says; empty rows go straight to the JVM
    ``createDataFrame(List<Row>, StructType)``, skipping Arrow's
    first-use cost. Non-empty rows may not hold ``timestamp`` values:
    ``createDataFrame`` reads a naive ``datetime`` in the process's
    local time zone and Arrow reads it as UTC, so they are refused
    rather than shifted (ship epoch micros instead).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        jschema = spark._jsparkSession.parseDataType(schema.json())
        jrows = spark.sparkContext._jvm.java.util.ArrayList()
        return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)
    if _has_timestamp(schema):
        raise TypeError(f"local_frame: non-empty rows with a timestamp field: {schema.simpleString()}")
    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow_schema)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


def _has_timestamp(dt: DataType) -> bool:
    if isinstance(dt, TimestampType):
        return True
    if isinstance(dt, StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    return False
