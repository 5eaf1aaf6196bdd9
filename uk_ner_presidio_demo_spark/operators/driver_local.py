"""The shared size gate of the driver-local fixed points (CC, PageRank,
k-core): one bounded collect in, an Arrow local relation out."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def collect_if_small(df: DataFrame, gate: int) -> list | None:
    """Rows of a materialized `df` if it holds at most `gate`, else None.
    Gates AND fetches in ONE job at any partition count (a count() gate
    plus collect() is three under AQE); the task stops after gate + 1
    rows, and a negative gate runs no job."""
    if gate < 0:
        return None
    rows = df.coalesce(1).limit(gate + 1).collect()
    return rows if len(rows) <= gate else None


def local_frame(spark: SparkSession, rows: list[tuple],
                ddl: str) -> DataFrame:
    """Driver-held tuples as a LocalTableScan: no job, no Python worker
    (createDataFrame(<list>) is a pickled-row RDD scan)."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow), schema)
