"""CSV sources (SURVEY S1-S3).

- read_csv: header-ful CSV path -> DataFrame with inferred schema
  (main.rs:162-165 LazyCsvReader semantics) plus a stable __ob_row_id__
  reflecting input order (SURVEY §7.5 risk 1).
- read_csv_bytes: in-memory CSV text/bytes -> DataFrame
  (engine/src/analysis.rs:10-11 Cursor reader) — pandas->Arrow->Spark.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scan import partition_offsets

__all__ = ["read_csv", "read_csv_bytes", "attach_row_ids"]

ROW_ID = "__ob_row_id__"


def attach_row_ids(df: DataFrame) -> DataFrame:
    """Dense 0..n-1 row ids in input order without a global sort.

    monotonically_increasing_id() encodes (partition_id << 33) + local_index
    with local indices dense from 0 inside each partition and partition ids
    assigned in scan order, so global input order is (pid, local). Each
    partition's id offset comes from ``scan.partition_offsets`` (one
    numPartitions-row aggregate), keeping the assignment map-side and
    shuffle-free at any scale.
    """
    df = df.withColumn("__mid", F.monotonically_increasing_id()).withColumn(
        "__pid", F.shiftrightunsigned(F.col("__mid"), 33)
    )
    df, _ = partition_offsets(df, "__pid", {"__off": F.lit(1)})
    return df.withColumn(
        ROW_ID, F.col("__off") + (F.col("__mid") - F.shiftleft(F.col("__pid"), 33))
    ).drop("__mid", "__pid", "__off")


def read_csv(spark: SparkSession, path: str, with_row_id: bool = True) -> DataFrame:
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    if with_row_id:
        df = attach_row_ids(df)
    return df


def read_csv_bytes(spark: SparkSession, data: bytes | str, with_row_id: bool = True) -> DataFrame:
    import pandas as pd

    if isinstance(data, bytes):
        buf = io.BytesIO(data)
    else:
        buf = io.StringIO(data)
    pdf = pd.read_csv(buf)
    if with_row_id:
        pdf[ROW_ID] = range(len(pdf))
    return spark.createDataFrame(pdf)
