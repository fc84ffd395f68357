"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are what
we would ship as defaults on a real cluster (AQE on, adaptive skew-join on,
sane shuffle partitioning). Nothing here is required — every public API takes
an externally-built SparkSession/DataFrame too.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "oaxaca-blinder-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # pin the session timezone so timestamp semantics (freshness rules,
        # drift snapshot cuts, session windows) don't drift with the JVM
        # default across deployments; quality.freshness documents this
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures (fused bootstrap GEMM, Machado-Mata Gram passes)
    reference package modules by name, so workers must be able to import
    ``oaxaca_blinder_rs_spark`` — guaranteed only when the driver runs from
    the repo root or the package is pip-installed. Shipping a zip via
    ``addPyFile`` covers every other launch directory and is exactly what a
    real cluster deployment would do (spark-submit --py-files).

    The zip's name carries a hash of the package sources, so a zip left in
    ``$SPARK_GRAFT_TMP`` by another version of the tree is never reused.
    """
    try:
        import oaxaca_blinder_rs_spark  # noqa: PLW0406

        pkg_dir = os.path.dirname(os.path.abspath(oaxaca_blinder_rs_spark.__file__))
        sources = []
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    sources.append((os.path.relpath(full, os.path.dirname(pkg_dir)), full))
        sources.sort()
        digest = hashlib.sha256()
        for rel, full in sources:
            with open(full, "rb") as fh:
                digest.update(rel.encode() + b"\0" + fh.read() + b"\0")
        zip_path = os.path.join(
            os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
            f"oaxaca_blinder_rs_spark_pkg-{digest.hexdigest()[:16]}.zip",
        )
        if not os.path.exists(zip_path):
            import zipfile

            # written aside and renamed, so a concurrent launch never reads
            # a half-written zip
            tmp_path = f"{zip_path}.{os.getpid()}.tmp"
            with zipfile.ZipFile(tmp_path, "w") as zf:
                for rel, full in sources:
                    zf.write(full, rel)
            os.replace(tmp_path, zip_path)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # best effort: repo-root / installed launches never need it


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one of the driver-provided parquet tables (TESTDATA.md).

    The `events` table carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects ([PARQUET_TYPE_ILLEGAL]); fall back to pyarrow -> pandas (ns
    timestamps downcast to us) -> createDataFrame for such files. tz-naive
    pandas datetimes infer as TIMESTAMP_NTZ, which ``withWatermark`` rejects
    as an event-time column — normalize any NTZ columns to TIMESTAMP (LTZ)
    so downstream batch and streaming code see one timestamp type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so the parquet footer is actually checked
        return df
    except Exception:
        import pyarrow.parquet as pq

        pdf = pq.read_table(path).to_pandas()
        df = spark.createDataFrame(pdf)
        return _ntz_to_ltz(df)


def _ntz_to_ltz(df):
    """Cast any TIMESTAMP_NTZ columns to TIMESTAMP (LTZ)."""
    from pyspark.sql import functions as F

    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df
