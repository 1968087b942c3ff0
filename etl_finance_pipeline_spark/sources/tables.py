"""Table loader for parquet datasets, nanosecond-timestamp aware.

pandas/PyArrow-written parquet frequently uses TIMESTAMP(NANOS), which
Spark has no native type for (Spark timestamps are microsecond). With
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns surface as
epoch-nanos longs; this loader inspects the parquet footer (driver-side
pyarrow, O(1) — one footer read per table, no data scan) and converts
them back to proper TimestampType via integer division to micros.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
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


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path] if os.path.isfile(path) else []  # a glob or remote URI: not probed


def _timestamp_units(path: str) -> dict[str, str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema_arrow
    return {f.name: f.type.unit for f in schema if pa.types.is_timestamp(f.type)}


def _nanos_timestamp_columns(paths: list[str]) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) in the parquet footers.

    The first file's footer decides. When it has such columns, every
    other file must store them in nanoseconds too: Spark reads a column
    with one type for all files, so converting epoch-nanos would rescale
    another unit's values. A mix raises ValueError."""
    files = [f for p in paths for f in _parquet_files(p)]
    if not files:
        return []
    nanos = [c for c, unit in _timestamp_units(files[0]).items() if unit == "ns"]
    for f in files[1:] if nanos else []:
        units = _timestamp_units(f)
        other = [c for c in nanos if units.get(c, "ns") != "ns"]
        if other:
            raise ValueError(
                f"{f} stores {other} in another unit; {files[0]} stores them in nanoseconds"
            )
    return nanos


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Arm ``spark.sql.legacy.parquet.nanosAsLong`` on THIS session.

    Without it Spark 4 refuses TIMESTAMP(NANOS) parquet outright
    (PARQUET_TYPE_ILLEGAL) — and callers (e.g. the external verify
    driver) hand us sessions we didn't build. The conf is a runtime
    SQLConf, so setting it here is safe and idempotent.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read a parquet table (one path or several), restoring
    nanosecond-timestamp columns to TimestampType (truncated to micros,
    Spark's native resolution). Works on any session — arms the nanos
    conf itself."""
    paths = [path] if isinstance(path, str) else list(path)
    ensure_nanos_conf(spark)
    df = spark.read.parquet(*paths)
    dtypes = dict(df.dtypes)
    for c in _nanos_timestamp_columns(paths):
        # Convert only when Spark actually surfaced the column as an
        # epoch-nanos long: INT96 timestamps also show as timestamp[ns]
        # in the arrow footer but Spark reads them as TIMESTAMP already.
        if dtypes.get(c) != "bigint":
            continue
        # integer division — float division would lose precision on
        # epoch-nanos magnitudes (> 2^60)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return normalize_ntz(df)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (with local time zone).

    Parquet written with naive (no-UTC-flag) micro/millisecond timestamps
    surfaces in Spark 4 as TIMESTAMP_NTZ. The engine is UTC-internal (the
    session time zone is pinned to UTC in session.py), so the cast is
    value-preserving — it reinterprets the same wall-clock instant as UTC.
    Downstream consumers (watermarks, window(), tz conversion) require
    TimestampType; ``withWatermark`` raises
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ columns outright.
    """
    ntz_cols = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_sf_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load every testdata table under *sf_dir* as a dict of DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in names:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = load_table(spark, p)
    return out


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> list[str]:
    """SQL gateway: register every table under *sf_dir* as a temp view
    (nanos-normalized, same frames the DataFrame API sees), so users
    can run plain ``spark.sql(...)`` against the canonical tables —
    the SQL surface the reference never had. Views are lazy: no scan
    happens until a query references one, and Catalyst pushes
    filters/pruning through them exactly as for the DataFrame calls.
    Returns the registered view names."""
    registered = []
    for name, df in load_sf_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
        registered.append(name)
    return registered
