"""Catalog: load the warehouse tables and register them as views.

Replaces the reference's Glue database + six crawlers
(``/root/reference/src/cloudformation/data-lake-stack.yml:218-276``): Spark
infers parquet schemas once per session per file version (``_read``), and
``register_views`` is the crawler — it makes every table addressable by
name from ``spark.sql`` exactly like Athena's two-part names
(``earnings.py:74-75``).
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-generated star schema (TESTDATA.md).
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

# Dimension tables small enough to broadcast at any fact scale.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# session -> {realpath: (file version, inferred schema)}; one entry per
# path, so a rewritten table replaces its old schema instead of piling up.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _file_version(path: str) -> tuple:
    """``(realpath, st_ino, st_mtime_ns, st_size)`` of a parquet file; a
    table directory adds the same tuple for every file under it. Raises
    ``OSError`` when the path is missing."""
    real = os.path.realpath(path)
    st = os.stat(real)
    version = (real, st.st_ino, st.st_mtime_ns, st.st_size)
    if os.path.isdir(real):
        for root, dirs, files in os.walk(real):
            dirs.sort()
            for f in sorted(files):
                fst = os.stat(os.path.join(root, f))
                version += (f, fst.st_ino, fst.st_mtime_ns, fst.st_size)
    return version


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with schema inference once per session
    per file version (the Glue catalog's job: footers are opened when the
    table changes, not on every query). Inference is a Spark job; a read
    with the cached schema launches none. A missing path is read
    uncached, so it raises Spark's own ``AnalysisException``."""
    try:
        version = _file_version(path)
    except OSError:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(spark, {}).get(version[0])
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {})[version[0]] = (version, df.schema)
    return df


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Schema-on-read conformance (the silver layer's job in the reference's
    medallion design). The engine's contract is events.ts = long epoch
    nanoseconds; driver testdata has shipped it both as parquet
    TIMESTAMP(NANOS) (read as long via nanosAsLong) and as TIMESTAMP(MICROS)
    (read as timestamp). Normalize here so every consumer sees one type.
    Session timezone is UTC (session.py), so NTZ wall time == instant and
    the conversion is exact integer math (micros * 1000 fits int64)."""
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.TimestampNTZType):
            # NTZ wall-clock arithmetic — independent of the session
            # timezone (the driver may call queries() with its own
            # SparkSession; casting NTZ→TIMESTAMP would shift by its TZ).
            micros = F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            df = df.withColumn("ts", (micros * F.lit(1000)).cast("long"))
        elif isinstance(dt, T.TimestampType):
            # instant-typed: unix_micros is TZ-independent by definition
            df = df.withColumn(
                "ts", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
            )
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    since_ns: int | None = None,
) -> DataFrame:
    """Parquet scan (SURVEY §2.1 S3). Columnar, filter/column pushdown free.
    The schema is inferred once per session per file version (``_read``).

    ``since_ns`` is the incremental high-watermark (SURVEY §2.1 S11, Glue
    bookmarks) for ``events``, in epoch nanoseconds. It is applied BELOW the
    ts normalization, as a comparison between the raw column and a literal
    cast to the column's own physical type — the form parquet pushdown
    accepts. Filtering the normalized (derived) column instead would read
    every row-group: `unix_micros(ts)*1000 > X` is not invertible to the
    scanner. At 100 TB this is the difference between an incremental scan
    and a full one.
    """
    df = _read(spark, table_path(sf_dir, name))
    if since_ns is not None and name == "events":
        dt = df.schema["ts"].dataType
        us = int(since_ns) // 1000
        if isinstance(dt, T.TimestampNTZType):
            # NTZ literal built by wall-clock interval arithmetic —
            # session-TZ-independent, constant-folds, stays pushable.
            secs = f"{us // 10**6}.{us % 10**6:06d}"
            bound = F.expr(
                "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
                f" + make_dt_interval(0, 0, 0, CAST('{secs}' AS DECIMAL(20,6)))"
            )
        elif isinstance(dt, T.TimestampType):
            bound = F.timestamp_micros(F.lit(us))
        else:
            bound = F.lit(int(since_ns))
        df = df.filter(F.col("ts") > bound)
    return _normalize(df, name)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (SURVEY §2.1 S8)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            df = _normalize(_read(spark, path), name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
