"""Parquet table loaders for the driver star schema (TESTDATA.md).

Scans stay fully declarative so Catalyst pushes filters and prunes columns
into the parquet reader — at 100 TB the scan *is* the query cost, so nothing
here materializes or caches eagerly. Only the table file's schema is cached:
inferring it is a Spark job on every read, and a query reads the same table
file many times in one session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from drive_health_etl_spark.operators.fitcache import dataset_cached

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

# True dimension tables: always broadcastable regardless of fact-table scale.
DIM_TABLES = ("region", "nation", "supplier", "part")


# Timestamp columns per table. Driver generations have varied: round-1
# testdata was parquet TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong), round-2 is TIMESTAMP(MICROS) without
# isAdjustedToUTC (read as TIMESTAMP_NTZ). Normalize both to session-TZ
# TIMESTAMP (session is pinned UTC, so the NTZ->LTZ cast is value-preserving)
# because watermarks, unix_micros and streaming event time require TIMESTAMP.
# Integer `div` (not `/`) on the nanos path — int64 nanos exceed double's
# 53-bit mantissa.
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _file_stamp(path: str) -> str | None:
    """Identity of a table file: (inode, mtime_ns, size) of the path and, for
    a directory, of each data file or partition directory in it. An
    overwrite at the same path is a new stamp. None when the path is not a
    local file (Spark resolves it and infers its schema as before)."""
    try:
        st = os.stat(path)
        parts = [f"{st.st_ino}:{st.st_mtime_ns}:{st.st_size}"]
        if os.path.isdir(path):
            for entry in sorted(os.scandir(path), key=lambda e: e.name):
                if not entry.name.startswith(("_", ".")):
                    fs = entry.stat()
                    parts.append(f"{entry.name}:{fs.st_ino}:{fs.st_mtime_ns}:{fs.st_size}")
    except OSError:
        return None
    return "|".join(parts)


@dataset_cached
def _table_schema(spark: SparkSession, sf_dir: str, name: str, stamp: str) -> StructType:
    """The inferred schema of one table file, keyed on its `stamp` so a
    rewrite at the same path infers again (a stale schema would read the
    new file's missing columns as NULL)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may hand us a session without our defaults; these two are
    # required for correct reads of the testdata (nanos timestamps) and for
    # UTC-stable date semantics. Both are runtime-settable SQL confs.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # And ship the package to Python workers (pandas UDFs downstream) — a
    # no-op after the first call per app.
    from drive_health_etl_spark.session import ship_package

    ship_package(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Only the schema is cached, never the DataFrame: two loads of one table
    # must carry distinct attribute ids or a self-join drops its predicate.
    stamp = _file_stamp(path)
    reader = spark.read
    if stamp is not None:
        reader = reader.schema(_table_schema(spark, sf_dir, name, stamp))
    df = reader.parquet(path)
    for col in _TS_COLUMNS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the SQL API surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
