"""Source readers (SURVEY.md §2.1).

The reference resolves a connection config (driver/host/port/db →
DSN, /root/reference/sdk/lib/db.php:106-134) plus a table name into a
streamed SELECT. Here a connection config resolves to a Spark reader;
formats cover the reference's SQL tables (JDBC) and text-file IO
(ReadWriter, /root/reference/sdk/src/IO/ReadWriter.php) plus the
columnar formats a Spark-native engine lives on.

Connection config shape::

    {"type": "parquet" | "csv" | "json" | "text" | "jdbc",
     "path": "/base/dir",            # file formats: dir containing <table>.parquet etc
     "url": "jdbc:...", "options": {...}}   # jdbc
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from php_etl_spark.materialize import materialize


def _table_path(conn: dict[str, Any], table: str) -> str:
    base = conn.get("path", ".")
    ext = conn.get("extension", conn.get("type", "parquet"))
    candidate = os.path.join(base, f"{table}.{ext}")
    if os.path.exists(candidate):
        return candidate
    # directory-style layout (what our sinks write)
    return os.path.join(base, table)


def read_source(
    spark: SparkSession,
    conn: dict[str, Any],
    table: str,
    query: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Scan a table through a connection config.

    ``query`` is the reference's pushed-down WHERE fragment
    (/root/reference/sdk/etl.php:141); ``columns`` its projection list
    (/root/reference/sdk/src/SQLTable.php:40-44). Both are applied as
    DataFrame ops so Catalyst pushes them into the scan.
    """
    kind = conn.get("type", "parquet")
    if conn.get("layout") == "versioned":
        # resolve the manifest pointer to the current snapshot —
        # readers on an old pointer keep a consistent view
        from php_etl_spark.sources import versioned as _v

        df = _v.read_current(spark, _table_path(conn, table))
    elif kind == "parquet":
        df = spark.read.parquet(_table_path(conn, table))
    elif kind == "csv":
        df = spark.read.options(header="true", inferSchema="true", **conn.get("options", {})).csv(
            _table_path(conn, table)
        )
    elif kind == "json":
        df = spark.read.options(**conn.get("options", {})).json(_table_path(conn, table))
    elif kind == "orc":
        df = spark.read.options(**conn.get("options", {})).orc(_table_path(conn, table))
    elif kind == "text":
        # line-oriented source (ReadWriter::getIterator parity,
        # /root/reference/sdk/src/IO/ReadWriter.php:90-102)
        df = spark.read.text(_table_path(conn, table))
    elif kind == "jdbc":
        reader = spark.read.format("jdbc").option("url", conn["url"]).option(
            "dbtable", table
        )
        for k, v in conn.get("options", {}).items():
            reader = reader.option(k, v)
        df = reader.load()
    else:
        raise ValueError(f"unknown connection type: {kind!r}")
    if query:
        df = df.filter(F.expr(query))
    if columns:
        df = df.select(*columns)
    return df


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
) -> tuple[DataFrame, DataFrame]:
    """Dirty-input CSV ingestion with corrupt-row quarantine — the
    scan-side twin of the pipeline's failure quarantine
    (/root/reference/sdk/migrate_assure_users.php:60-68 writes
    rejected rows to a side file; operators/validate.py does it for
    constraint failures). PERMISSIVE parsing routes every malformed
    line into ``_corrupt_record`` instead of failing the job or
    silently dropping data (DROPMALFORMED): returns (clean, corrupt)
    DataFrames splitting on that column. The corrupt frame carries the
    raw line for repair/replay — at scale it lands in its own sink and
    the clean 99.99% proceeds."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType

    struct = StructType.fromDDL(schema).add("_corrupt_record", StringType())
    raw = (
        spark.read.schema(struct)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark refuses a query over a raw CSV scan that references only
    # the internal corrupt column; pinning the parsed rows cuts that
    # lineage and parses each line once for both halves
    raw = materialize(raw)
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text source (the mainframe/COBOL-extract sibling of
    the reference's line-oriented text source, sdk/src/IO/
    ReadWriter.php:41-63): each column is (name, 1-based start, width,
    spark_type). One narrow projection over ``spark.read.text`` —
    substring + trim + cast are all codegen'd, the scan stays
    partition-parallel, and column pruning drops unreferenced slices
    like any other projection."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    return lines.select(
        *[
            F.trim(F.substring(F.col("value"), start, width))
            .cast(dtype)
            .alias(name)
            for name, start, width, dtype in colspecs
        ]
    )
