"""Scans and sinks (SURVEY.md §2.1 S1-S5).

The reference moves whole tables through boto3 one buffer at a time
(reference: scripts/bronze/load_bronze.py:45-71, load_silver.py:28-51);
here the s3a/file connectors give split reads and distributed writes.
All writes are ``mode=overwrite``, matching the reference's full-table
overwrite-per-run semantics; ``partition_by`` is the engine's scale
upgrade (date-partitioned facts → Catalyst partition pruning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Header CSV scan (reference: load_bronze.py:31-43). Schema should be
    declared (catalog registry) — inference is a second full scan at
    100 TB; ``schema=None`` falls back to inference for ad-hoc use.

    ``multiLine`` is on because the reference corpus carries quoted
    newlines inside address fields (generate_raw_data.py uses Faker
    multiline addresses) and pandas' parser accepts them. Trade-off: a
    multiLine CSV file is not line-splittable, so at scale ingest
    parallelism comes from file count, not intra-file splits — bronze
    should receive many moderate files, not one giant CSV."""
    reader = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


#: the confs that change what parquet schema inference returns
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)

#: path -> (file signature, inference conf values, inferred StructType);
#: one entry per path, replaced on a miss
_SCHEMAS: dict[str, tuple[tuple, tuple, T.StructType]] = {}


def file_signature(path: str) -> tuple | None:
    """``(relpath, st_mtime_ns, st_size)`` of ``path`` and of every file
    and directory under it, from a local stat walk; None when ``path``
    cannot be stat'ed (``s3a://``, ``hdfs://``, globs, missing)."""
    try:
        st = os.stat(path)
        sig = [(".", st.st_mtime_ns, st.st_size)]
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in dirs + sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                sig.append((os.path.relpath(full, path), st.st_mtime_ns,
                            st.st_size))
    except (OSError, ValueError):
        return None
    return tuple(sig)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (reference: load_silver.py:28-38, load_gold.py:27-35)
    that infers a table's schema once per :func:`file_signature` and
    ``_INFER_CONFS`` values. Inference is one Spark job (~100 ms warm on
    local[4]); a hit reads with the cached schema (~20 ms), which still
    lists the files but runs no job. A rewrite, append, removal or conf
    flip re-infers. Paths that cannot be stat'ed (object stores, HDFS,
    globs) are read plainly and never cached: they keep paying
    inference."""
    sig = file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFER_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (sig, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (sig, confs, df.schema)
    return df


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite-whole-table Parquet sink (reference: load_bronze.py:55-62,
    load_silver.py:41-51, load_gold.py:37-47)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan (additive beyond the reference's CSV/Parquet).
    Schema should be declared — JSON inference is a full extra scan."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Header CSV sink (reference: generate_raw_data.py:144-149)."""
    df.write.mode("overwrite").option("header", True).csv(path)
