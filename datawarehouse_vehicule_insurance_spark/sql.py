"""SQL query surface — register zone tables as temp views and query with
``spark.sql`` (additive scope: the reference has no query language at
all, SURVEY.md §3; Catalyst produces identical plans for SQL and
DataFrame formulations, so this is a free second API)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datawarehouse_vehicule_insurance_spark.catalog import BRONZE_NAMES, Catalog
from datawarehouse_vehicule_insurance_spark.sources.io import read_parquet

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_zone_views(
    spark: SparkSession, catalog: Catalog, zone: str = "silver"
) -> list[str]:
    """Register every table of a medallion zone as ``{zone}_{name}``
    temp views; returns the view names."""
    names = []
    for bronze_name in BRONZE_NAMES.values():
        view = f"{zone}_{bronze_name}"
        read_parquet(spark, catalog.path(zone, bronze_name)).createOrReplaceTempView(view)
        names.append(view)
    return names


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register the driver testdata tables under their plain names
    (mirrors the driver's DuckDB oracle view setup)."""
    from datawarehouse_vehicule_insurance_spark.queries import _events

    for t in TESTDATA_TABLES:
        df = (
            _events(spark, sf_dir)
            if t == "events"
            else read_parquet(spark, f"{sf_dir}/{t}.parquet")
        )
        df.createOrReplaceTempView(t)
    return list(TESTDATA_TABLES)


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Thin alias for ``spark.sql`` kept for API symmetry."""
    return spark.sql(query)
