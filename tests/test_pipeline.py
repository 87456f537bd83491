"""End-to-end medallion pipeline test: seeded dirty CSVs → bronze →
silver → gold on a tmp catalog root, checking the per-layer contracts."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.catalog import BRONZE_NAMES, Catalog
from datawarehouse_vehicule_insurance_spark.operators.rules import SILVER_RULES
from datawarehouse_vehicule_insurance_spark.plans.pipeline import Pipeline
from datawarehouse_vehicule_insurance_spark.sources import io as IO

REF_DATE = dt.date(2025, 3, 28)


def _jobs_during(spark, group, fn):
    """Run ``fn`` under a Spark job group and return (result, number of
    jobs the group launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def lake_run(spark, raw_tables, tmp_path_factory):
    """One pipeline run over a fresh catalog; returns the catalog, the
    jobs ``run_silver`` launched, and the jobs of reading every silver
    table straight after it."""
    root = str(tmp_path_factory.mktemp("lake"))
    csv_root = f"{root}/raw"
    for name, df in raw_tables.items():
        # dates/booleans to CSV as strings, like the reference's generator
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{csv_root}/{name}.csv"
        )
    catalog = Catalog(root=f"{root}/lake")
    pipe = Pipeline(spark, catalog, ref_date=REF_DATE)
    assert all(v == "ok" for v in pipe.run_bronze(csv_root).values()), pipe.results
    silver, silver_jobs = _jobs_during(spark, "pipeline_silver", pipe.run_silver)
    assert all(v == "ok" for v in silver.values()), pipe.results
    _, read_jobs = _jobs_during(spark, "pipeline_silver_read", lambda: [
        IO.read_parquet(spark, catalog.path("silver", BRONZE_NAMES[t]))
        for t in SILVER_RULES
    ])
    assert all(v == "ok" for v in pipe.run_gold().values()), pipe.results
    return catalog, silver_jobs, read_jobs


@pytest.fixture(scope="module")
def lake(lake_run):
    return lake_run[0]


def test_silver_reads_writer_seeded_schemas(lake_run):
    """Each silver step reads the bronze table the same run just wrote,
    so its only job is the write: the writer seeded the read's schema.
    Silver's own outputs read back with no job at all."""
    _, silver_jobs, read_jobs = lake_run
    assert silver_jobs == len(SILVER_RULES)
    assert read_jobs == 0


def test_bronze_preserves_raw(spark, lake, raw_tables):
    bronze = IO.read_parquet(spark, lake.path("bronze", "erp_clients"))
    assert bronze.count() == raw_tables["clients"].count()


def test_silver_contracts(spark, lake):
    pol = IO.read_parquet(spark, lake.path("silver", "erp_policies"))
    # keys dropped, not nulled
    assert pol.filter(
        F.col("client_id").isNull() | F.col("vehicle_id").isNull()
    ).count() == 0
    # attributes nulled, rows retained: invalid premiums exist as NULL
    assert pol.filter(F.col("premium").isNull()).count() > 0
    assert pol.filter(F.col("premium") <= 0).count() == 0

    pay = IO.read_parquet(spark, lake.path("silver", "erp_payments"))
    # payments DROP invalid amounts (asymmetry with policies)
    assert pay.filter(F.col("amount").isNull()).count() == 0
    assert pay.filter(F.col("amount") <= 0).count() == 0

    clm = IO.read_parquet(spark, lake.path("silver", "erp_claims"))
    # future dates nulled against the pinned ref date, rows retained
    assert clm.filter(F.col("claim_date") > F.lit(REF_DATE)).count() == 0

    veh = IO.read_parquet(spark, lake.path("silver", "erp_vehicles"))
    assert veh.filter((F.col("year") < 1900) | (F.col("year") > 2025)).count() == 0
    # plate canonical form
    assert veh.filter(F.col("plate").rlike("[^A-Z0-9]")).count() == 0

    cli = IO.read_parquet(spark, lake.path("silver", "erp_clients"))
    # emails validated post-titlecase; phones stripped to [\d+-]
    assert cli.filter(
        F.col("email").isNotNull()
        & ~F.col("email").rlike(r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$")
    ).count() == 0
    assert cli.filter(F.col("phone").rlike(r"[^\d+\-]")).count() == 0


def test_gold_outputs(spark, lake, raw_tables):
    dim_c = IO.read_parquet(spark, lake.path("gold", "dim_clients"))
    assert dim_c.count() == raw_tables["clients"].count()
    assert set(dim_c.columns) == {
        "client_id", "name", "email", "phone", "address", "client_type",
        "risk_level", "marketing_opt_in",
    }

    fact = IO.read_parquet(spark, lake.path("gold", "fact_client_summary"))
    assert fact.count() == dim_c.select("client_id").distinct().count()
    # NULL-group discard: no NULL client_id row in the fact
    assert fact.filter(F.col("client_id").isNull()).count() == 0

    fact_pay = IO.read_parquet(spark, lake.path("gold", "fact_payments"))
    silver_pay = IO.read_parquet(spark, lake.path("silver", "erp_payments"))
    assert fact_pay.count() == silver_pay.count()


def test_per_table_error_isolation(spark, tmp_path):
    """One bad table must not abort the batch (reference continue-on-error,
    load_bronze.py:98-101)."""
    catalog = Catalog(root=str(tmp_path / "lake"))
    pipe = Pipeline(spark, catalog)
    results = pipe.run_bronze(str(tmp_path / "nonexistent_csvs"))
    assert len(results) == 6
    assert all(v.startswith("error") for v in results.values())


def test_json_roundtrip(spark, raw_tables, tmp_path):
    from datawarehouse_vehicule_insurance_spark.catalog import RAW_SCHEMAS
    from datawarehouse_vehicule_insurance_spark.sources import io as IO

    path = str(tmp_path / "clients_json")
    IO.write_json(raw_tables["clients"], path)
    back = IO.read_json(spark, path, RAW_SCHEMAS["clients"])
    assert back.count() == raw_tables["clients"].count()
    assert back.schema == raw_tables["clients"].schema
