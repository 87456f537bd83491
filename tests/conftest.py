"""Shared Spark fixture — one local session for the whole test run."""

from __future__ import annotations

import pytest

from datawarehouse_vehicule_insurance_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def raw_tables(spark):
    from datawarehouse_vehicule_insurance_spark.sources.generator import (
        generate_raw_tables,
    )

    tables = generate_raw_tables(spark, n_clients=300, seed=7)
    # cache: many tests reuse these small fixtures
    return {k: v.cache() for k, v in tables.items()}


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
