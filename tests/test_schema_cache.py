"""``sources.io.read_parquet`` infers a table's schema once per file
signature: a warm read of an unchanged table launches no Spark job, and
every change to the files or to the inference confs is seen."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datawarehouse_vehicule_insurance_spark import queries as Q
from datawarehouse_vehicule_insurance_spark.sources import io as IO


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


def test_warm_t_read_launches_no_job(spark, sf_dir):
    cold = Q._t(spark, sf_dir, "orders")
    warm, jobs = _jobs_during(
        spark, "schema_cache_warm_t", lambda: Q._t(spark, sf_dir, "orders")
    )
    assert jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_overwrite_with_new_schema_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert IO.read_parquet(spark, path).columns == ["id"]
    spark.range(4).selectExpr("cast(id AS string) AS name").write.mode(
        "overwrite"
    ).parquet(path)
    df = IO.read_parquet(spark, path)
    assert df.schema["name"].dataType == T.StringType()
    assert df.count() == 4


def test_appended_part_file_adds_rows(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert IO.read_parquet(spark, path).count() == 3
    spark.range(5).write.mode("append").parquet(path)
    assert IO.read_parquet(spark, path).count() == 8


def test_partitioned_warm_read_matches_cold(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(path)
    cold = IO.read_parquet(spark, path)
    warm, jobs = _jobs_during(
        spark, "schema_cache_partitioned", lambda: IO.read_parquet(spark, path)
    )
    assert jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_nanos_conf_flip_reinfers_events_ts(spark, tmp_path):
    """A NANOS ``ts`` reads as a long under ``nanosAsLong`` and is
    illegal without it, so a read after the flip must re-infer."""
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                       pa.timestamp("ns", tz="UTC")),
    }), str(tmp_path / "events.parquet"))
    path = str(tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        assert IO.read_parquet(spark, path).schema["ts"].dataType == T.LongType()
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            IO.read_parquet(spark, path)
        events = Q._events(spark, str(tmp_path))  # sets the conf back on
        assert events.schema["ts"].dataType == T.TimestampType()
        assert events.count() == 2
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_one_cache_entry_per_path_across_rewrites(spark, tmp_path):
    """Five in-place rewrites of a file inside one table directory: each
    read and layout probe sees the new file, and each module cache grows
    by exactly one entry."""
    path = str(tmp_path / "t.parquet")
    (tmp_path / "t.parquet").mkdir()
    schemas, layouts = len(IO._SCHEMAS), len(Q._SCAN_LAYOUT)
    for i in range(5):
        pq.write_table(pa.table({f"c{i}": list(range(i + 1))}),
                       f"{path}/part-0.parquet")
        assert IO.read_parquet(spark, path).columns == [f"c{i}"]
        assert Q._scan_layout(path) == (1, i + 1)
    assert len(IO._SCHEMAS) == schemas + 1
    assert len(Q._SCAN_LAYOUT) == layouts + 1


def test_glob_path_reads_uncached(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    spark.range(7).repartition(2).write.parquet(path)
    glob = f"{path}/*.parquet"
    assert IO.file_signature(glob) is None
    assert IO.read_parquet(spark, glob).count() == 7
    assert Q._scan_layout(glob)[1] == 0
    assert glob not in IO._SCHEMAS and glob not in Q._SCAN_LAYOUT
