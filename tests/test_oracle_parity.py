"""Local replica of the driver's correctness gate: run every ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB over the same parquet
tables, compare row count, column names, and an order-insensitive
value multiset."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in idx) for r in rows
    )


from datawarehouse_vehicule_insurance_spark import queries as _Q

# The full benched surface: the 50-slot driver-gated registry PLUS the
# rotated-out BENCH_EXTRA queries, so every benchmarked query keeps a
# live independent check even when it loses its driver gate slot.
_ALL_QUERIES = {**_Q.QUERIES, **_Q.BENCH_EXTRA}
_ALL_ORACLES = {**_Q.ORACLES, **_Q.ORACLES_EXTRA}
QUERY_NAMES = sorted(_ALL_QUERIES.keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = _ALL_QUERIES[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracle = _ALL_ORACLES.get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check (non-SQL-expressible)
        return
    rel = duck.sql(oracle)
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    got = _rows_to_multiset(spark_cols, spark_rows)
    want = _rows_to_multiset(duck_cols, duck_rows)
    mismatches = [
        (g, w) for g, w in zip(got, want) if g != w
    ]
    assert not mismatches, f"{name}: first value mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "client_id" in df.columns


def test_bpe_gate_fixture_merges(spark):
    """The bpe_token_count oracle replays a LITERAL merge list; this
    pins train_bpe on the fixture corpus to exactly that literal, so
    trainer drift breaks here (named test) before it breaks the gate."""
    from datawarehouse_vehicule_insurance_spark import queries as Q
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        train_bpe,
    )

    fixture = spark.createDataFrame(
        [(i, t) for i, t in enumerate(Q._BPE_FIXTURE)],
        "doc_id long, text string",
    )
    trained = [
        (r["left"], r["right"])
        for r in train_bpe(fixture, num_merges=16)
        .orderBy("rank").collect()
    ]
    assert trained == list(Q._BPE_FIXTURE_MERGES)


def test_registry_at_driver_cap(spark):
    """The grading driver gates the first 50 registry entries; the
    round-6 rotation must keep the registry exactly at the cap with a
    1:1 oracle mapping (every query hash-gated, none silently unchecked)."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) == 50
    assert set(oracles) == set(qs)


def test_gate_rotation_policy_covers_every_survey_id():
    """The rotation policy as code (queries.py SURVEY_COVERAGE): every
    SURVEY §2 ID keeps at least one covering query that is BOTH still
    registered (QUERIES ∪ BENCH_EXTRA) AND independently oracled
    (ORACLES ∪ ORACLES_EXTRA), or a named pytest file that still
    exists. Fails if a future rotation orphans an ID the way round 6
    orphaned §2.6 limit/top-k."""
    import os

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    for sid, covers in _Q.SURVEY_COVERAGE.items():
        assert covers, f"{sid}: empty coverage entry"
        query_covers = [c for c in covers if not c.startswith("pytest:")]
        for c in covers:
            if c.startswith("pytest:"):
                fname = c.split(":", 1)[1]
                assert os.path.exists(os.path.join(tests_dir, fname)), (
                    f"{sid}: coverage test file {fname} is gone"
                )
        if query_covers:
            live = [c for c in query_covers if c in _ALL_QUERIES]
            assert live, (
                f"{sid}: none of {query_covers} is registered in "
                "QUERIES or BENCH_EXTRA — a rotation orphaned this ID"
            )
            unoracled = [c for c in live if c not in _ALL_ORACLES]
            assert not unoracled, (
                f"{sid}: covering queries {unoracled} lost their "
                "oracle — move the SQL to ORACLES_EXTRA, don't drop it"
            )


def test_bench_extra_all_locally_oracled():
    """Every rotated-out (bench-only) query must keep a local DuckDB
    oracle in ORACLES_EXTRA — rotation may cost a query its driver gate
    slot, never its independent check."""
    assert set(_Q.ORACLES_EXTRA) == set(_Q.BENCH_EXTRA)
    assert not (set(_Q.ORACLES_EXTRA) & set(_Q.ORACLES))


def test_lm_sharing_bench_order_invariant():
    """q_lm_perplexity trains and PUBLISHES the full-corpus bigram LM in
    queries._AUDIT_LM_MODELS; q_dsir_log_weights and the score-only
    bench entries CONSUME it (training on miss, so standalone
    correctness never depends on order). The bench iterates
    {**QUERIES, **BENCH_EXTRA} in insertion order — if a rotation ever
    moves a consumer ahead of lm_perplexity, ~0.6 s of training cost
    silently shifts between bench entries and round-over-round
    comparisons misattribute it (r14 verdict #4). Pin the order."""
    order = list({**_Q.QUERIES, **_Q.BENCH_EXTRA})
    i_pub = order.index("lm_perplexity")
    for consumer in (
        "dsir_log_weights", "lm_score_only", "lm_score_only_pruned"
    ):
        if consumer in order:
            assert i_pub < order.index(consumer), (
                f"{consumer} precedes lm_perplexity in bench order — "
                "the shared-LM cost accounting depends on the trainer "
                "running first (see q_lm_perplexity)"
            )


def test_incremental_silver_leaves_no_checkpoint(spark, duck):
    """Two calls keep only their ``out/`` dirs, under the one process
    root; each stream checkpoint is gone and the rows still equal the
    batch silver oracle."""
    import os

    rel = duck.sql(_ALL_ORACLES["incremental_silver"])
    want = _rows_to_multiset(rel.columns, rel.fetchall())
    for _ in range(2):
        sdf = _Q.q_incremental_silver(spark, SF_DIR)
        assert _rows_to_multiset(sdf.columns, sdf.collect()) == want
    calls = os.listdir(_Q._INC_SILVER_ROOT)
    assert len(calls) >= 2
    for d in calls:
        assert os.listdir(os.path.join(_Q._INC_SILVER_ROOT, d)) == ["out"]
