"""Scale-utility tests: salted aggregation equivalence, partitioned
writes + partition pruning, shuffle-budget probes on headline plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.operators import scale as SC


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plain = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum("o_totalprice").alias("total_spend"),
            F.count("o_orderkey").alias("n_orders"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    salted = SC.salted_agg(
        orders,
        "o_custkey",
        {
            "total_spend": ("sum", "o_totalprice"),
            "n_orders": ("count", "o_orderkey"),
            "last_order": ("max", "o_orderdate"),
        },
        salt_buckets=8,
    )
    a = {r["o_custkey"]: r.asDict() for r in plain.collect()}
    b = {r["o_custkey"]: r.asDict() for r in salted.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["n_orders"] == b[k]["n_orders"]
        assert a[k]["last_order"] == b[k]["last_order"]
        assert a[k]["total_spend"] == pytest.approx(b[k]["total_spend"])


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="not decomposable"):
        SC.salted_agg(orders, "o_custkey", {"bad": ("avg", "o_totalprice")})


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "li_part")
    SC.with_date_partitions(li, "l_shipdate").write.mode(
        "overwrite"
    ).partitionBy("year", "month").parquet(out)

    back = spark.read.parquet(out).filter(
        (F.col("year") == 1996) & (F.col("month") == 3)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filters must reach the scan as PartitionFilters, and the
    # result must equal the unpartitioned filter
    assert "PartitionFilters: [" in plan and "year" in plan.split(
        "PartitionFilters"
    )[1][:200]
    expect = li.filter(
        (F.year("l_shipdate") == 1996) & (F.month("l_shipdate") == 3)
    ).count()
    assert back.count() == expect


def test_headline_plan_shuffle_budget(spark, sf_dir):
    """client_summary: 4 aggregation/join shuffles max (3 groupBys +
    distinct), everything else broadcast or reused — a regression guard
    against accidentally adding exchanges."""
    from datawarehouse_vehicule_insurance_spark.queries import q_client_summary

    stats = SC.explain_shuffles(q_client_summary(spark, sf_dir))
    # static plan (pre-AQE): bounded number of exchanges
    assert stats["exchanges"] <= 8, stats
    assert stats["broadcast_hash_joins"] >= 1, stats


def test_cli_runs_end_to_end(spark, raw_tables, tmp_path):
    csv_root = str(tmp_path / "raw")
    for name, df in raw_tables.items():
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{csv_root}/{name}.csv"
        )
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    rc = main([
        "all", "--root", str(tmp_path / "lake"), "--csv-root", csv_root,
        "--ref-date", "2025-03-28",
    ])
    assert rc == 0
    fact = spark.read.parquet(
        str(tmp_path / "lake" / "gold" / "fact_client_summary.parquet")
    )
    assert fact.count() == raw_tables["clients"].count()


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join WITHOUT an Exchange —
    the write-time partitioning is reused by the join."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    SC.write_bucketed(
        orders, "b_orders", "o_orderkey", 8, str(tmp_path / "b_orders")
    )
    SC.write_bucketed(
        lineitem, "b_lineitem", "l_orderkey", 8, str(tmp_path / "b_lineitem")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        stats = SC.explain_shuffles(joined)
        assert stats["exchanges"] == 0, stats
        assert stats["sort_merge_joins"] == 1, stats
        # and it computes the right thing
        assert joined.count() == lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_grouped_linear_fit_pandas_equals_native(spark, sf_dir):
    """applyInPandas per-group OLS == native regr_slope/intercept."""
    import pytest as _pytest

    from datawarehouse_vehicule_insurance_spark.operators import mlprep as ML

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pandas_fit = {
        r["c_mktsegment"]: r.asDict()
        for r in ML.grouped_linear_fit(
            customer, "c_mktsegment", "c_custkey", "c_acctbal"
        ).collect()
    }
    native_fit = {
        r["c_mktsegment"]: r.asDict()
        for r in ML.native_linear_fit(
            customer, "c_mktsegment", "c_custkey", "c_acctbal"
        ).collect()
    }
    assert set(pandas_fit) == set(native_fit)
    for seg in native_fit:
        assert pandas_fit[seg]["n"] == native_fit[seg]["n"]
        assert pandas_fit[seg]["slope"] == _pytest.approx(
            native_fit[seg]["slope"], rel=1e-6
        )
        assert pandas_fit[seg]["intercept"] == _pytest.approx(
            native_fit[seg]["intercept"], rel=1e-6
        )


def test_filters_push_down_to_scan(spark, sf_dir):
    """Predicates and projections must reach the parquet scan."""
    from datawarehouse_vehicule_insurance_spark.queries import (
        q_filter_positive_amounts,
        q_silver_clean_normalize,
    )

    plan = (
        q_filter_positive_amounts(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan

    # column pruning: the cleaning query reads only the 4 needed columns
    plan2 = (
        q_silver_clean_normalize(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = plan2.split("ReadSchema: ")[1].split("\n")[0]
    assert "c_custkey" in read_schema and "c_nationkey" not in read_schema


def test_whole_stage_codegen_covers_cleaning(spark, sf_dir):
    """The fused silver rule projection stays inside one codegen span."""
    from datawarehouse_vehicule_insurance_spark.queries import (
        q_silver_clean_normalize,
    )

    plan = (
        q_silver_clean_normalize(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the
    # compact plan string
    assert "*(1)" in plan
    assert "Exchange" not in plan  # single narrow stage


def test_percentile_prices_build_launches_no_extra_jobs(spark, sf_dir):
    """Building ``percentile_prices`` is plan construction only: it may
    launch no more jobs than the parquet schema read of ``lineitem``
    itself. Aggregation work belongs to the sink's action."""
    from datawarehouse_vehicule_insurance_spark.queries import (
        q_percentile_prices,
    )

    _, read_jobs = _jobs_during(
        spark,
        "pct_read_probe",
        lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    _, build_jobs = _jobs_during(
        spark, "pct_build_probe", lambda: q_percentile_prices(spark, sf_dir)
    )
    assert build_jobs <= read_jobs, (build_jobs, read_jobs)


def test_stratified_sample_deterministic_and_proportional(spark, sf_dir):
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = {"en": 0.2, "es": 1.0, "de": 0.0}
    fractions = {k: fr.get(k, 0.5) for k in
                 [r[0] for r in docs.select("lang").distinct().collect()]}
    s1 = MP.stratified_sample(docs, "lang", fractions).cache()
    s2 = MP.stratified_sample(docs, "lang", fractions)
    # seeded determinism: identical row sets
    assert s1.count() == s2.count()
    assert s1.exceptAll(s2).count() == 0
    got = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    tot = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.get("de", 0) == 0
    if "es" in tot:
        assert got["es"] == tot["es"]  # fraction 1.0 keeps everything
    if "en" in tot and tot["en"] > 50:
        assert 0.05 < got.get("en", 0) / tot["en"] < 0.45


def test_export_training_shards(spark, sf_dir, tmp_path):
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "shards")
    MP.export_training_shards(docs, dst, n_shards=8, order_col="n_chars")
    import glob
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == 8
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0
    # shards are balanced within 3x of each other (hash assignment)
    sizes = sorted(
        spark.read.parquet(f).count() for f in files
    )
    assert sizes[0] > 0 and sizes[-1] / max(sizes[0], 1) < 3


def test_profile_table_single_pass(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = {r["column"]: r.asDict()
            for r in SC.profile_table(docs).collect()}
    assert set(prof) == set(docs.columns)
    n = docs.count()
    for c in docs.columns:
        assert prof[c]["n_rows"] == n
    assert prof["doc_id"]["n_nulls"] == docs.filter(
        F.col("doc_id").isNull()).count()
    exact = docs.select("lang").distinct().count()
    assert abs(prof["lang"]["approx_distinct"] - exact) <= max(1, exact * 0.1)
    assert prof["n_chars"]["min"] is not None
    assert prof["text"]["min"] is None  # strings not min/max'd


def test_embedding_neardup_builds_without_a_job(spark, sf_dir):
    """Round-3 VERDICT #3: cosine_neardup_pairs used to run an eager
    ``df.count()`` to size its block grid — one extra full scan per
    call. The gate query now feeds ``n_rows`` from parquet footer
    metadata, so BUILDING the plan must launch zero Spark jobs."""
    from datawarehouse_vehicule_insurance_spark import queries as Q

    sc = spark.sparkContext

    def jobs_during(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # baseline: jobs a bare parquet read costs (schema inference may
    # launch one); the full query build must add NOTHING on top
    _, base_jobs = jobs_during(
        "neardup_probe_read",
        lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
    )
    df, build_jobs = jobs_during(
        "neardup_probe_build",
        lambda: Q.QUERIES["embedding_neardup"](spark, sf_dir),
    )
    assert build_jobs <= base_jobs, (base_jobs, build_jobs)
    assert df.count() > 0  # and the plan still executes


def test_approx_heavy_hitters_matches_exact_topk(spark, sf_dir):
    """With adequate capacity the MG candidates contain every true heavy
    hitter, and the second pass makes the top-k counts exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tokens = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("token")
    )
    got = [(r["item"], r["freq"]) for r in
           SC.approx_heavy_hitters(tokens, "token", k=10,
                                   capacity=2048).collect()]
    want = [(r["token"], r["freq"]) for r in
            tokens.groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token").asc())
            .limit(10).collect()]
    assert got == want


def test_approx_heavy_hitters_small_capacity_finds_hot_item(spark):
    """A planted mega-key must survive even a tiny summary (freq > n/cap
    guarantee)."""
    import pandas as pd

    pdf = pd.DataFrame({"v": [f"rare_{i}" for i in range(5000)] + ["hot"] * 2000})
    df = spark.createDataFrame(pdf).repartition(8)
    out = SC.approx_heavy_hitters(df, "v", k=1, capacity=16).collect()
    assert out[0]["item"] == "hot" and out[0]["freq"] == 2000


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, sf_dir, how):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    got = SC.salted_join(orders, customer, "o_custkey", how=how)
    want = orders.join(customer, "o_custkey", how)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_approx_heavy_hitters_survives_near_ties(spark):
    """Adversarial near-tie case: many items whose counts cluster just
    below the top-k — the upper-bound candidate cut must keep every
    possible true top-k item (a fixed limit(4k) cut can drop one)."""
    from datawarehouse_vehicule_insurance_spark.operators.scale import (
        approx_heavy_hitters,
    )

    rows = []
    # 3 hot items at 60 and a 40-way near-tie band at 50/49
    for i in range(3):
        rows += [(f"hot_{i}",)] * 60
    for i in range(40):
        rows += [(f"tie_{i:02d}",)] * (50 - (i % 2))
    # noise tail to force MG pruning at tiny capacity
    for i in range(300):
        rows += [(f"noise_{i:03d}",)] * 2
    df = spark.createDataFrame(rows, "token string").repartition(8)

    got = [
        (r["item"], r["freq"])
        for r in approx_heavy_hitters(df, "token", k=5, capacity=16)
        .collect()
    ]
    exact = [
        (r["token"], r["cnt"])
        for r in df.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(5)
        .collect()
    ]
    assert got == exact


def test_grouped_linear_fit_preserves_numeric_group_dtype(spark):
    """A numeric group column keeps its type in the applyInPandas output
    (was hardcoded to string)."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        grouped_linear_fit,
        native_linear_fit,
    )

    df = spark.createDataFrame(
        [(g, float(x), 2.0 * x + g) for g in (1, 2) for x in range(5)],
        "grp int, x double, y double",
    )
    pandas_fit = grouped_linear_fit(df, "grp", "x", "y")
    native = native_linear_fit(df, "grp", "x", "y")
    assert pandas_fit.schema["grp"].dataType == df.schema["grp"].dataType
    got = {r["grp"]: r for r in pandas_fit.collect()}
    want = {r["grp"]: r for r in native.collect()}
    assert set(got) == {1, 2}
    for g in got:
        assert abs(got[g]["slope"] - want[g]["slope"]) < 1e-9
        assert abs(got[g]["intercept"] - want[g]["intercept"]) < 1e-9


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files have tight min/max spans on BOTH clustered
    columns (data skipping works for either predicate), unlike a
    single-column sort where the second column spans its full range in
    every file."""
    import glob

    from datawarehouse_vehicule_insurance_spark.operators.scale import (
        write_zordered,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath = str(tmp_path / "zordered")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=8)

    lpath = str(tmp_path / "linear")
    (orders.repartitionByRange(8, "o_custkey")
     .sortWithinPartitions("o_custkey")
     .write.mode("overwrite").parquet(lpath))

    def mean_span_fraction(path, col):
        spans, total = [], None
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            row = (spark.read.parquet(f)
                   .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
                   .collect()[0])
            spans.append(row["hi"] - row["lo"])
        full = (orders.agg((F.max(col) - F.min(col)).alias("s"))
                .collect()[0]["s"])
        return sum(spans) / len(spans) / full

    # same row count round-trips
    assert spark.read.parquet(zpath).count() == orders.count()
    # z-order: both dims clustered (mean per-file span well below full)
    assert mean_span_fraction(zpath, "o_custkey") < 0.6
    assert mean_span_fraction(zpath, "o_totalprice") < 0.6
    # linear sort: first dim tightly clustered, second dim NOT
    assert mean_span_fraction(lpath, "o_custkey") < 0.2
    assert mean_span_fraction(lpath, "o_totalprice") > 0.9


def test_deweaked_queries_plan_shapes(spark, sf_dir):
    """Plan-probe guards for the two round-1 scale-killers:

    - percentile_prices must NOT buffer raw group values on one
      reducer: ONE ``partial_percentile`` (a value→count map per group,
      both fractions in one call) runs map-side, below the exchange;
    - embedding_neardup must be the distributed block-pair
      applyInPandas shape — no broadcast of the full embedding matrix,
      no driver-side materialization in the plan.
    """
    from datawarehouse_vehicule_insurance_spark import queries as Q

    pct = Q.QUERIES["percentile_prices"](spark, sf_dir)
    pct_plan = pct._jdf.queryExecution().executedPlan().toString()
    assert pct_plan.count("partial_percentile(") == 1
    assert pct_plan.index("partial_percentile(") > pct_plan.index(
        "Exchange hashpartitioning"
    )

    emb = Q.QUERIES["embedding_neardup"](spark, sf_dir)
    emb_plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in emb_plan
    assert "BroadcastExchange" not in emb_plan


def test_pack_sequences_invariants(spark, sf_dir):
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP
    from datawarehouse_vehicule_insurance_spark.operators import (
        text_analysis as TA,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", TA.token_count(F.col("text")).alias("n_tokens")
    )
    max_len = 64
    packed = MP.pack_sequences(
        docs, token_col="n_tokens", max_len=max_len, num_shards=4
    ).cache()

    # every document packed exactly once
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()

    # no non-overflow sequence exceeds the budget; overflow iff too long
    seqs = packed.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("tot"),
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.col("overflow").cast("int")).alias("has_ovf"),
    ).collect()
    for s in seqs:
        if s["has_ovf"]:
            assert s["n_docs"] == 1 and s["tot"] > max_len
        else:
            assert s["tot"] <= max_len
    ovf_docs = packed.filter("overflow").select("n_tokens").collect()
    assert all(r["n_tokens"] > max_len for r in ovf_docs)
    n_ovf_expected = docs.filter(F.col("n_tokens") > max_len).count()
    assert len(ovf_docs) == n_ovf_expected

    # deterministic under re-run and input repartitioning
    again = MP.pack_sequences(
        docs.repartition(13), token_col="n_tokens",
        max_len=max_len, num_shards=4,
    )
    assert packed.exceptAll(again).count() == 0

    # packing density: within 1.5x of the bin-count lower bound
    # (+ slack for per-shard underfull tails)
    total = docs.filter(F.col("n_tokens") <= max_len).select(
        F.sum("n_tokens")
    ).collect()[0][0]
    n_seqs = sum(1 for s in seqs if not s["has_ovf"])
    lower = -(-total // max_len)
    assert n_seqs <= 1.5 * lower + 4
    packed.unpersist()


def test_temperature_mix_flattens_skew(spark, sf_dir):
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nat = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    # natural proportions are skewed; alpha<1 must flatten them
    fr = MP.temperature_fractions(docs, "lang", alpha=0.3)
    assert all(0 < f <= 1.0 for f in fr.values())
    # rarer domains get strictly larger fractions
    ordered = sorted(nat, key=nat.get)
    fs = [fr[d] for d in ordered]
    assert fs == sorted(fs, reverse=True)

    mixed = MP.temperature_mix(docs, "lang", alpha=0.3, seed=7).cache()
    got = {r[0]: r[1] for r in mixed.groupBy("lang").count().collect()}
    # mixing reduces the max/min imbalance vs natural
    def imb(d):
        vals = [v for v in d.values() if v > 0]
        return max(vals) / min(vals)
    assert imb(got) < imb(nat)
    # deterministic
    again = MP.temperature_mix(docs, "lang", alpha=0.3, seed=7)
    assert mixed.exceptAll(again).count() == 0
    mixed.unpersist()

    # alpha=1, no target: expected fraction 1.0 for every domain
    fr1 = MP.temperature_fractions(docs, "lang", alpha=1.0)
    assert all(abs(f - 1.0) < 1e-12 for f in fr1.values())


def test_quality_classifier_learns_and_scores(spark, sf_dir):
    """train_quality_classifier learns a token-separable label on a
    train split and separates a held-out split (the fasttext-style
    curation classifier); score_quality appends a clean probability
    column without leaking ML intermediates."""
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # label: does the document mention 'spark'? token-level signal a
    # bag-of-words model must be able to learn near-perfectly
    labeled = docs.withColumn(
        "label",
        F.array_contains(
            F.split(F.lower(F.col("text")), r"\s+"), "spark"
        ).cast("double"),
    )
    train = labeled.filter(F.col("doc_id") % 5 != 0)
    test = labeled.filter(F.col("doc_id") % 5 == 0)
    model = MP.train_quality_classifier(train, n_features=1024)

    scored = MP.score_quality(model, test)
    assert "quality_score" in scored.columns
    for leaked in ("__toks", "__features", "probability", "prediction"):
        assert leaked not in scored.columns
    rows = scored.select("label", "quality_score").collect()
    pos = [r["quality_score"] for r in rows if r["label"] == 1.0]
    neg = [r["quality_score"] for r in rows if r["label"] == 0.0]
    assert pos and neg
    # held-out separation: mean positive score far above mean negative
    assert sum(pos) / len(pos) > 0.8
    assert sum(neg) / len(neg) < 0.2
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)


def test_classifier_scores_after_observation_use(spark):
    """Regression (round-3 VERDICT #1): once any ``Observation`` is used
    on a session, the session's ``ObservationManager`` lazy val is
    initialized and is NOT serializable; a fitted LR model that still
    carries its training summary (→ SparkSession) then kills
    ``model.transform`` with ``NotSerializableException`` on the predict
    UDF closure. train_quality_classifier strips the summary, so
    pipeline-observe-then-train-then-score must work in ONE session —
    this test replicates the exact poison (Observation use) inline, so
    it pins the fix regardless of test ordering."""
    from pyspark.sql.observation import Observation

    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    # poison: initialize the session's ObservationManager (what the
    # medallion Pipeline's silver row counters do)
    obs = Observation("obsmanager_poison_probe")
    spark.range(10).observe(
        obs, F.count(F.lit(1)).alias("rows")
    ).collect()
    assert obs.get["rows"] == 10

    labeled = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("good clean prose text"))
        .otherwise(F.lit("spam junk noise garbage"))
        .alias("text"),
        (F.col("id") % 2 == 0).cast("double").alias("label"),
    )
    model = MP.train_quality_classifier(labeled, n_features=64, max_iter=10)
    scored = MP.score_quality(model, labeled)
    rows = scored.select("label", "quality_score").collect()
    assert len(rows) == 200
    good = [r["quality_score"] for r in rows if r["label"] == 1.0]
    bad = [r["quality_score"] for r in rows if r["label"] == 0.0]
    assert min(good) > max(bad)


def test_quality_classifier_deterministic(spark, sf_dir):
    """Determinism pin (round-3 VERDICT #8): same input, same config →
    bit-identical coefficients and intercept across two fits. The
    hashing trick is stateless and L-BFGS over treeAggregate is
    deterministic for a fixed partitioning, so retrains must reproduce
    exactly — a silent nondeterminism here would make corpus curation
    unreproducible."""
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.withColumn(
        "label",
        F.array_contains(
            F.split(F.lower(F.col("text")), r"\s+"), "spark"
        ).cast("double"),
    ).repartition(4, "doc_id")

    def fit_vec():
        m = MP.train_quality_classifier(labeled, n_features=256, max_iter=20)
        lr = m.stages[-1]
        return list(lr.coefficients.toArray()) + [lr.intercept]

    v1, v2 = fit_vec(), fit_vec()
    assert v1 == v2


def test_score_quality_shields_reserved_columns(spark):
    """ADVICE (round 3): input columns named like the ML intermediates
    (``probability``, ``prediction``, ``__toks``, …) must survive
    scoring untouched instead of colliding with / being dropped by the
    model's transform."""
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    labeled = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("good clean prose text"))
        .otherwise(F.lit("spam junk noise garbage"))
        .alias("text"),
        (F.col("id") % 2 == 0).cast("double").alias("label"),
        F.lit(0.42).alias("probability"),
        F.lit("user-owned").alias("prediction"),
        F.lit(7).alias("__toks"),
    )
    train = labeled.select("doc_id", "text", "label")
    model = MP.train_quality_classifier(train, n_features=64, max_iter=5)
    scored = MP.score_quality(model, labeled)
    assert "quality_score" in scored.columns
    row = scored.filter(F.col("doc_id") == 0).collect()[0]
    assert row["probability"] == pytest.approx(0.42)
    assert row["prediction"] == "user-owned"
    assert row["__toks"] == 7
    assert scored.columns.count("probability") == 1


def test_quality_classifier_save_load_roundtrip(spark, tmp_path):
    """A persisted classifier reloads and scores identically — curation
    jobs load the trained model per batch instead of retraining, so the
    save/load path must preserve scoring bit-for-bit (summaries are not
    persisted, which also keeps the reloaded model free of the
    session-capturing training summary)."""
    from pyspark.ml import PipelineModel

    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    labeled = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("good clean prose text"))
        .otherwise(F.lit("spam junk noise garbage"))
        .alias("text"),
        (F.col("id") % 2 == 0).cast("double").alias("label"),
    )
    model = MP.train_quality_classifier(labeled, n_features=64, max_iter=10)
    path = str(tmp_path / "quality_model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)

    want = {r["doc_id"]: r["quality_score"]
            for r in MP.score_quality(model, labeled).collect()}
    got = {r["doc_id"]: r["quality_score"]
           for r in MP.score_quality(loaded, labeled).collect()}
    assert got == want


def test_round2_rewrite_plan_shapes(spark, sf_dir, monkeypatch):
    """Plan-probe guards for the late-round-2 rewrites:

    - contamination_check builds grams per row — NO window sort
      (the old posexplode+lead pipeline had one per side);
    - the Jaccard verify stage adds no window and no pandas stage of
      its own (hashed shingle arrays of candidate docs, JVM array ops),
      and restricts the docs side with left-semi joins. Since r14 the
      shingle build sits behind a ``checkpoint_cut`` (it feeds both
      pair-join sides; without the cut the corpus semi-join executed
      twice), which truncates the visible lineage at Scan ExistingRDD —
      so the LeftSemi probe runs with the cut disabled, on the pre-cut
      subtree the cut materializes.
    """
    from datawarehouse_vehicule_insurance_spark import queries as Q
    from datawarehouse_vehicule_insurance_spark.operators import dedup as D

    con = Q.QUERIES["contamination_check"](spark, sf_dir)
    con_plan = con._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in con_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3)], "id_a long, id_b long"
    )
    ver = D.ngram_jaccard(pairs, docs)
    ver_plan = ver._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ver_plan
    assert "InPandas" not in ver_plan

    monkeypatch.setattr(D, "checkpoint_cut", lambda df: df)
    ver_nocut = D.ngram_jaccard(pairs, docs)
    nocut_plan = ver_nocut._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in nocut_plan
    assert "InPandas" not in nocut_plan
    assert "LeftSemi" in nocut_plan
    # r15: a small candidate universe must be broadcast into the
    # corpus semi-join at PLANNING time (counted via its cut) — the
    # planner would otherwise sort-merge on unknown stats and shuffle
    # the whole corpus by id before AQE's too-late runtime conversion
    semi_lines = [l for l in nocut_plan.splitlines() if "LeftSemi" in l]
    assert semi_lines and all(
        "BroadcastHashJoin" in l for l in semi_lines
    ), semi_lines


def test_cli_curate(spark, tmp_path, capsys):
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    out_dir = str(tmp_path / "curated")
    rc = main([
        "curate",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir,
        "--min-tokens", "5",
    ])
    assert rc == 0
    import json as _json

    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    curated = spark.read.parquet(out_dir)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert curated.columns == docs.columns
    assert 0 < curated.count() == stats["kept"] <= stats["input"] == docs.count()

    # incremental invariant: re-ingesting the same batch against the
    # just-curated corpus keeps nothing (every survivor is an exact
    # clone of a corpus doc)
    out2 = str(tmp_path / "curated_incr")
    rc2 = main([
        "curate",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out2,
        "--min-tokens", "5",
        "--existing-corpus", out_dir,
    ])
    assert rc2 == 0
    stats2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["kept"] == 0


def test_score_quality_rejects_reserved_score_col(spark):
    """ADVICE (round 4): score_col equal to a reserved ML intermediate
    name would be dropped/clobbered by the shield-restore dance — it
    must raise up front."""
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    labeled = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.lit("some text").alias("text"),
        (F.col("id") % 2 == 0).cast("double").alias("label"),
    )
    model = MP.train_quality_classifier(labeled, n_features=64, max_iter=2)
    for bad in ("probability", "prediction", "__toks", "__features",
                "rawPrediction"):
        with pytest.raises(ValueError, match="reserved"):
            MP.score_quality(model, labeled, score_col=bad)


def test_cap_per_key_equals_single_window(spark):
    """The salted two-phase cap returns EXACTLY the single-window
    top-N per key, for both retention orders, on skewed data."""
    from pyspark.sql import Window

    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        cap_per_key,
    )

    rows = [(i, "hot.example" if i % 10 else f"site{i}.example",
             float((i * 37) % 101)) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, q double")

    for order_by in (None, F.col("q")):
        got = sorted(
            r["doc_id"]
            for r in cap_per_key(
                df, "domain", 7, order_by=order_by, salt=4
            ).collect()
        )
        ord_cols = (
            [order_by.desc(), F.col("doc_id").asc()]
            if order_by is not None
            else [F.xxhash64(F.col("doc_id")).asc(), F.col("doc_id").asc()]
        )
        w = Window.partitionBy("domain").orderBy(*ord_cols)
        want = sorted(
            r["doc_id"]
            for r in df.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= 7).collect()
        )
        assert got == want
    # schema untouched, cap respected, deterministic across reruns
    out = cap_per_key(df, "domain", 7)
    assert out.columns == df.columns
    per = out.groupBy("domain").count().agg(F.max("count")).first()[0]
    assert per <= 7
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, cap_per_key(df, "domain", 7).collect())
    )


def test_cap_per_key_stored_counts_budget(spark):
    """cap_per_key(stored_counts=...): each key's budget becomes cap
    minus its stored count (the batch twin of the loop's index-fed
    admission quota) — NULL keys charge the NULL slice, full keys keep
    nothing, a mismatched stamp raises, and results equal the naive
    budgeted window."""
    from pyspark.sql import Window

    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        source_count_table,
    )
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        cap_per_key,
    )

    rows = (
        [(i, "hot", f"t{i}") for i in range(1, 9)]
        + [(i, "cold", f"t{i}") for i in range(20, 23)]
        + [(i, None, f"t{i}") for i in range(30, 33)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, t string")
    stored_rows = (
        [(100 + i, f"s{i}", "hot") for i in range(2)]       # hot: 2
        + [(110 + i, f"c{i}", "full") for i in range(5)]    # full: 5
        + [(120, "n0", None)]                               # NULL: 1
    )
    counts = source_count_table(spark.createDataFrame(
        stored_rows, "doc_id long, text string, source string"
    ))

    got = sorted(
        r["doc_id"]
        for r in cap_per_key(
            df, "source", 3, order_by=None, salt=4, stored_counts=counts
        ).collect()
    )
    # naive budgeted window, same retention order
    ord_cols = [F.xxhash64(F.col("doc_id")).asc(), F.col("doc_id").asc()]
    w = Window.partitionBy("source").orderBy(*ord_cols)
    stored = counts.select(
        F.col("source").alias("__s"), F.col("n_docs").alias("__n")
    )
    want = sorted(
        r["doc_id"]
        for r in df.withColumn("__r", F.row_number().over(w))
        .join(stored, F.col("source").eqNullSafe(F.col("__s")), "left")
        .filter(F.col("__r") <= F.lit(3) - F.coalesce(F.col("__n"), F.lit(0)))
        .collect()
    )
    assert got == want
    # budget arithmetic: hot keeps 1 (3-2), cold keeps 3 (no stored),
    # NULL keeps 2 (3-1)
    out = cap_per_key(df, "source", 3, stored_counts=counts)
    per = {
        r["source"]: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    assert per == {"hot": 1, "cold": 3, None: 2}

    # a key already AT quota admits nothing
    df_full = spark.createDataFrame(
        [(1, "full", "x")], "doc_id long, source string, t string"
    )
    assert cap_per_key(df_full, "source", 3, stored_counts=counts) \
        .count() == 0

    # stamp mismatch raises
    bad = source_count_table(
        spark.createDataFrame(
            [(1, "t", "s")], "doc_id long, text string, site string"
        ),
        source_col="site",
    ).withColumnRenamed("site", "source")
    with pytest.raises(ValueError, match="parameter mismatch"):
        cap_per_key(df, "source", 3, stored_counts=bad)


def test_curate_corpus_existing_source_counts(spark):
    """curate_corpus(existing_source_counts=...) charges the released
    corpus's stored counts against the source cap; without a cap the
    artifact raises (nothing would probe it)."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )
    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        source_count_table,
    )

    # alphabetic-only words (the default alpha-ratio gate must pass),
    # all distinct within a doc and across docs
    mk = lambda i, tag: " ".join(
        f"{tag}{chr(97 + i % 26)}{chr(97 + j % 26)}{chr(97 + j // 26)}"
        for j in range(30)
    )
    pool = spark.createDataFrame(
        [(i, mk(i, "h"), "hot") for i in range(1, 5)]
        + [(10, mk(10, "c"), "cold")],
        "doc_id long, text string, source string",
    )
    counts = source_count_table(spark.createDataFrame(
        [(100, mk(100, "x"), "hot"), (101, mk(101, "y"), "hot")],
        "doc_id long, text string, source string",
    ))
    out = curate_corpus(
        pool, min_tokens=1, source_cap=3,
        existing_source_counts=counts,
    )
    per = {
        r["source"]: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    assert per == {"hot": 1, "cold": 1}   # hot budget 3-2=1

    with pytest.raises(ValueError, match="needs source_cap"):
        curate_corpus(pool, min_tokens=1, existing_source_counts=counts)


def test_cap_per_key_quality_order_keeps_best(spark):
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        cap_per_key,
    )

    rows = [(i, "d", float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, q double")
    kept = {r["doc_id"] for r in
            cap_per_key(df, "domain", 5, order_by=F.col("q")).collect()}
    assert kept == {16, 17, 18, 19, 20}
    with pytest.raises(ValueError, match="max_per_key"):
        cap_per_key(df, "domain", 0)


def test_extract_domain(spark):
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        extract_domain,
    )

    rows = [
        ("https://WWW.Example.com/path?q=1", "www.example.com"),
        ("http://user:pw@host.org:8080/x", "host.org"),
        ("example.net/bare/path", "example.net"),
        ("ftp://files.example.io", "files.example.io"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in rows], "url string"
    ).withColumn("d", extract_domain(F.col("url")))
    got = [r["d"] for r in df.collect()]
    assert got == [want for _, want in rows]


def test_packing_stats_hand_computed(spark):
    """packing_stats over a hand-built pack output: every number
    verified against arithmetic; overflow singletons excluded from the
    fill statistics but counted."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        packing_stats,
    )

    rows = [
        (1, 60, 0, False), (2, 30, 0, False),     # seq 0: fill 90
        (3, 80, 1, False), (4, 10, 1, False),     # seq 1: fill 90
        (5, 50, 2, False),                        # seq 2: fill 50
        (6, 150, 3, True),                        # overflow singleton
        (7, 0, 3, False),   # zero-token doc FFD placed with the
                            # overflow doc — must NOT leak seq 3 back
                            # into the fill stats
    ]
    packed = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, seq_id long, overflow boolean"
    )
    got = packing_stats(packed, max_len=100).first().asDict()
    assert got == {
        "n_docs": 7, "n_seqs": 3, "n_overflow_docs": 1,
        "total_tokens": 230,
        "fill_rate": round(230 / 300, 6),
        "mean_fill": round(230 / 3, 4),
        "p50_fill": 90.0, "min_fill": 50,
    }


def test_packing_stats_end_to_end(spark):
    """Composition with pack_sequences: fill never exceeds max_len,
    fill_rate consistent with the invariant totals."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        pack_sequences,
        packing_stats,
    )

    docs = spark.createDataFrame(
        [(i, 10 + (i * 17) % 90) for i in range(200)] + [(900, 500)],
        "doc_id long, n_tokens long",
    )
    packed = pack_sequences(docs, max_len=128, num_shards=4)
    got = packing_stats(packed, max_len=128).first().asDict()
    assert got["n_docs"] == 201 and got["n_overflow_docs"] == 1
    want_tokens = sum(10 + (i * 17) % 90 for i in range(200))
    assert got["total_tokens"] == want_tokens
    assert 0 < got["fill_rate"] <= 1.0
    assert got["min_fill"] >= 1 and got["mean_fill"] <= 128


def test_cli_datasheet(spark, tmp_path, capsys):
    """datasheet prints the corpus_stats row as one JSON line."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    pool = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "en"),
         (2, None, None)],
        "doc_id long, text string, lang string",
    ).write.parquet(pool)
    assert main(["datasheet", "--input", pool]) == 0
    row = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n_docs"] == 2 and row["n_null_text"] == 1
    assert row["total_tokens"] == 9

    # --by-source: one JSON line per source value, largest first
    pool2 = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        [(1, "a b c", "hot"), (2, "d e", "hot"), (3, "f", "cold")],
        "doc_id long, text string, source string",
    ).write.parquet(pool2)
    assert main(
        ["datasheet", "--input", pool2, "--by-source"]
    ) == 0
    lines = [
        _json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert [l["source"] for l in lines] == ["hot", "cold"]
    assert lines[0]["n_docs"] == 2 and lines[0]["total_tokens"] == 5
    assert lines[1]["doc_share"] == pytest.approx(1 / 3, abs=1e-6)


def test_packing_stats_autodetects_bpe_column(spark):
    """packing_stats(tokenize_and_pack(...)) works without a token_col
    argument — the documented composition."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        packing_stats,
        tokenize_and_pack,
    )
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, num_merges=32)
    packed = tokenize_and_pack(docs, merges, max_len=64, num_merges=32)
    got = packing_stats(packed, max_len=64).first().asDict()
    assert got["n_docs"] == 20 and got["n_overflow_docs"] == 0
    assert 0 < got["fill_rate"] <= 1.0


def test_score_quality_plans_no_shuffle(spark, sf_dir):
    """score_quality's docstring claims "one narrow per-partition
    transform, no shuffle" — pin it: the scoring pass over a parquet
    scan plans ZERO Exchange operators (tokenizer, hashing trick and
    the LR predict UDF are all per-row), so at 100 TB the corpus-wide
    scoring pass is embarrassingly parallel."""
    from datawarehouse_vehicule_insurance_spark.operators import mlprep as MP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    labeled = docs.withColumn(
        "label",
        F.array_contains(
            F.split(F.lower(F.col("text")), r"\s+"), "spark"
        ).cast("double"),
    )
    model = MP.train_quality_classifier(
        labeled, n_features=256, max_iter=5
    )
    scored = MP.score_quality(model, docs)
    plan = scored._sc._jvm.PythonSQLUtils.explainString(
        scored._jdf.queryExecution(), "extended"
    )
    assert "Exchange" not in plan
    assert scored.count() == docs.count()


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


def test_ensure_parallelism_is_plan_aware(spark):
    """Round-10 VERDICT weak #1: ``ensure_parallelism`` probed
    ``df.rdd.getNumPartitions()`` unconditionally — under AQE that
    finalizes the adaptive plan and EXECUTES the upstream shuffle map
    stages at plan-inspection time, which the caller's real action
    then re-runs (a corpus-wide shuffle silently doubled at 100 TB).
    Pin the fix from both sides:

    - a post-shuffle input is returned UNCHANGED with ZERO jobs
      launched (the plan contains an Exchange, so the single-partition
      hazard cannot occur and probing would execute the shuffle);
    - an exchange-free narrow input still gets the repartition guard
      (the hazard the function exists for), also without launching a
      job.
    """
    from datawarehouse_vehicule_insurance_spark.operators.plancut import (
        ensure_parallelism,
    )

    shuffled = (
        spark.range(0, 1000, numPartitions=4)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
    )
    out, jobs = _jobs_during(
        spark, "ep_probe_shuffled", lambda: ensure_parallelism(shuffled)
    )
    assert jobs == 0, f"probing a post-shuffle plan launched {jobs} job(s)"
    assert out is shuffled  # identity: no extra exchange appended

    narrow = spark.range(0, 100, numPartitions=1)
    out2, jobs2 = _jobs_during(
        spark, "ep_probe_narrow", lambda: ensure_parallelism(narrow)
    )
    assert jobs2 == 0
    dp = spark.sparkContext.defaultParallelism
    assert out2.rdd.getNumPartitions() == dp
    assert out2.count() == 100

    # r11 ADVICE: the exchange check matches NODE names, not raw
    # substrings — a narrow plan whose projection merely CONTAINS
    # "Exchange" inside an identifier (stockExchange) must still get
    # the guard, while the prefixed BroadcastExchange / ReusedExchange
    # node names still suppress it (regex sanity, no plan needed).
    from datawarehouse_vehicule_insurance_spark.operators.plancut import (
        _EXCHANGE_NODE,
    )

    assert _EXCHANGE_NODE.search("+- Exchange hashpartitioning(g#1, 32)")
    assert _EXCHANGE_NODE.search("+- BroadcastExchange HashedRelation")
    assert _EXCHANGE_NODE.search("+- ReusedExchange [id#0L]")
    assert not _EXCHANGE_NODE.search("Project [stockExchange#3, id#0L]")

    named = spark.range(0, 100, numPartitions=1).withColumnRenamed(
        "id", "stockExchange"
    )
    out3, jobs3 = _jobs_during(
        spark, "ep_probe_named", lambda: ensure_parallelism(named)
    )
    assert jobs3 == 0
    assert out3.rdd.getNumPartitions() == dp, (
        "a column named stockExchange disabled the parallelism guard"
    )
    assert out3.count() == 100


def test_gopher_arrow_build_runs_upstream_shuffle_once(spark):
    """The live round-10 double-execution site: ``curation_run`` calls
    the arrow gopher path AFTER span-trim/line-dedup (which shuffle)
    and before the checkpoint cut, so ``ensure_parallelism``'s old
    ``df.rdd`` probe executed the span-trim gram-count stages once at
    BUILD time and the pipeline action ran them again. Pin single
    execution: building gopher features over a shuffled input launches
    ZERO jobs — every upstream stage therefore runs exactly once, in
    the one real action — and the results match the same op over the
    pre-materialized equivalent input."""
    from datawarehouse_vehicule_insurance_spark.operators import (
        text_analysis as TA,
    )

    docs = spark.createDataFrame(
        [(i, ("spark rows shuffle " * (i % 5 + 1)).strip())
         for i in range(40)],
        "doc_id long, text string",
    )
    # an upstream wide dependency, like span-trim's gram-count join
    shuffled = docs.repartition(8, "doc_id")

    built, build_jobs = _jobs_during(
        spark,
        "gopher_build_probe",
        lambda: TA.gopher_repetition_features(shuffled, text_col="text"),
    )
    assert build_jobs == 0, (
        f"building gopher over a shuffled input launched {build_jobs} "
        "job(s) — the upstream shuffle would run twice per pipeline"
    )

    got = {r["doc_id"]: r.asDict() for r in built.collect()}
    want = {
        r["doc_id"]: r.asDict()
        for r in TA.gopher_repetition_features(
            docs, text_col="text"
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# _scan_layout: bounded driver-side footer reads (r15)
# ---------------------------------------------------------------------------


def _write_tiny_parquet_files(dirpath, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirpath.mkdir(parents=True, exist_ok=True)
    tbl = pa.table({"x": pa.array([1, 2, 3], type=pa.int64())})
    for i in range(n):
        pq.write_table(tbl, str(dirpath / f"part-{i:05d}.parquet"))


class _CountingParquetFile:
    """Delegating wrapper around pyarrow.parquet.ParquetFile that counts
    constructions (= footer reads)."""

    calls = 0

    def __init__(self, real_cls):
        self._real = real_cls

    def __call__(self, *a, **kw):
        type(self).calls += 1
        return self._real(*a, **kw)


def test_scan_layout_early_exit_bounds_footer_reads(tmp_path, monkeypatch):
    """A many-file layout must NOT cost one footer read per file: the
    walk stops as soon as `enough_groups` row groups are seen (guide §5
    — the driver should do almost no data work in front of a scan)."""
    import pyarrow.parquet as pq

    from datawarehouse_vehicule_insurance_spark import queries as Q

    d = tmp_path / "many_files"
    _write_tiny_parquet_files(d, 40)

    counter = _CountingParquetFile(pq.ParquetFile)
    monkeypatch.setattr("pyarrow.parquet.ParquetFile", counter)
    _CountingParquetFile.calls = 0

    groups, rows = Q._scan_layout(str(d), enough_groups=8)
    assert groups >= 8
    # one footer per file until the threshold trips: 8 files of 1 row
    # group each, plus at most one look-ahead
    assert _CountingParquetFile.calls <= 9

    # cached: same stat signature, no further footer reads
    Q._scan_layout(str(d), enough_groups=8)
    assert _CountingParquetFile.calls <= 9

    # a larger threshold must re-probe (the cached count was partial)
    _CountingParquetFile.calls = 0
    groups2, _ = Q._scan_layout(str(d), enough_groups=30)
    assert groups2 >= 30
    assert 0 < _CountingParquetFile.calls <= 31


def test_scan_layout_counts_every_file_below_threshold(tmp_path):
    """Every footer counts until the threshold: 74 one-row-group files
    against a threshold of 128 are 74 row groups — fewer than a
    128-core session's cores, so the layout must NOT be reported as
    splittable."""
    from datawarehouse_vehicule_insurance_spark import queries as Q

    d = tmp_path / "many_small"
    _write_tiny_parquet_files(d, 74)
    groups, rows = Q._scan_layout(str(d), enough_groups=128)
    assert (groups, rows) == (74, 222)


def test_scan_layout_cache_invalidates_on_dir_change(tmp_path):
    """Adding a file changes the directory's stat signature, so the
    layout is re-probed instead of served stale (r14 ADVICE)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse_vehicule_insurance_spark import queries as Q

    d = tmp_path / "grows"
    _write_tiny_parquet_files(d, 2)
    g1, r1 = Q._scan_layout(str(d), enough_groups=1 << 20)
    assert (g1, r1) == (2, 6)

    import os
    import time

    tbl = pa.table({"x": pa.array([1], type=pa.int64())})
    pq.write_table(tbl, str(d / "part-99999.parquet"))
    # dir mtime granularity can be coarse; force a distinct signature
    now = time.time() + 2
    os.utime(str(d), (now, now))

    g2, r2 = Q._scan_layout(str(d), enough_groups=1 << 20)
    assert (g2, r2) == (3, 7)
