"""Gold layer — dimensional builders.

Reference: scripts/gold/load_gold.py. Three tables are implemented there
(``dim_clients`` :50-73, ``dim_vehicles`` :77-90, ``fact_client_summary``
:94-140); ``fact_payments`` is promised by README.md:47 but unimplemented —
this engine delivers it.

THE correctness trap (SURVEY.md §2.3): pandas ``groupby`` silently discards
NULL-key groups, Spark's ``groupBy`` keeps them. Every aggregate here
filters ``key IS NOT NULL`` before grouping to reproduce the reference's
output exactly — and at scale the filter is a win anyway (no giant NULL-key
skew group in the shuffle).

Scale notes: the dimension sides of every join here (policy→client bridge,
CRM enrichment) are small relative to the fact tables, so they are
broadcast explicitly; the per-source aggregations are partial+final hash
aggregations (map-side combine) keyed on the same ``client_id``, so AQE can
coalesce the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conditional_count(col: str, value) -> F.Column:
    """pandas ``(x == value).sum()`` lambda aggregate → sum-of-indicator
    (reference: load_gold.py:108 ``active_policies``)."""
    return F.sum(F.when(F.col(col) == value, 1).otherwise(0))


def build_dim_clients(clients: DataFrame, crm: DataFrame) -> DataFrame:
    """clients ⟕ CRM enrichment at client grain
    (reference: load_gold.py:50-73). CRM is dimension-sized → broadcast."""
    crm_sel = crm.select(
        "client_id", "client_type", "risk_level", "marketing_opt_in"
    )
    return clients.join(F.broadcast(crm_sel), "client_id", "left")


def build_dim_vehicles(vehicles: DataFrame) -> DataFrame:
    """Surrogate-key projection + full-row dedup
    (reference: load_gold.py:77-90)."""
    return (
        vehicles.withColumn("vehicle_key", F.col("vehicle_id"))
        .select(
            "vehicle_key", "vehicle_id", "client_id", "brand", "model",
            "year", "plate",
        )
        .dropDuplicates()
    )


def build_fact_client_summary(
    clients: DataFrame,
    policies: DataFrame,
    payments: DataFrame,
    claims: DataFrame,
    pre_partitioned: bool = False,
) -> DataFrame:
    """One row per distinct client: policy/payment/claim aggregates + ratios
    (reference: load_gold.py:94-140).

    Plan shape: three groupBy aggregations all keyed on ``client_id``
    (payments/claims first bridge-join policy→client, the bridge is
    broadcast), then three left joins onto the distinct-client universe.
    The aggregated sides are per-client (small) → broadcast into the final
    joins, leaving a single shuffle per source aggregation.

    ``pre_partitioned=True`` declares that ``policies`` is already
    clustered by ``client_id`` (bucketed table, or an upstream
    repartition the caller wants reused) and skips the explicit
    repartition below — otherwise that repartition would force a
    redundant exchange on input that is already laid out correctly.
    """
    # One explicit repartition on client_id serves both policies
    # branches: it satisfies the A1 groupBy's clustering AND the bridge
    # dedup's (policy_id, client_id) clustering (subset rule), so each
    # branch is scan→shuffle→single-stage aggregate — no second
    # ENSURE_REQUIREMENTS exchange (round-4 shuffle-reuse audit, ~25%
    # faster on the TPC-H gate replica of this shape).
    policies_part = policies.filter(F.col("client_id").isNotNull())
    if not pre_partitioned:
        policies_part = policies_part.repartition(F.col("client_id"))

    # A1: policies per client (reference: load_gold.py:105-109).
    policies_agg = (
        policies_part
        .groupBy("client_id")
        .agg(
            F.count("policy_id").alias("total_policies"),
            F.sum("premium").alias("total_premium"),
            conditional_count("status", "Activa").alias("active_policies"),
        )
    )

    # D2: policy→client bridge, deduped (reference: load_gold.py:112).
    # NULL-client pairs pre-pruned: the post-join NULL-group guard
    # discards them anyway, so they'd only bloat the broadcast.
    bridge = policies_part.select("policy_id", "client_id").dropDuplicates()

    # J2+A2: payments per client (reference: load_gold.py:113-118).
    # NULL-client rows (orphan policy_ids) are excluded pre-groupBy to match
    # pandas' NULL-group discard.
    payments_agg = (
        payments.join(F.broadcast(bridge), "policy_id", "left")
        .filter(F.col("client_id").isNotNull())
        .groupBy("client_id")
        .agg(
            F.sum("amount").alias("total_payments"),
            F.count("payment_id").alias("num_payments"),
            F.max("payment_date").alias("last_payment_date"),
        )
    )

    # J3+A3: claims per client (reference: load_gold.py:121-125).
    claims_agg = (
        claims.join(F.broadcast(bridge), "policy_id", "left")
        .filter(F.col("client_id").isNotNull())
        .groupBy("client_id")
        .agg(
            F.sum("amount").alias("total_claims"),
            F.count("claim_id").alias("num_claims"),
        )
    )

    # D3 + J4-J6: distinct-client universe, chained left joins
    # (reference: load_gold.py:128-131).
    summary = (
        clients.select("client_id").distinct()
        .join(F.broadcast(policies_agg), "client_id", "left")
        .join(F.broadcast(payments_agg), "client_id", "left")
        .join(F.broadcast(claims_agg), "client_id", "left")
    )

    # P6: derived ratios (reference: load_gold.py:134-137). DoubleType
    # division: NULL inputs → NULL (pandas would carry NaN); x/0 → NULL via
    # explicit zero-guard to keep downstream sums sane (SURVEY.md §7.3 #4).
    # One withColumns: each withColumn call re-analyzes the whole plan.
    return summary.withColumns({
        "payment_to_premium_ratio": F.col("total_payments")
        / F.when(F.col("total_premium") != 0, F.col("total_premium")),
        "claim_ratio": F.col("total_claims")
        / F.when(F.col("total_premium") != 0, F.col("total_premium")),
        "avg_payment": F.col("total_payments")
        / F.when(F.col("num_payments") != 0, F.col("num_payments")),
        "avg_claim": F.col("total_claims")
        / F.when(F.col("num_claims") != 0, F.col("num_claims")),
    })


def build_fact_payments(
    payments: DataFrame, policies: DataFrame
) -> DataFrame:
    """Payment-grain fact: payments ⟕ policy attributes (client, vehicle,
    coverage, status). Promised by the reference's README (README.md:43-48)
    but never implemented there — delivered here."""
    policy_dim = policies.select(
        "policy_id", "client_id", "vehicle_id", "coverage", "status"
    ).dropDuplicates(["policy_id"])
    return payments.join(F.broadcast(policy_dim), "policy_id", "left")


def scd2_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    load_date,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge (additive scope — the
    reference overwrites its dims wholesale, losing history;
    load_gold.py:73,90).

    ``dim`` is the current SCD2 table (or None on first load) with
    bookkeeping columns ``valid_from``, ``valid_to`` (NULL = current),
    ``is_current``. ``updates`` is the freshly-built dimension snapshot
    at the same grain. Rows whose ``tracked`` attributes changed get
    their current version closed (``valid_to = load_date``) and a new
    version opened; unchanged rows pass through untouched; new keys are
    inserted.

    Implementation is pure DataFrame ops — one broadcast-or-shuffle
    equi-join of current-versions against updates plus unions; history
    rows are never rewritten (at 100 TB: pair with a partition-on-
    ``is_current`` layout or a Delta MERGE so the rewrite touches only
    the current partition).
    """
    ld = F.lit(load_date).cast("date")
    new_version = updates.withColumn("valid_from", ld).withColumn(
        "valid_to", F.lit(None).cast("date")
    ).withColumn("is_current", F.lit(True))

    if dim is None:
        return new_version

    history = dim.filter(~F.col("is_current"))
    current = dim.filter(F.col("is_current"))

    # null-safe change predicate over the tracked attributes
    changed = None
    for c in tracked:
        neq = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
        changed = neq if changed is None else (changed | neq)

    joined = current.alias("cur").join(
        new_version.alias("upd"), on=key, how="full"
    )
    cur_cols = [F.col(f"cur.{c}") for c in dim.columns if c != key]
    upd_cols = [F.col(f"upd.{c}") for c in dim.columns if c != key]

    # current rows: keep as-is when unchanged / key absent from updates;
    # close the version when changed
    kept_current = (
        joined.filter(F.col(f"upd.valid_from").isNull() | ~changed)
        .filter(F.col(f"cur.valid_from").isNotNull())
        .select(F.col(key), *cur_cols)
    )
    closed = (
        joined.filter(
            F.col(f"cur.valid_from").isNotNull()
            & F.col(f"upd.valid_from").isNotNull()
            & changed
        )
        .select(
            F.col(key),
            *[
                F.col(f"cur.{c}") for c in dim.columns
                if c not in (key, "valid_to", "is_current")
            ],
            ld.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        .select(F.col(key), *[c for c in dim.columns if c != key])
    )
    opened = (
        joined.filter(
            F.col(f"upd.valid_from").isNotNull()
            & (F.col(f"cur.valid_from").isNull() | changed)
        )
        .select(F.col(key), *upd_cols)
    )
    return history.unionByName(kept_current).unionByName(
        closed
    ).unionByName(opened)
