"""Output checks: a Spark result against DuckDB SQL over the same
parquet files. Registry paths use their own oracle SQL; the medallion
pipeline's gold facts use ``GOLD_SQL`` over its silver tables.

The comparison is the one ``tools/gate_replica.py`` makes: same row
count, same column names, then the values with columns sorted by name,
rows sorted, temporals as ISO strings, arrays as tuples and floats
rounded to 6 places, compared with a relative tolerance of 1e-6.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from datagen import WAREHOUSE_ROWS


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime64", "dbdate")) or (
            df[c].dtype == object
            and len(df)
            and df[c].map(lambda v: v is None or hasattr(v, "isoformat")).all()
        ):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(
                lambda v: None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else round(v, 6)
            )
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return (f"columns {sorted(got.columns)} "
                f"vs oracle {sorted(want.columns)}")
    try:
        pd.testing.assert_frame_equal(
            _norm(got.copy()), _norm(want.copy()),
            check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9,
        )
    except AssertionError as exc:
        return "values: " + str(exc).split("\n")[0]
    return None


def run_sql(views: dict[str, str], sql: str) -> pd.DataFrame:
    """``sql`` on a fresh DuckDB connection with one view per
    ``name: parquet glob``. A fresh connection per query, as the gate
    replica does: no buffer-pool state carries from one to the next."""
    con = duckdb.connect()
    try:
        for name, files in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{files}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class Oracle:
    """DuckDB views over one staged input directory."""

    def __init__(self, data_dir: str):
        self.views = {t: f"{data_dir}/{t}.parquet" for t in WAREHOUSE_ROWS}

    def check(self, spark_df, sql: str) -> str | None:
        return compare(spark_df.toPandas(), run_sql(self.views, sql))


#: The silver tables the gold checks read.
SILVER_TABLES = ("erp_clients", "crm_clients", "erp_vehicles",
                 "erp_policies", "erp_claims", "erp_payments")

#: Policy ids that occur more than once in the silver policies: the
#: generator's ids are 8 hex digits, so with 20k policies two collide in
#: about one seed in twenty. Which of their rows ``fact_payments`` joins
#: is not defined, so their payments are left out of its value check
#: (``GOLD_ROWS`` still counts them).
DUPLICATE_POLICIES = """
    SELECT policy_id FROM erp_policies GROUP BY policy_id HAVING count(*) > 1
"""

#: Row count of each gold table the value check does not cover in full:
#: a left join onto clients, a distinct projection, and one fact row per
#: payment.
GOLD_ROWS = {
    "dim_clients": """
        SELECT count(*) FROM erp_clients
        LEFT JOIN (SELECT client_id FROM crm_clients) USING (client_id)
    """,
    "dim_vehicles": """
        SELECT count(*) FROM (
            SELECT DISTINCT vehicle_id, client_id, brand, model, year, plate
            FROM erp_vehicles)
    """,
    "fact_payments": "SELECT count(*) FROM erp_payments",
}

#: The gold facts written from the silver tables, as the package's
#: ``operators.gold`` defines them: one row per distinct client, NULL
#: client keys never form a group, the policy-to-client bridge is
#: distinct, and a ratio over a zero or NULL denominator is NULL.
GOLD_SQL = {
    "fact_client_summary": """
        WITH pol AS (SELECT * FROM erp_policies WHERE client_id IS NOT NULL),
        bridge AS (SELECT DISTINCT policy_id, client_id FROM pol),
        p AS (
            SELECT client_id, count(policy_id) AS total_policies,
                   sum(premium) AS total_premium,
                   sum(CASE WHEN status = 'Activa' THEN 1 ELSE 0 END)
                       AS active_policies
            FROM pol GROUP BY client_id),
        pay AS (
            SELECT b.client_id, sum(x.amount) AS total_payments,
                   count(x.payment_id) AS num_payments,
                   max(x.payment_date) AS last_payment_date
            FROM erp_payments x JOIN bridge b USING (policy_id)
            GROUP BY b.client_id),
        cl AS (
            SELECT b.client_id, sum(x.amount) AS total_claims,
                   count(x.claim_id) AS num_claims
            FROM erp_claims x JOIN bridge b USING (policy_id)
            GROUP BY b.client_id)
        SELECT u.client_id, total_policies, total_premium, active_policies,
               total_payments, num_payments, last_payment_date,
               total_claims, num_claims,
               total_payments / nullif(total_premium, 0)
                   AS payment_to_premium_ratio,
               total_claims / nullif(total_premium, 0) AS claim_ratio,
               total_payments / nullif(num_payments, 0) AS avg_payment,
               total_claims / nullif(num_claims, 0) AS avg_claim
        FROM (SELECT DISTINCT client_id FROM erp_clients) u
        LEFT JOIN p USING (client_id)
        LEFT JOIN pay USING (client_id)
        LEFT JOIN cl USING (client_id)
    """,
    "fact_payments": f"""
        WITH dup AS ({DUPLICATE_POLICIES})
        SELECT x.*, p.client_id, p.vehicle_id, p.coverage, p.status
        FROM erp_payments x LEFT JOIN erp_policies p USING (policy_id)
        WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.policy_id = x.policy_id)
    """,
}
