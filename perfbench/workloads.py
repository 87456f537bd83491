"""The benchmark's workloads.

Each workload stages its inputs, warms the session up, and then runs
passes: one pass is every op of the workload once, back to back on the
driver thread. An op is a span with ``kind="op"`` and a ``layer``; its
``build`` child covers constructing the result (including any eager
jobs), its ``sink`` child covers the write.
"""

from __future__ import annotations

import inspect
import os
import re
from contextlib import contextmanager

import datagen
import oracle

def _source(fn) -> str:
    """A path's source plus the source of the module-level helpers it
    calls, so tables read through a helper (``_events``) are seen."""
    from datawarehouse_vehicule_insurance_spark import queries as Q

    src = inspect.getsource(fn)
    extra = []
    for helper in sorted(set(re.findall(r"\b(_\w+)\(", src))):
        obj = getattr(Q, helper, None)
        if inspect.isfunction(obj):
            extra.append(inspect.getsource(obj))
    return "\n".join([src, *extra])


def path_tables(fn) -> list[str]:
    """Input tables a registry path reads (named in its source)."""
    src = _source(fn)
    return [
        t for t in datagen.WAREHOUSE_ROWS
        if re.search(rf"[\"']{t}[\"']", src)
        or (t == "events" and "_events(" in src)
    ]


def path_layer(fn) -> str:
    """The first ``operators.*`` module the path imports, else
    ``queries``."""
    m = re.search(r"operators(?:\.|\s+import\s+)(\w+)", inspect.getsource(fn))
    return f"operators.{m.group(1)}" if m else "queries"


#: The registry paths a pass runs, in registry order: 13 of the 59
#: benched paths. One path of every operator module the registry reaches
#: but ``mlprep`` (its one path, ``quality_classifier``, takes 3-5 s warm):
#: the cheaper one where a module has several, except that ``dedup`` and
#: ``text_analysis`` get a path with a pandas UDF, so Python-worker
#: traffic is measured. Seven cheap plain paths (no operator import)
#: stand for the ``queries`` layer; with 21 of the 39 op samples of a run
#: they put ``op_p50_s`` inside one dense cluster of times, not on a gap
#: between paths. A cold pass over the paths is part of set-up, so the
#: timed passes are warm; more paths do not fit the run budget (see the
#: README).
PATHS = (
    "range_validate_year", "token_frequencies", "distinct_order_customers",
    "array_functions", "last_order_per_customer", "events_json_extract",
    "asof_last_click", "range_clicks_before_purchase", "percentile_prices",
    "embedding_neardup", "zscore_by_segment", "gopher_quality",
    "duplicate_span_trim",
)


class QueryWorkload:
    """Registry paths (``PATHS``) over the staged warehouse tables, each
    built and written to the noop sink, as ``bench.py`` runs them."""

    min_passes = 3

    def __init__(self, name: str):
        from datawarehouse_vehicule_insurance_spark import queries as Q

        registry = {**Q.QUERIES, **Q.BENCH_EXTRA}
        self.name = name
        self.paths = {
            pname: (registry[pname], path_tables(registry[pname]),
                    path_layer(registry[pname]))
            for pname in PATHS
        }
        self.oracles = {**Q.ORACLES, **Q.ORACLES_EXTRA}

    def stage(self, cache: str, seed: int, slots: int):
        return datagen.stage(cache, "warehouse", seed)

    def per_pass_input(self, manifest: dict) -> tuple[int, int]:
        rows = nbytes = 0
        for _, tables, _ in self.paths.values():
            rows += sum(manifest[t]["rows"] for t in tables)
            nbytes += sum(manifest[t]["bytes"] for t in tables)
        return rows, nbytes

    def warm_up(self, ctx) -> None:
        """Register every input table, then one cold pass over the
        paths, untraced by op: first job, Python worker pool, and each
        path's first planning, codegen and JIT. A path that fails here
        fails again in the timed pass and is counted there."""
        for t in sorted({t for _, ts, _ in self.paths.values() for t in ts}):
            ctx.spark.read.parquet(f"{ctx.data}/{t}.parquet")
        for fn, _, _ in self.paths.values():
            try:
                fn(ctx.spark, ctx.data).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 — counted in the timed pass
                pass

    def run_pass(self, ctx) -> list:
        failures = []
        for pname, (fn, _, layer) in self.paths.items():
            with ctx.op(pname, layer):
                try:
                    with ctx.tracer.span("build"):
                        df = fn(ctx.spark, ctx.data)
                    with ctx.tracer.span("sink"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    failures.append((pname, f"{type(exc).__name__}: {exc}"))
        return failures

    def check(self, ctx, names: list[str]) -> tuple[list, dict]:
        """Oracle-compare the paths ``names``."""
        duck = oracle.Oracle(ctx.data)
        failures = []
        for pname in names:
            fn = self.paths[pname][0]
            try:
                reason = duck.check(fn(ctx.spark, ctx.data),
                                    self.oracles[pname])
            except Exception as exc:  # noqa: BLE001 — counted, reported
                reason = f"{type(exc).__name__}: {exc}"
            if reason:
                failures.append((pname, reason[:300]))
        return failures, {"checked": names}

    def check_subset(self, seed: int, groups: int) -> list[str]:
        """The paths this seed checks: every ``groups``-th path, starting
        at ``seed % groups``, so ``groups`` consecutive seeds check each
        path once."""
        names = list(self.paths)
        return names[seed % groups::groups]


_ZONE_LAYER = {"bronze": "sources.io", "silver": "operators.rules",
               "gold": "operators.gold"}


class MedallionWorkload:
    """``Pipeline.run_bronze`` → ``run_silver`` → ``run_gold`` over the
    staged dirty CSVs. One op is one pipeline table step: the steps are
    cut at the pipeline's ``sources.io.write_parquet`` calls, so a step
    runs from the end of the previous table's write to the end of its
    own, and its sink is the write itself."""

    n_clients = 20000
    min_passes = 2

    def __init__(self, name: str):
        self.name = name

    def stage(self, cache: str, seed: int, slots: int):
        return datagen.stage(cache, "medallion", seed,
                             n_clients=self.n_clients, nparts=slots)

    def per_pass_input(self, manifest: dict) -> tuple[int, int]:
        return (sum(t["rows"] for t in manifest.values()),
                sum(t["bytes"] for t in manifest.values()))

    def warm_up(self, ctx) -> None:
        """A full cold pass, untraced by op."""
        self._pipeline(ctx, timed=False)

    def run_pass(self, ctx) -> list:
        return self._pipeline(ctx, timed=True)

    @contextmanager
    def _step_hook(self, ctx):
        from datawarehouse_vehicule_insurance_spark.sources import io as IO

        original = IO.write_parquet
        tracer = ctx.tracer
        state = {}

        def begin():
            state["op"] = ctx.open_op("step", None)
            state["build"] = tracer.open("build")

        def write_parquet(df, path, partition_by=None):
            tracer.close(state["build"])
            sink = tracer.open("sink")
            try:
                original(df, path, partition_by)
            finally:
                tracer.close(sink)
                zone, table = path.rstrip("/").split("/")[-2:]
                op = state["op"]
                op.name = f"{zone}/{table.removesuffix('.parquet')}"
                op.attrs["layer"] = _ZONE_LAYER[zone]
                ctx.close_op(op)
                begin()

        begin()
        IO.write_parquet = write_parquet
        try:
            yield
        finally:
            IO.write_parquet = original
            # the tail after the last write belongs to no table step
            tracer.close(state["build"])
            ctx.close_op(state["op"], keep=False)

    def _pipeline(self, ctx, timed: bool) -> list:
        from datawarehouse_vehicule_insurance_spark.catalog import Catalog
        from datawarehouse_vehicule_insurance_spark.plans.pipeline import (
            Pipeline,
        )

        pipe = Pipeline(ctx.spark, Catalog(root=ctx.work_dir("warehouse")),
                        ref_date=datagen.REF_DATE)
        if timed:
            with self._step_hook(ctx):
                self._run(pipe, ctx.data)
        else:
            self._run(pipe, ctx.data)
        bad = [(k, v) for k, v in pipe.results.items() if v != "ok"]
        if len(pipe.results) != 16:
            bad.append(("pipeline",
                        f"{len(pipe.results)} table steps, not 16"))
        return bad

    @staticmethod
    def _run(pipe, csv_root: str) -> None:
        pipe.run_bronze(csv_root)
        pipe.run_silver()
        pipe.run_gold()

    def check(self, ctx, only) -> tuple[list, dict]:
        """Gold fingerprint (row count and an order-independent hash sum
        per gold table), then DuckDB over the silver tables the last pass
        wrote: the row counts of ``oracle.GOLD_ROWS`` and the values of
        ``oracle.GOLD_SQL``."""
        from pyspark.sql import functions as F

        root = ctx.work_dir("warehouse")
        read = lambda zone, t: ctx.spark.read.parquet(  # noqa: E731
            f"{root}/{zone}/{t}.parquet"
        )
        fingerprint = {}
        for t in ("dim_clients", "dim_vehicles", "fact_client_summary",
                  "fact_payments"):
            df = read("gold", t)
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*df.columns) % F.lit(1_000_000_007))
                .alias("h"),
            ).first()
            fingerprint[t] = [row["n"], row["h"]]
        failures = []
        if any(v[0] == 0 for v in fingerprint.values()):
            failures.append(("gold", "empty gold table"))
        views = {t: f"{root}/silver/{t}.parquet/*.parquet"
                 for t in oracle.SILVER_TABLES}
        for t, sql in oracle.GOLD_ROWS.items():
            want = int(oracle.run_sql(views, sql).iloc[0, 0])
            if fingerprint[t][0] != want:
                failures.append((f"gold/{t}",
                                 f"rows {fingerprint[t][0]} vs oracle {want}"))
        dups = set(oracle.run_sql(views, oracle.DUPLICATE_POLICIES)["policy_id"])
        for t, sql in oracle.GOLD_SQL.items():
            try:
                got = read("gold", t).toPandas()
                if t == "fact_payments":
                    got = got[~got["policy_id"].isin(dups)]
                reason = oracle.compare(got, oracle.run_sql(views, sql))
            except Exception as exc:  # noqa: BLE001 — counted, reported
                reason = f"{type(exc).__name__}: {exc}"
            if reason:
                failures.append((f"gold/{t}", reason[:300]))
        return failures, {"gold_fingerprint": fingerprint,
                          "duplicate_policy_ids": len(dups)}

    def check_subset(self, seed: int, groups: int):
        return None


WORKLOADS = {"medallion_etl": MedallionWorkload,
             "registry_queries": QueryWorkload}


def make(name: str):
    return WORKLOADS[name](name)


def work_path(root: str, *parts: str) -> str:
    path = os.path.join(root, *parts)
    os.makedirs(path, exist_ok=True)
    return path
