"""Benchmark harness: runs the query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the FULL
per-query JSON line first ({"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ..., "host": {...}}), then a compact
summary JSON line LAST ({"kind": "compact", "metric", "value",
"registry_value", "unit", "sf", "noisy", "canary_sec", "registry_md5",
"per_query_ms", "order_md5"} — short enough that a tail-capture window
always ends with it intact; the r10 compact-FIRST ordering scrolled it
out and clipped the long line). ``per_query_ms`` holds every query's
time as integer ms in sorted-name order and ``order_md5`` fingerprints
that order, so the compact line alone gives the per-query map
(:func:`per_query_from_compact`) when a 2000-char tail has cut the
front of the long line.

Both lines carry the host-speed canaries (r11 verdict #2, extended r13
per the r12 verdict #3): ``canary_sec`` is the wall time of a pinned
pure-CPU JVM job — sum of xxhash64 over spark.range(2B) — and
``canary_py_sec`` is a pinned PYTHON-WORKER job — a no-op pandas UDF
over spark.range — each measured min-of-5 on the same session right
before the suite; ``canary_post_sec`` / ``canary_py_post_sec`` repeat
both AFTER the timed passes so mid-run host drift is visible (r12's
bpe_token_count 1.6x excursion happened while the JVM canary read its
fastest value ever — Python-worker contention is invisible to a
JVM-only canary measured only at the start). They are host-speed
yardsticks with zero I/O and fixed plans, so cross-round comparison
can use computed ratios (registry_value/canary_sec, python-heavy
queries vs canary_py_sec) instead of a prose host-drift argument.

Each query executes via the noop sink — full computation, no driver-side
collect, matching how a production pipeline consumes results.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

# module-level so the pandas-UDF canary's stringified type hints
# (PEP 563, via `from __future__ import annotations`) resolve: pyspark
# evaluates 'pd.Series' against this module's globals
import pandas as pd

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from datawarehouse_vehicule_insurance_spark import get_spark  # noqa: E402
from datawarehouse_vehicule_insurance_spark import queries as Q  # noqa: E402


def _order_md5(names) -> str:
    return hashlib.md5(",".join(sorted(names)).encode()).hexdigest()[:12]


def compact_line(timings: dict[str, float], **summary) -> str:
    """The compact summary line: ``summary`` plus every query's time as
    integer ms in sorted-name order and the md5 of that order."""
    names = sorted(timings)
    return json.dumps({
        # discriminator (r11 verdict nit): both lines share metric /
        # value fields; "kind" lets a parser tell the tail-survivable
        # compact line from the full per-query line unambiguously
        "kind": "compact",
        **summary,
        "per_query_ms": [round(timings[n] * 1000) for n in names],
        "order_md5": _order_md5(names),
    }, separators=(",", ":"))


def per_query_from_compact(line: str, names) -> dict[str, float]:
    """``{name: sec}`` (ms precision) from a compact line, given the
    bench set's query names; raises when the names are not the set the
    line was written for."""
    rec = json.loads(line)
    if _order_md5(names) != rec["order_md5"]:
        raise ValueError("query names differ from the compact line's")
    return {n: ms / 1000 for n, ms in zip(sorted(names), rec["per_query_ms"])}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    # warmup: JIT/codegen + parquet footer caches + the Python worker pool
    # (first pandas_udf call pays ~5s of worker spawn), not measured
    Q.q_pricing_summary(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    from datawarehouse_vehicule_insurance_spark.functions.text import title_exact
    from pyspark.sql import functions as F

    spark.range(1).select(title_exact(F.lit("warm up"))).collect()

    # loadavg sampled BEFORE the canary: the canary itself is ~5s of
    # full-32-core work, which would inflate the 1-min loadavg and
    # could trip the noisy flag on a genuinely quiet box — keep the
    # sample point where every prior round took it (post-warmup,
    # pre-any-measured-work) so the noisy rule stays comparable
    load_before = os.getloadavg()

    # Host-speed canaries (r11 verdict #2; r12 verdict #3 added the
    # Python-worker leg + before/after bracketing). Two pinned jobs
    # with fixed plans and zero I/O:
    #   JVM leg — sum of xxhash64 over range(2B): moves with host CPU
    #   speed (load, thermal, co-tenancy) and nothing in this repo.
    #   Python leg — no-op pandas UDF over range(50M): additionally
    #   rides the Arrow transfer + python worker pool, so it sees
    #   PYTHON-WORKER contention the JVM leg is blind to (r12: bpe
    #   +60% while the JVM canary read its fastest value ever).
    # registry_value / canary_sec is the computed cross-round
    # normalization; python-heavy query drift reads against
    # canary_py_sec.
    def _canary_once() -> float:
        t0 = time.perf_counter()
        # modulo before the sum: 2e9 terms each < 1e9 tops out ~2e18,
        # inside long range — a raw sum of xxhash64 longs overflows
        # under Spark 4's default ANSI mode
        spark.range(2_000_000_000).select(
            F.sum(F.xxhash64("id") % F.lit(1_000_000_007))
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _py_identity(s: pd.Series) -> pd.Series:
        return s

    def _canary_py_once() -> float:
        t0 = time.perf_counter()
        spark.range(50_000_000).select(
            F.sum(_py_identity("id"))
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # min-of-5 (vs the suite's min-of-3): measured r12, a single
    # canary run jitters ~25% peak-to-peak on this host REGARDLESS of
    # job length (2e9 and 8e9 rows both spread ~0.23-0.27 relative),
    # so a longer job buys nothing and more samples buy a tighter min.
    # Even so, treat each canary as ±10% between quiet runs: it detects
    # the LARGE host drifts (co-tenancy, thermal throttle, 1.5-2x)
    # that previously cost rounds of re-attribution, not 5% effects.
    def _canary_pair() -> tuple[float, float]:
        _canary_once()  # warm: codegen + stage setup, not measured
        jvm = round(min(_canary_once() for _ in range(5)), 4)
        _canary_py_once()  # warm: worker pool + this plan's codegen
        py = round(min(_canary_py_once() for _ in range(5)), 4)
        return jvm, py

    canary, canary_py = _canary_pair()

    # three passes, report the min per query: the host shows
    # intermittent load spikes that can inflate a single cold run
    # 3-10x; min-of-3 measures the engine (steady-state plan
    # execution), not the noise. The load fingerprint below lets a
    # cross-round comparison separate code drift from host drift.
    PASSES = 3
    timings: dict[str, float] = {}
    bench_set = {**Q.QUERIES, **getattr(Q, "BENCH_EXTRA", {})}
    for _pass in range(PASSES):
        for name, fn in bench_set.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, elapsed), elapsed)
    # bracket: re-measure both canaries AFTER the suite. JVM leg: a
    # pre/post gap > the ±10% read rule means the host drifted MID-RUN.
    # Python leg reading rule (measured r13, two quiet runs): the post
    # value reads ~1.6-1.7x the pre value even on a quiet box — the
    # suite's many pandas-UDF stages leave the session's Python worker
    # pool larger/more fragmented, a SESSION artifact, not host drift.
    # So compare canary_py_sec pre-to-pre across rounds, and flag
    # mid-run contention only when post/pre goes well beyond ~1.7.
    canary_post, canary_py_post = _canary_pair()
    load_after = os.getloadavg()

    def _n_pids() -> int:
        try:
            return sum(1 for p in os.listdir("/proc") if p.isdigit())
        except OSError:
            return -1

    # noisy-run annotation (r8 verdict #5 follow-through): a loaded
    # box inflates even min-of-3 timings (the r5/r7/r8 rounds each
    # burned verdict space re-attributing host noise). Thresholds from
    # the recorded history on this 32-core box: quiet anchors ran at
    # loadavg 0.05-2.8; the runs that needed re-attribution started at
    # 1-min 6-24 or 5-min ~8.7. The flag REPORTS, never refuses — the
    # driver must always get its number — and the reading rule lives
    # in NOTES.md: a noisy=true BENCH_r*.json is compared per-query
    # against the prior round's QUIET anchor, not suite-to-suite.
    noisy = load_before[0] > 4.0 or load_before[1] > 8.0

    total = round(sum(timings.values()), 4)
    # registry_value = the 50 driver-gated queries only — the number
    # comparable across rounds when BENCH_EXTRA (rotated-out,
    # bench-only queries) changes the full-suite composition
    registry = round(
        sum(v for q, v in timings.items() if q in Q.QUERIES), 4
    )
    registry_md5 = _order_md5(Q.QUERIES)
    # Full per-query line FIRST, compact summary LAST (r10 verdict
    # #3, attempt two): the driver TAIL-captures stdout, so whatever
    # prints last survives; r10's compact-line-FIRST fix scrolled the
    # short line out behind the ~2.5 KB per-query line and the tail
    # clipped the long line's front (BENCH_r10.json parsed: null).
    # With the long line first, the tail window always ends with the
    # short compact line intact. The tail still clips the long line's
    # front (PERF_r14/r15 parsed per_query: empty), so the compact line
    # carries every per-query time itself (per_query_ms).
    print(json.dumps({
        "metric": "query_suite_wall_time",
        "value": total,
        "registry_value": registry,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        # host-speed canaries: min-of-5 walls of the pinned pure-CPU
        # JVM job and the pinned Python-worker job (docstring), each
        # measured before AND after the timed passes — divide
        # registry_value by canary_sec (python-heavy queries by
        # canary_py_sec) to normalize a cross-round comparison for
        # host drift; a pre/post gap flags mid-run drift
        "canary_sec": canary,
        "canary_py_sec": canary_py,
        "canary_post_sec": canary_post,
        "canary_py_post_sec": canary_py_post,
        # host-load fingerprint: 1/5/15-min loadavg sampled before and
        # after the timed passes, plus the live PID count — a loaded
        # box (loadavg >> 32 or a PID spike) explains a slow round
        # without blaming the code
        "host": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in load_after],
            "n_pids": _n_pids(),
            "passes": PASSES,
            "agg": "min",
            "noisy": noisy,
            "noisy_rule": "loadavg1>4 or loadavg5>8 at start",
        },
        # registry_value is only comparable across rounds while the
        # 50-slot registry's COMPOSITION is unchanged — this
        # fingerprint (md5 of the sorted gate names) flags a rotation
        # so a cross-round diff doesn't misread composition drift as
        # code drift
        "registry_md5": registry_md5,
    }))
    print(compact_line(
        timings,
        metric="query_suite_wall_time",
        value=total,
        registry_value=registry,
        unit="sec",
        sf=sf_dir,
        noisy=noisy,
        canary_sec=canary,
        canary_py_sec=canary_py,
        canary_post_sec=canary_post,
        canary_py_post_sec=canary_py_post,
        registry_md5=registry_md5,
    ))


if __name__ == "__main__":
    main()
