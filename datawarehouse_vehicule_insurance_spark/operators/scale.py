"""Scale utilities: skew-safe aggregation, partitioned-write helpers.

These encode the 100-TB playbook (SURVEY.md §7.2 step 7) as reusable
operators:

- :func:`salted_agg` — two-phase aggregation for skewed group keys. AQE's
  skew-join splitting handles joins, but a single mega-group in a groupBy
  still lands on one reducer; salting splits it N ways then re-combines.
- :func:`with_date_partitions` — derive year/month partition columns for
  date-partitioned fact writes (Catalyst partition pruning on read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: aggregates that can be split into (partial per salt) → (final combine)
_COMBINERS: dict[str, tuple] = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "max": (F.max, F.max),
    "min": (F.min, F.min),
}


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe ``groupBy(key).agg(...)``: phase 1 groups on
    (key, random salt) so a hot key spreads over ``salt_buckets``
    reducers; phase 2 combines the partials on the key alone (tiny input
    — one row per key per salt).

    ``aggs`` maps output column name → (function, input column), with
    function ∈ {sum, count, max, min} (the decomposable aggregates; avg =
    sum/count composed by the caller).

    Equivalent to the plain aggregation (tested), with the shuffle-skew
    profile flattened. Use when a key's row share is large enough that
    one reducer becomes the straggler — e.g. a boilerplate document hash
    or a mega-client id.
    """
    for name, (fn, _col) in aggs.items():
        if fn not in _COMBINERS:
            raise ValueError(
                f"{name}: '{fn}' is not decomposable; use sum/count/max/min"
            )

    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(key, "__salt").agg(*[
        _COMBINERS[fn][0](col).alias(f"__p_{name}")
        for name, (fn, col) in aggs.items()
    ])
    final = partial.groupBy(key).agg(*[
        _COMBINERS[fn][1](f"__p_{name}").alias(name)
        for name, (fn, col) in aggs.items()
    ])
    return final


def with_date_partitions(
    df: DataFrame, date_col: str, granularity: str = "month"
) -> DataFrame:
    """Append partition columns derived from a date/timestamp column for
    partitioned fact writes: ``year`` (+ ``month`` when granularity is
    'month'). Readers filtering on these columns get directory-level
    partition pruning."""
    out = df.withColumn("year", F.year(date_col))
    if granularity == "month":
        out = out.withColumn("month", F.month(date_col))
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+ sorted) table: rows are hash-partitioned
    into ``n_buckets`` files per partition by ``bucket_col`` at WRITE
    time, so later joins/aggregations on that column read co-located
    data and skip the shuffle entirely (the plan shows a SortMergeJoin
    with NO Exchange). The 100-TB pattern for fact-to-fact joins that
    recur on the same key — pay the partitioning once at ingest."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def explain_shuffles(df: DataFrame) -> dict[str, int]:
    """Count exchange/broadcast nodes in the executed plan — a cheap
    plan-quality probe used by tests to assert shuffle budgets.

    HARD-REQUIRES classic mode (raises under Spark Connect, no
    fallback): this is a diagnostic whose entire value is the JVM
    plan — returning zeros without one would make every shuffle-budget
    assertion built on it vacuously pass (README "Spark Connect
    compatibility")."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": plan.count("Exchange"),
        "broadcasts": plan.count("BroadcastExchange"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
    }


def profile_table(df: DataFrame) -> DataFrame:
    """Single-pass column profiling (the ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`` shape): per column — row count, null count,
    approximate distinct count (HLL, mergeable), and min/max for
    orderable types. ALL columns are profiled in ONE aggregation over ONE
    scan (every stat is partial+final combinable); the result is unpivoted
    driver-side from a single row, so cost is one pass regardless of
    column count — at 100 TB the scan dominates and nothing shuffles but
    one row per partition.
    """
    numeric_like = {"int", "bigint", "smallint", "tinyint", "double",
                    "float", "date", "timestamp", "timestamp_ntz"}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c, t in df.dtypes:
        base = t.split("(")[0]
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls")
        )
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__distinct"))
        orderable = base in numeric_like or base == "decimal"
        aggs.append(
            (F.min(c) if orderable else F.lit(None)).cast("string").alias(f"{c}__min")
        )
        aggs.append(
            (F.max(c) if orderable else F.lit(None)).cast("string").alias(f"{c}__max")
        )
    row = df.agg(*aggs).collect()[0].asDict()
    spark = df.sparkSession
    out = [
        (c, t, row["__n"], row[f"{c}__nulls"], row[f"{c}__distinct"],
         row[f"{c}__min"], row[f"{c}__max"])
        for c, t in df.dtypes
    ]
    return spark.createDataFrame(
        out,
        "column string, dtype string, n_rows long, n_nulls long, "
        "approx_distinct long, min string, max string",
    )


def approx_heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    capacity: int = 1024,
) -> DataFrame:
    """Top-k frequent items over an unbounded domain with bounded memory
    (Misra-Gries / SpaceSaving): the scale answer when an exact
    ``groupBy(col).count()`` would shuffle a 100-TB-scale vocabulary.

    1. Each partition builds a summary of ≤ ``capacity`` items via
       ``mapInPandas`` (merge a batch's value_counts, then prune by
       subtracting the (capacity+1)-th largest weight — the classic MG
       decrement, so every kept weight is a lower bound with undercount
       ≤ n_partition / capacity).
    2. Partials merge by summing per item (MG summaries are mergeable);
       every item with true frequency > n/capacity survives.
    3. An exact second pass counts ONLY the candidate items (broadcast
       semi-join) — final top-k counts are exact, not estimates.

    Candidate cut: MG weights undercount by at most the partition's
    total decrement, so an item's true count is bounded by
    ``merged_weight + D`` where ``D`` is the summed decrement across all
    partitions (emitted as a NULL-item sentinel row). Any item whose
    upper bound falls below the k-th largest merged lower bound cannot
    be a true top-k item — that is the only pruning applied, so the
    exact-top-k claim holds whenever the true k-th count exceeds ``D``
    (the standard MG capacity condition). A fixed ``limit(4k)`` cut
    (the previous form) could drop a true top-k item under near-ties.

    Deterministic output: ties broken on the item value.
    """
    import pandas as pd

    def mg_partition(batches):
        counts: dict = {}
        decr = 0
        for pdf in batches:
            for v, c in pdf[col].dropna().value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > capacity:
                thresh = sorted(counts.values(), reverse=True)[capacity]
                decr += thresh
                counts = {
                    v: c - thresh for v, c in counts.items() if c > thresh
                }
        out = pd.DataFrame(
            {"item": list(counts), "weight": list(counts.values())}
        )
        if decr:
            out = pd.concat(
                [out, pd.DataFrame({"item": [None], "weight": [decr]})],
                ignore_index=True,
            )
        yield out

    from .plancut import checkpoint_cut

    partials = checkpoint_cut(
        df.select(F.col(col).cast("string").alias(col)).mapInPandas(
            mg_partition, schema="item string, weight long"
        )
    )
    merged = (
        partials.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("weight").alias("weight"))
    )
    slack = partials.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("weight"), F.lit(0)).alias("__slack")
    )
    kth = (
        merged.orderBy(F.col("weight").desc(), F.col("item").asc())
        .limit(k)
        .agg(F.coalesce(F.min("weight"), F.lit(0)).alias("__kth"))
    )
    candidates = (
        merged.crossJoin(F.broadcast(slack))
        .crossJoin(F.broadcast(kth))
        .filter(F.col("weight") + F.col("__slack") >= F.col("__kth"))
        .select("item")
    )
    exact = (
        df.join(
            F.broadcast(candidates),
            F.col(col).cast("string") == F.col("item"),
        )
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("item").asc())
        .limit(k)
    )
    return exact


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe equi-join by salting: the big (skewed) side gets a
    random salt in [0, ``salt_buckets``); the small side is replicated
    once per salt value; joining on (key, salt) spreads a hot key's rows
    over ``salt_buckets`` tasks instead of one straggler. Result is
    row-identical to the plain join (each match pairs with exactly the
    one replica carrying its salt — tested).

    AQE's skew-join splitting covers sort-merge joins at runtime; reach
    for explicit salting when the skewed side must shuffle-hash join, or
    the engine/config runs without AQE, or the skew is known at plan
    time and you want a deterministic layout. Cost: small side is
    materialized ``salt_buckets`` times — keep it broadcast-sized.
    ``how`` ∈ {inner, left} (the outer row-preservation cases that make
    sense with a replicated right side).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got '{how}'")
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted_big.join(replicated, [key, "__salt"], how).drop("__salt")


def zorder_value(
    cols: list[Column], mins: list[float], maxs: list[float], bits: int = 16
) -> Column:
    """Z-order (Morton) key: each column is linearly quantized to
    ``bits`` buckets over [min, max], then the bucket bits are
    interleaved into one long. Nearby z-values are nearby in EVERY
    dimension, so range-partitioning + sorting by this key gives files
    whose min/max spans are tight on ALL the clustered columns at once —
    the multi-column data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER) expressed as native bit arithmetic, fully codegen'd.

    ``bits`` is clamped so the interleaved key fits in the 63
    non-sign bits of a long; otherwise the top bit of the last
    column would land in the sign bit and invert the range order."""
    n = len(cols)
    bits = min(bits, 63 // n)
    if bits < 1:
        raise ValueError(f"too many z-order columns ({n}): no bits left")
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1.0
        q = F.least(
            F.greatest(
                F.floor((c.cast("double") - F.lit(lo)) / F.lit(span)
                        * F.lit(float(2 ** bits))),
                F.lit(0),
            ),
            F.lit(2 ** bits - 1),
        ).cast("long")
        quantized.append(q)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, bit).bitwiseAND(F.lit(1)),
                    bit * n + j,
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write parquet clustered by the z-order of ``cols``: one scan to
    get per-column min/max (the quantization frame), then
    ``repartitionByRange`` on the z-key (range exchange — balanced
    output files) + in-partition sort, so every file's min/max
    statistics are tight on every clustered column and readers filtering
    on ANY of them skip most files/row-groups. Pay the one-time range
    shuffle at write; every subsequent selective read wins."""
    stats = df.agg(*[
        f(c).cast("double").alias(f"{which}_{c}")
        for c in cols
        for which, f in (("min", F.min), ("max", F.max))
    ]).collect()[0]
    mins = [stats[f"min_{c}"] for c in cols]
    maxs = [stats[f"max_{c}"] for c in cols]
    z = zorder_value([F.col(c) for c in cols], mins, maxs, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
