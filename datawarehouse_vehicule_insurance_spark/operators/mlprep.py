"""ML-prep operators: per-group fitting / normalization.

Demonstrates the grouped-pandas API surface (``applyInPandas``): each
group arrives as one Arrow-backed pandas DataFrame, numpy computes, a
compact result row leaves. Use ONLY when the per-group computation is
genuinely not expressible as SQL aggregates — for linear regression it
IS expressible (``regr_slope``/``regr_intercept``), which the test uses
as the oracle for the pandas path.

Scale note: applyInPandas shuffles whole groups to single tasks — a
mega-group OOMs the worker. Guard rails: only use for bounded-size
groups (per-entity model fits), never per-popular-key aggregation; that
is what the SQL aggregates and salted_agg are for.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def grouped_linear_fit(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group OLS fit of ``y ~ x`` via applyInPandas (numpy lstsq).
    Returns (group, slope, intercept, n). The group column keeps its
    input type (same contract as :func:`native_linear_fit`)."""
    out_schema = T.StructType([
        T.StructField(group_col, df.schema[group_col].dataType),
        T.StructField("slope", T.DoubleType()),
        T.StructField("intercept", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = pdf[x_col].to_numpy(dtype=np.float64)
        y = pdf[y_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        if n < 2 or np.ptp(x) == 0:
            slope, intercept = float("nan"), float("nan")
        else:
            a = np.vstack([x, np.ones(n)]).T
            slope, intercept = np.linalg.lstsq(a, y, rcond=None)[0]
        return pd.DataFrame({
            group_col: [pdf[group_col].iloc[0]],
            "slope": [float(slope)],
            "intercept": [float(intercept)],
            "n": [n],
        })

    return df.groupBy(group_col).applyInPandas(_fit, out_schema)


def native_linear_fit(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """The same fit as native SQL aggregates — the preferred form (one
    partial+final hash aggregation, no Python, no whole-group shuffle)."""
    return df.groupBy(group_col).agg(
        F.regr_slope(y_col, x_col).alias("slope"),
        F.regr_intercept(y_col, x_col).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling for dataset balancing (e.g.
    down-weighting an over-represented language or source). Thin wrapper
    over ``sampleBy`` — one narrow pass, no shuffle; seeded so a rerun
    reproduces the same sample (per-row hash decision, independent of
    partitioning)."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def extract_domain(url):
    """Lowercased host extracted from a URL-ish string (scheme and
    userinfo optional; port and path are dropped) — the grouping key for
    per-source frequency capping. Pure regexp (codegen, no UDF);
    NULL stays NULL, an unparseable string yields an empty string."""
    return F.lower(F.regexp_extract(
        url, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@\s]*@)?([^/:?#\s]+)", 1
    ))


def salted_topn_precut(
    df: DataFrame,
    key_col: str,
    max_per_key: int,
    ord_cols: list,
    id_col: str = "doc_id",
    salt: int = 16,
) -> DataFrame:
    """Phase 1 of the two-phase salted top-N (the skew guard shared by
    :func:`cap_per_key` and the streaming loop's admission quota): rank
    within (key, hash-salt) — each partition holds ~1/``salt`` of a hot
    key — and keep ``max_per_key`` per salt bucket, so the final
    per-key ranking window's input is bounded at ``salt · max_per_key``
    rows regardless of key skew. LOSSLESS for any downstream per-key
    budget ≤ ``max_per_key``: a row's global rank under ``ord_cols`` is
    ≥ its rank within its own salt bucket. Uses the ``__salt``/``__r1``
    working columns (callers guard them)."""
    from pyspark.sql import Window

    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col), F.lit(1)), F.lit(salt))
    )
    w1 = Window.partitionBy(key_col, "__salt").orderBy(*ord_cols)
    return (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= max_per_key)
        .drop("__salt", "__r1")
    )


def stored_budget_filter(
    ranked: DataFrame,
    key_col: str,
    rank_col: str,
    max_per_key: int,
    stored_counts: DataFrame,
) -> DataFrame:
    """The cap-minus-stored admission filter shared by
    :func:`cap_per_key` and the streaming loop's quota: merge the
    stored-count partials to totals (stamp-validated when present;
    strict about stray columns), NULL-safe join them onto the ranked
    frame, and keep rows whose per-key rank fits the remaining budget.
    Drops ``rank_col`` and its ``__src``/``__stored`` working columns
    (callers guard those names)."""
    from .dedup import merge_source_counts, validate_source_params

    validate_source_params(stored_counts, key_col)
    stored = merge_source_counts(stored_counts).select(
        F.col(key_col).alias("__src"), F.col("n_docs").alias("__stored")
    )
    budget = F.lit(int(max_per_key)) - F.coalesce(
        F.col("__stored"), F.lit(0)
    )
    return (
        ranked.join(
            stored, F.col(key_col).eqNullSafe(F.col("__src")), "left"
        )
        .filter(F.col(rank_col) <= budget)
        .drop(rank_col, "__src", "__stored")
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    max_per_key: int,
    order_by=None,
    id_col: str = "doc_id",
    salt: int = 16,
    stored_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-source frequency capping (the crawl-pipeline 'at most N
    documents per domain' rule): keep the top ``max_per_key`` rows of
    every ``key_col`` group, deterministically.

    Retention order: ``order_by`` (a Column, descending-is-better
    semantics are the caller's — pass e.g. ``F.col("quality")`` to keep
    the highest-quality N) with ``id_col`` ascending as the tiebreak;
    with ``order_by=None`` the choice is a seeded pseudo-random but
    reproducible subset (ordered by ``xxhash64(id)``).

    Scale shape — the reason this is not one ``row_number`` window: a
    mega-domain (every crawl has one) would sort ALL its rows in a
    single task. Instead the standard two-phase salted top-N: phase 1
    ranks within (key, hash-salt) — each partition holds ~1/``salt`` of
    a hot key — and keeps ``max_per_key`` per salt bucket; phase 2
    ranks the surviving ≤ ``salt · max_per_key`` candidates per key,
    which is bounded regardless of key skew. Results are EXACTLY equal
    to the single-window form (phase 1 can never evict a global top-N
    row, because a row's global rank is ≥ its rank within its own salt
    bucket).

    ``stored_counts`` (optional) is a persisted
    :func:`~.dedup.source_count_table` (or its per-batch partials) of
    an EXISTING corpus keyed on ``key_col``: each key's budget becomes
    ``max_per_key - stored`` instead of the flat cap — the batch twin
    of the streaming loop's index-fed admission quota, for curating a
    new pool against an already-released corpus. Stamp-validated;
    NULL-key counts charge the NULL slice (null-safe join); a key at
    or over quota keeps nothing. Phase 1 stays lossless because every
    budget is ≤ ``max_per_key``."""
    from pyspark.sql import Window

    if max_per_key < 1:
        raise ValueError("max_per_key must be >= 1")
    for reserved in ("__salt", "__r1", "__r2", "__src", "__stored"):
        if reserved in df.columns:
            raise ValueError(
                f"cap_per_key: input column {reserved!r} collides with "
                "an internal working column — rename it first (mirrors "
                "the dsir_log_weights reserved-column guard)"
            )
    ord_cols = (
        [order_by.desc(), F.col(id_col).asc()]
        if order_by is not None
        else [F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()]
    )
    cands = salted_topn_precut(
        df, key_col, max_per_key, ord_cols, id_col=id_col, salt=salt
    )
    w2 = Window.partitionBy(key_col).orderBy(*ord_cols)
    ranked = cands.withColumn("__r2", F.row_number().over(w2))
    if stored_counts is None:
        return ranked.filter(F.col("__r2") <= max_per_key).drop("__r2")
    return stored_budget_filter(
        ranked, key_col, "__r2", max_per_key, stored_counts
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shuffle_seed: int = 42,
    order_col: str | None = None,
) -> None:
    """Write a training-ready sharded dataset: exactly ``n_shards``
    similarly-sized parquet files, rows pseudo-randomly (seeded) assigned
    to shards so each shard is an unbiased sample — the layout data
    loaders expect (shard-per-worker, deterministic restart).

    ``repartition(n, expr)`` hash-distributes on a seeded per-row hash —
    a full shuffle, paid once at export. ``order_col`` optionally sorts
    within each shard (e.g. by length for batching efficiency).
    """
    key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(shuffle_seed))
    out = df.repartition(n_shards, key)
    if order_col is not None:
        out = out.sortWithinPartitions(order_col)
    out.write.mode("overwrite").parquet(path)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    max_len: int = 2048,
    num_shards: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences
    (first-fit-decreasing bin packing) — the step that turns a curated
    corpus into dense ``max_len``-token samples without cross-document
    truncation.

    Exact sequential packing is inherently serial, so the distributed
    shape shards the corpus by a seeded id hash (``num_shards``
    independent packing problems), then FFD-packs each shard in one
    ``applyInPandas`` task: sort by (tokens desc, id), drop each doc
    into the first sequence with room. FFD wastes at most ~22% vs the
    unknowable optimum (11/9·OPT + 1 per shard); the loss from sharding
    itself is at most one underfull sequence per shard. Deterministic
    for fixed (data, seed, num_shards) — the pack runs on sorted input,
    so partitioning of the input does not matter.

    A document longer than ``max_len`` gets a singleton sequence with
    ``overflow = true`` (callers split or drop those upstream; flagging
    beats silent truncation). Returns one row per document:
    (id, tokens, seq_id, overflow), ``seq_id`` globally unique.

    Scale note: a shard is one task — size ``num_shards`` so a shard's
    (id, tokens) pairs fit one worker (the pack never sees text, only
    token counts; 10M docs/shard ≈ 160 MB).
    """
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField(token_col, T.LongType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("overflow", T.BooleanType()),
    ])
    shard = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(num_shards))
    slim = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias(token_col),
        shard.alias("__shard"),
    )

    def _pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        room: list[int] = []          # remaining capacity per open sequence
        assign: list[int] = []
        overflow: list[bool] = []
        for tok in pdf[token_col]:
            tok = int(tok)
            if tok > max_len:
                room.append(0)
                assign.append(len(room) - 1)
                overflow.append(True)
                continue
            for i, cap in enumerate(room):
                if cap >= tok:
                    room[i] = cap - tok
                    assign.append(i)
                    break
            else:
                room.append(max_len - tok)
                assign.append(len(room) - 1)
            overflow.append(False)
        base = shard_id << 40
        return pd.DataFrame({
            id_col: pdf[id_col],
            token_col: pdf[token_col],
            "seq_id": [base + a for a in assign],
            "overflow": overflow,
        })

    return slim.groupBy("__shard").applyInPandas(_pack, out_schema)


def packing_stats(
    packed: DataFrame,
    max_len: int,
    token_col: str = "n_tokens",
    seq_col: str = "seq_id",
    overflow_col: str = "overflow",
) -> DataFrame:
    """One-row efficiency datasheet of a :func:`pack_sequences` /
    :func:`tokenize_and_pack` output — the number a training run plans
    loader throughput and padding waste against:

    - ``n_docs`` / ``n_seqs`` / ``n_overflow_docs`` — volume and the
      too-long flag count (SEQUENCES containing an overflow row are
      excluded from the fill stats wholesale — a zero-token doc FFD
      places into an overflow singleton must not leak that sequence
      back in; overflow handling is the caller's policy);
    - ``total_tokens`` — tokens in packed (non-overflow) sequences;
    - ``fill_rate`` — total_tokens / (n_seqs · max_len): the fraction
      of the training batch that is data rather than padding;
    - ``mean_fill`` / ``p50_fill`` / ``min_fill`` — per-sequence token
      counts (exact median via percentile, bounded reducer state).

    ``token_col`` defaults to :func:`pack_sequences`'s ``n_tokens``
    and auto-detects :func:`tokenize_and_pack`'s ``bpe_token_count``
    when the default is absent, so both documented compositions work
    unmodified.

    Two bounded aggregations (per-sequence, then 1-row global) plus a
    1-row crossJoin for the overflow counter — no driver collect."""
    if (
        token_col == "n_tokens"
        and token_col not in packed.columns
        and "bpe_token_count" in packed.columns
    ):
        token_col = "bpe_token_count"
    per_seq = (
        packed.groupBy(seq_col)
        .agg(
            F.sum(token_col).alias("__fill"),
            F.max(F.col(overflow_col)).alias("__of"),
        )
        .filter(~F.col("__of"))
    )
    overflow = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col(overflow_col), 1).otherwise(0))
        .alias("n_overflow_docs"),
    )
    return (
        per_seq.agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__fill").alias("total_tokens"),
            F.round(F.avg("__fill"), 4).alias("mean_fill"),
            F.expr("percentile(__fill, 0.5)").alias("p50_fill"),
            F.min("__fill").alias("min_fill"),
        )
        .crossJoin(overflow)  # 1-row frames — bounded by construction
        .select(
            "n_docs", "n_seqs", "n_overflow_docs", "total_tokens",
            F.round(
                F.col("total_tokens")
                / (F.col("n_seqs") * F.lit(float(max_len))), 6
            ).alias("fill_rate"),
            "mean_fill", "p50_fill", "min_fill",
        )
    )


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_features: int = 4096,
    reg_param: float = 0.0,
    max_iter: int = 50,
):
    """Train a fasttext-style document-quality classifier: whitespace
    tokens → hashing-trick bag-of-words (``HashingTF``) → logistic
    regression. The curation pattern behind "classifier-filtered" web
    corpora (train on a small labeled seed — e.g. wiki-vs-crawl — then
    score the whole corpus).

    Scale shape: the hashing trick is stateless and per-row (no
    vocabulary build, no broadcast dictionary — a fixed ``n_features``-
    dim sparse vector regardless of corpus size), and Spark ML's
    logistic regression trains with L-BFGS over ``treeAggregate``
    gradient passes — each iteration is one map-side partial-gradient
    pass, no per-row state on the driver. Inference
    (:func:`score_quality`) is a pure per-partition transform.

    Returns the fitted ``pyspark.ml.PipelineModel``.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__toks", pattern=r"\s+",
        toLowercase=True,
    )
    tf = HashingTF(
        inputCol="__toks", outputCol="__features", numFeatures=n_features
    )
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
    )
    model = Pipeline(stages=[tok, tf, lr]).fit(labeled)
    _strip_training_summary(model.stages[-1])
    return model


def _strip_training_summary(lr_model) -> None:
    """Detach the training summary from a fitted LR model.

    Spark 4.1's ``LogisticRegressionModel`` keeps its training summary
    (→ the SparkSession) in a non-transient field, and the session's
    ``observationManager`` lazy val is NOT serializable once any
    ``Observation`` has been used on the session (e.g. the medallion
    Pipeline's row counters). ``model.transform`` then dies with
    ``NotSerializableException: ObservationManager`` when the predict
    UDF closure — which captures the model — is shipped to executors.
    ``setSummary`` is ``private[spark]`` (public at bytecode level);
    dropping the summary cuts the model→session edge so the scoring
    pass serializes in any session. Best-effort: if the internal API
    moves, scoring still works in sessions that never observe()."""
    try:
        from pyspark.core.context import SparkContext

        jvm = SparkContext._active_spark_context._jvm
        lr_model._java_obj.setSummary(jvm.scala.Option.empty())
    except Exception:  # pragma: no cover — internal-API drift fallback
        pass


def score_quality(
    model,
    df: DataFrame,
    text_col: str = "text",
    score_col: str = "quality_score",
) -> DataFrame:
    """Append P(label=1) from a :func:`train_quality_classifier` model —
    the corpus-wide scoring pass (filter/threshold is the caller's
    policy). Drops the intermediate token/feature/raw columns; one
    narrow per-partition transform, no shuffle.

    The model's intermediate column names (``__toks``, ``__features``,
    ``rawPrediction``, ``probability``, ``prediction``) are shielded
    from the input: any input column with one of those names is
    temporarily renamed around the transform and restored afterwards,
    so user data never collides with (or gets dropped by) the ML
    intermediates. ``score_col`` replaces an existing column of the
    same name (standard ``withColumn`` semantics), but may not be one
    of the reserved intermediate names — the score would be dropped or
    clobbered by the shield/restore dance, so that raises."""
    from pyspark.ml.functions import vector_to_array

    reserved = (
        "__toks", "__features", "rawPrediction", "probability", "prediction"
    )
    if score_col in reserved:
        raise ValueError(
            f"score_col {score_col!r} collides with a reserved ML "
            f"intermediate column name {reserved}; choose another name"
        )
    shield = {
        c: f"__shielded_{c}"
        for c in df.columns
        if c in reserved and c != text_col
    }
    work = df
    for orig, tmp in shield.items():
        work = work.withColumnRenamed(orig, tmp)
    probs = model.transform(work)
    p1 = F.element_at(vector_to_array(F.col("probability")), 2)
    out = probs.withColumn(score_col, F.round(p1, 6)).drop(*reserved)
    for orig, tmp in shield.items():
        out = out.withColumnRenamed(tmp, orig)
    return out


def temperature_fractions(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.7,
    target_rows: int | None = None,
) -> dict:
    """Per-domain sampling fractions for a temperature-weighted training
    mix: domain probability ∝ count^alpha (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform — the standard multilingual/
    multi-domain reweighting), scaled so the expected sample size is
    ``target_rows`` (default: the input size). Fractions cap at 1.0 —
    up-sampling is the data loader's job (repeat epochs), not the
    engine's.

    One partial+final count aggregation; the collect is one row per
    DOMAIN (bounded — domains are a small vocabulary by construction,
    not a data-scale key space)."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r[0] is not None
    }
    total = sum(counts.values())
    if not counts:
        return {}
    if target_rows is None:
        target_rows = total
    wsum = sum(c ** alpha for c in counts.values())
    return {
        d: min(1.0, target_rows * (c ** alpha / wsum) / c)
        for d, c in counts.items()
    }


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.7,
    target_rows: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Temperature-weighted domain mix in one shot:
    :func:`temperature_fractions` → :func:`stratified_sample` (seeded
    per-row Bernoulli, no shuffle). Rows whose domain is NULL are
    dropped (no defined weight)."""
    fr = temperature_fractions(df, domain_col, alpha, target_rows)
    return stratified_sample(df, domain_col, fr, seed=seed)


def dsir_log_weights(
    docs: DataFrame,
    target_model: tuple,
    raw_model: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.1,
    lam: float = 0.7,
) -> DataFrame:
    """Data Selection via Importance Resampling weights (the DSIR
    recipe, Xie et al. 2023, arXiv:2302.03169): score every candidate
    document under TWO n-gram language models — one trained on the
    target distribution (e.g. curated/benchmark-like text) and one on
    the raw pool — and append the log importance weight

        log w(x) = log p_target(x) − log p_raw(x)

    Documents that look more like the target than like the pool get
    positive weights. ``target_model`` / ``raw_model`` are the
    (bigrams, unigrams) table pairs from
    :func:`~.text_analysis.bigram_lm_tables` — persistable, mergeable,
    parameter-stamped; training them is a one-off pass over each
    corpus, after which weighting any number of candidate batches costs
    two broadcast-joined scoring passes (the
    :func:`~.text_analysis.lm_perplexity` plan) and no model state on
    the driver.

    log p(x) is reconstructed from the per-position mean that
    ``lm_perplexity`` computes: ``avg_logp × (n_tokens − 1)`` (bigram
    positions). Documents with fewer than two tokens (or NULL text)
    have no positions and get a NULL ``log_weight`` — the resampler
    excludes them (decide such docs upstream).

    ``id_col`` must be UNIQUE per row (the standard candidate-corpus
    contract): the fused single-explode scoring pools bigram rows per
    id, so duplicate ids would each receive the POOLED weight over all
    their rows' positions rather than a per-row weight. Dedup or
    re-key upstream if candidate rows can share an id.

    Scale shape: ONE narrow bigram explode of the candidate corpus is
    joined to BOTH models' dim-sized tables (AQE broadcasts) and both
    per-position log-probs are averaged in the same per-doc aggregate —
    the corpus is tokenized once, not once per model (r14 optimization;
    the per-row log-prob values and their per-partition accumulation
    order are identical to two separate ``lm_perplexity`` passes, so
    the rounded outputs are unchanged). The bigram-position count the
    weight needs falls out of the same aggregate for free — no third
    pass over the text. No driver state, no UDF.
    """
    from .text_analysis import (
        LM_PARAMS_COL,
        _doc_bigrams,
        _validate_lm_stamp,
    )

    if "log_weight" in docs.columns:
        raise ValueError(
            "docs already has a log_weight column; rename it first"
        )
    for model, what in ((target_model, "target"), (raw_model, "raw")):
        _validate_lm_stamp(model[0], f"{what} bigram")
        _validate_lm_stamp(model[1], f"{what} unigram")
    proj = docs.select(id_col, text_col)
    k = F.lit(k_smooth)

    def _model_sides(model: tuple, tag: str):
        bg = model[0].drop(LM_PARAMS_COL).select(
            "prev_hash", "w_hash", F.col("n_pair").alias(f"__np_{tag}")
        )
        uni = model[1].drop(LM_PARAMS_COL)
        ctx = uni.select(
            F.col("tok_hash").alias("prev_hash"),
            F.col("n_prev").alias(f"__nprev_{tag}"),
        )
        cur = uni.select(
            F.col("tok_hash").alias("w_hash"),
            F.col("n_tok").alias(f"__ntok_{tag}"),
        )
        v = uni.agg(
            F.max("__vocab").alias(f"__V_{tag}"),
            F.max("__total").alias(f"__N_{tag}"),
        )
        return bg, ctx, cur, v

    def _logp(tag: str) -> F.Column:
        p_bigram = (F.coalesce(F.col(f"__np_{tag}"), F.lit(0)) + k) / (
            F.coalesce(F.col(f"__nprev_{tag}"), F.lit(0))
            + k * F.col(f"__V_{tag}")
        )
        p_unigram = (F.coalesce(F.col(f"__ntok_{tag}"), F.lit(0)) + k) / (
            F.col(f"__N_{tag}") + k * F.col(f"__V_{tag}")
        )
        return F.log(F.lit(lam) * p_bigram + F.lit(1.0 - lam) * p_unigram)

    bg_t, ctx_t, cur_t, v_t = _model_sides(target_model, "t")
    bg_r, ctx_r, cur_r, v_r = _model_sides(raw_model, "r")
    scored = (
        _doc_bigrams(proj, text_col, id_col)
        .join(bg_t, ["prev_hash", "w_hash"], "left")
        .join(ctx_t, ["prev_hash"], "left")
        .join(cur_t, ["w_hash"], "left")
        .join(bg_r, ["prev_hash", "w_hash"], "left")
        .join(ctx_r, ["prev_hash"], "left")
        .join(cur_r, ["w_hash"], "left")
        .crossJoin(v_t)  # 1-row frames — bounded by construction
        .crossJoin(v_r)
        .select(
            id_col,
            _logp("t").alias("__lt"),
            _logp("r").alias("__lr"),
        )
        .groupBy(id_col)
        .agg(
            F.avg("__lt").alias("__t_avg"),
            F.avg("__lr").alias("__r_avg"),
            # one row per bigram position — exactly the n_tokens − 1
            # factor log w(x) needs; docs with < 2 tokens have no rows
            # and surface as NULL through the left join, as before
            F.count(F.lit(1)).alias("__n_pos"),
        )
    )
    weights = scored.select(
        id_col,
        F.round(
            (F.col("__t_avg") - F.col("__r_avg")) * F.col("__n_pos"), 6
        ).alias("log_weight"),
    )
    return docs.join(weights, id_col, "left")


def dsir_resample(
    docs: DataFrame,
    target_model: tuple,
    raw_model: tuple,
    n: int,
    seed: int = 42,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.1,
    lam: float = 0.7,
) -> DataFrame:
    """Select ``n`` documents by DSIR importance resampling: sample
    without replacement with probability ∝ exp(log_weight /
    temperature), via the Gumbel-top-k trick — each doc gets the key

        key_i = log w(x_i)/temperature + Gumbel_i

    and the n largest keys are exactly a weighted sample without
    replacement. Gumbel noise is derived deterministically from
    (id, seed) — ``xxhash64`` → uniform in (0,1) → −ln(−ln(u)) — so the
    same call returns the same sample on any cluster layout, and reruns
    are reproducible without driver-side RNG state.

    ``temperature`` interpolates between weighted sampling (1.0) and
    hard top-n by weight (→0); large values approach uniform sampling.
    NULL-weight documents (< 2 tokens) are excluded.

    Scale shape: the ranking is ``orderBy(key desc).limit(n)`` — Spark
    plans TakeOrderedAndProject: per-partition top-n then a driver-side
    merge of n-row partials, no global sort shuffle. Returns the
    selected rows with the input schema.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0 (use a small value "
                         "for near-argmax selection)")
    cols = docs.columns
    weighted = dsir_log_weights(
        docs, target_model, raw_model, text_col, id_col, k_smooth, lam
    )
    m = float(1 << 52)
    u = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit(int(seed))), F.lit(1 << 52))
        .cast("double") + F.lit(0.5)
    ) / F.lit(m)
    gumbel = -F.log(-F.log(u))
    key = F.col("log_weight") / F.lit(float(temperature)) + gumbel
    return (
        weighted.filter(F.col("log_weight").isNotNull())
        .withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(n)
        .select(*cols)
    )


def tokenize_and_pack(
    docs: DataFrame,
    merges: DataFrame,
    max_len: int = 2048,
    num_shards: int = 64,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 200,
    max_words: int = 50_000,
    byte_level: bool = False,
) -> DataFrame:
    """The last mile of the training-data pipeline in one call: count
    each document's REAL subword tokens under a trained BPE vocabulary
    (:func:`~.text_analysis.bpe_token_count` against the persisted
    merges table) and FFD-pack documents into ``max_len``-token
    training sequences (:func:`pack_sequences`). Returns one row per
    document: (id, bpe_token_count, seq_id, overflow).

    Why this composition matters: packing against whitespace token
    counts overfills sequences wherever the tokenizer splits words
    (every sequence then truncates at load time); packing against the
    actual vocabulary's counts is what makes ``max_len`` a real
    contract. One Arrow-batched count pass + the sharded pack — text
    never reaches the packer."""
    from .text_analysis import bpe_token_count, bpe_token_count_bytes

    # byte_level selects the collision-free byte-alphabet counter; each
    # counter validates its own stamp, so a table of the other kind
    # raises loudly instead of producing a silently different packing
    counter = bpe_token_count_bytes if byte_level else bpe_token_count
    counted = counter(
        docs, merges, num_merges=num_merges, max_words=max_words,
        text_col=text_col, out_col="bpe_token_count",
    ).filter(
        # NULL text has no tokens to pack
        F.col("bpe_token_count").isNotNull()
    )
    return pack_sequences(
        counted.select(id_col, "bpe_token_count"),
        id_col=id_col,
        token_col="bpe_token_count",
        max_len=max_len,
        num_shards=num_shards,
        seed=seed,
    )
