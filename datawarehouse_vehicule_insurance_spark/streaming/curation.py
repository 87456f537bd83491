"""Streaming incremental corpus curation — the recurring-crawl loop.

Additive scope beyond the reference (its loads are batch-only full
rebuilds, reference: load_bronze.py:88-101): each ``availableNow`` run
picks up exactly the document files that arrived since the last run
(the file-source checkpoint is the ledger), dedups the batch against
the GROWING accepted corpus via the persisted LSH/band and content-hash
indexes, and appends survivors plus their index rows — so per-run cost
is proportional to the new batch, and the corpus never pays a
re-signature.

Scale shape (the 100-TB argument):

- corpus side of the near-dup check is the persisted
  :func:`~..operators.dedup.band_table` — ~``bands`` 16-byte rows per
  document, met in a band-bucket equi-join; corpus TEXT is read only
  for candidate-pair verification (a left-semi restriction);
- corpus side of the exact check is the persisted
  :func:`~..operators.dedup.content_hash_table` — a 16-byte-key hash
  anti-join;
- every batch's writes land in a ``__batch_id`` partition via dynamic
  partition overwrite, so a replayed micro-batch (at-least-once
  ``foreachBatch``) rewrites its own partition with identical content:
  exactly-once per batch without a table format. On Delta/Iceberg the
  three appends become transactional appends and the replay guard is
  the (txnAppId, txnVersion) idempotent-writer contract instead.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.plancut import checkpoint_cut, cut_scope, mark_stage
from ..operators.dedup import (
    band_table,
    band_table_remove,
    content_hash_table,
    cross_corpus_verbatim_pairs,
    drop_exact_corpus_matches,
    duplicate_span_trim,
    exact_dedup_by_content,
    incremental_dedup,
    line_count_table,
    line_dedup_incremental,
    merge_source_counts,
    minhash_dedup,
    merge_span_gram_tables,
    shingle_table,
    source_count_table,
    span_gram_table,
    span_overlap_dedup,
    validate_line_params,
    validate_source_params,
    validate_span_params,
    winnow_table,
)

BATCH_COL = "__batch_id"

logger = logging.getLogger("datawarehouse_vehicule_insurance_spark.curation")


def _require_classic_driver(spark: SparkSession, loop_name: str) -> None:
    """Fail FAST under Spark Connect (r12 verdict #7): the ingest loops'
    per-batch block release assumes the classic JVM bridge (README
    "Spark Connect compatibility" — classic-only today).
    Without this guard a Connect session would start the loop and only
    degrade mid-run into silent no-release behavior: checkpoint blocks
    accumulating for the query's whole lifetime with nothing reporting
    it. ``compat.persistent_rdd_ids`` returning ``None`` IS the
    documented Connect/block-accounting-unreachable signal, so the
    guard and the degradation share one detector."""
    from ..compat import persistent_rdd_ids

    if persistent_rdd_ids(spark) is None:
        raise RuntimeError(
            f"{loop_name} requires a classic (non-Connect) Spark driver: "
            "per-batch checkpoint-block release needs the JVM "
            "block-manager bridge, which this session does not expose. "
            "Run ingest loops on a classic driver (see README 'Spark "
            "Connect compatibility')."
        )


def _try_read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame | None:
    """Read a parquet table that may not exist yet (first run) or may be
    an empty directory (a batch with zero survivors) — both mean 'no
    corpus yet'. ``merge_schema`` unions the file schemas instead of
    trusting one arbitrary footer — needed when a column added by
    schema evolution (e.g. ``source``) must be visible even if an old
    partition's file wins inference."""
    try:
        return spark.read.option(
            "mergeSchema", "true" if merge_schema else "false"
        ).parquet(path)
    except Exception as e:  # AnalysisException, pre-classified messages
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Unable to infer schema" in msg
        ):
            return None
        raise


def read_corpus(spark: SparkSession, corpus_path: str) -> DataFrame | None:
    """The accepted corpus as written by :func:`run_incremental_curation`
    (drops the internal batch partition column)."""
    df = _try_read_parquet(spark, corpus_path)
    return None if df is None else df.drop(BATCH_COL)


def _run_batch(batch_df: DataFrame, batch_id: int, body) -> None:
    """The per-batch contract shared by BOTH ingest loops: run
    ``body(batch_df, batch_id)`` as one :func:`..operators.plancut.
    cut_scope`, so the batch frees exactly its own cuts. Batch writes
    must be rerun-safe because ``foreachBatch`` is at-least-once: a
    replayed batch re-reads whatever its first attempt committed. The
    document loop's appends are dynamic partition overwrites and its
    artifact reads exclude the in-flight batch id, while the embedding
    loop's first-batch centroid/codebook writes are plain overwrites
    whose read-back branches skip retraining when the tables already
    exist. Any NEW batch write must do the same."""
    if batch_df.isEmpty():
        return
    with cut_scope():
        body(batch_df, batch_id)


def _read_artifact(
    spark: SparkSession, path: str, exclude_batch: int | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Read a loop-managed artifact, optionally EXCLUDING one batch's
    partition. The loops pass the in-flight batch id here so a REPLAYED
    micro-batch (at-least-once foreachBatch) sees exactly the pre-batch
    state even when a crash landed only SOME of the batch's appends —
    without this, a partially-written batch would pair replayed docs
    against their own half-committed copies and permanently hole the
    other artifacts (empty survivors write nothing, so the missing
    partitions are never backfilled)."""
    df = _try_read_parquet(spark, path, merge_schema=merge_schema)
    if df is None:
        return None
    if BATCH_COL in df.columns:
        if exclude_batch is not None:
            df = df.filter(F.col(BATCH_COL) != int(exclude_batch))
        df = df.drop(BATCH_COL)
    return df


def curate_batch_incremental(
    batch: DataFrame,
    corpus: DataFrame | None,
    corpus_bands: DataFrame | None,
    corpus_hashes: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    within_batch_neardup: bool = True,
    near_dup_keep_by=None,
    corpus_shingles: DataFrame | None = None,
    corpus_line_counts: DataFrame | None = None,
    line_dedup_min_freq: int | None = None,
    line_min_chars: int = 1,
    corpus_winnow: DataFrame | None = None,
    span_min_shared: int | None = None,
    trim_min_span: int | None = None,
    corpus_span_grams: DataFrame | None = None,
    trim_min_keep: int | None = None,
    source_cap: int | None = None,
    source_col: str = "source",
    corpus_source_counts: DataFrame | None = None,
    stage_frames: dict | None = None,
) -> DataFrame:
    """One batch's survivors: within-batch exact dedup (+ optional
    C4-style line cleaning when ``line_dedup_min_freq`` is set — batch
    partial counts merged with the corpus's persisted
    ``corpus_line_counts``, so a line crosses the threshold from
    corpus+batch occurrences combined; + optional within-batch
    near-dup), then — when a corpus exists — the index-fed
    batch-vs-corpus :func:`~..operators.dedup.incremental_dedup`.
    Line cleaning runs after exact dedup (within-batch AND — on the
    RAW text, via :func:`~..operators.dedup.drop_exact_corpus_matches`
    — against the corpus, so stored-content re-submissions are
    rejected before cleaning can rewrite them past the hash check and
    corpus copies can't inflate the line counts) and before the
    near-dup stages (their signatures then describe the text the
    corpus will actually store). Pure plan construction (shared by the
    streaming loop and its batch oracle in tests)."""
    # stage-boundary plan cuts, curate_corpus's precedent applied to
    # the loop: every stage references its input 2-3x (signatures /
    # gram rows + the join back), so an UNCUT chain re-executes the
    # whole upstream once per reference — and on batch 2+ the upstream
    # includes the corpus-merged line/trim stages, making the
    # re-execution product the dominant batch cost (stage-toggle
    # probe: the five-stage batch-2 premium was plan re-execution, not
    # any single stage's own work). Cuts register with the ambient
    # plan-cut registry (operators/plancut.py) so a caller that
    # installed one — run_incremental_curation does, per batch — can
    # free EXACTLY these blocks after its sink action. stage_frames
    # (curate_corpus's diagnostic contract): the already-present cuts
    # double as funnel boundaries, plus cuts at the three boundaries
    # that need none otherwise (input, corpus span overlap, quota).
    def _cut(frame: DataFrame, stage: str | None = None) -> DataFrame:
        frame = checkpoint_cut(frame)
        if stage_frames is not None and stage is not None:
            stage_frames[stage] = frame
        return frame

    def _mark(frame: DataFrame, stage: str) -> DataFrame:
        # funnel-only boundary — a no-op unless diagnostics are on
        # (shared contract: operators/plancut.py mark_stage)
        return mark_stage(frame, stage, stage_frames)

    batch = _mark(batch, "input")
    out = _cut(
        exact_dedup_by_content(batch, text_col=text_col, id_col=id_col),
        "exact_dedup",
    )
    if line_dedup_min_freq is not None:
        if corpus is not None or corpus_hashes is not None:
            out = _mark(drop_exact_corpus_matches(
                out, corpus, corpus_hashes, text_col, id_col
            ), "corpus_exact")
        out = _cut(line_dedup_incremental(
            out,
            corpus_line_counts,
            min_doc_freq=line_dedup_min_freq,
            min_chars=line_min_chars,
            text_col=text_col,
            id_col=id_col,
        ), "line_dedup")
    if trim_min_span is not None:
        # exact-substring passage trimming vs batch AND corpus. With a
        # persisted corpus_span_grams (span_gram_table) the corpus side
        # comes from the index — no corpus-text read; without it the
        # stage falls back to re-scanning corpus TEXT (correct, just
        # the pre-index cost). Runs with the other text-rewriting stage
        # so every later signature/index row describes the text the
        # corpus will actually store.
        out = duplicate_span_trim(
            out, min_span=trim_min_span,
            text_col=text_col, id_col=id_col,
            corpus=corpus if corpus_span_grams is None else None,
            corpus_grams=corpus_span_grams,
        )
        if trim_min_keep is not None:
            # a doc fully covered by quotes of DIFFERENT stored docs
            # can trim to (near-)nothing while sitting below the
            # near-dup threshold against each of them individually —
            # an optional floor drops such husks instead of storing
            # empty text (count over the canonical trimmed form)
            from ..operators.text_analysis import tokens

            out = out.filter(
                F.size(F.filter(
                    tokens(F.col(text_col)), lambda t: t != ""
                )) >= int(trim_min_keep)
            )
        out = _cut(out, "span_trim")
    if within_batch_neardup:
        # near_dup_keep_by: quality-keyed survivor selection within the
        # batch (curate_corpus parity) — batch-vs-CORPUS near-dups are
        # still keep-first by construction (the corpus is immutable)
        out = _cut(minhash_dedup(
            out, text_col=text_col, id_col=id_col,
            threshold=jaccard_threshold,
            k=k, bands=bands, shingle_n=shingle_n, seed=seed,
            keep_by=near_dup_keep_by,
        ), "near_dup")
    if span_min_shared is not None:
        # within-batch verbatim-run dedup (partial containment the
        # set-based near-dup can't see)
        out = _cut(span_overlap_dedup(
            out, text_col=text_col, id_col=id_col,
            min_shared=span_min_shared,
        ), "span_overlap")
    if corpus is not None:
        out = _cut(incremental_dedup(
            out, corpus,
            text_col=text_col, id_col=id_col,
            jaccard_threshold=jaccard_threshold,
            k=k, bands=bands, shingle_n=shingle_n, seed=seed,
            corpus_bands=corpus_bands, corpus_hashes=corpus_hashes,
            corpus_shingles=corpus_shingles,
        ), "incremental_dedup")
    if span_min_shared is not None and (
        corpus_winnow is not None or corpus is not None
    ):
        # batch-vs-corpus verbatim-run check, index-fed when the
        # persisted winnow table is supplied
        hits = cross_corpus_verbatim_pairs(
            out,
            corpus if corpus_winnow is None else None,
            text_col=text_col,
            id_col=id_col,
            min_shared=span_min_shared,
            corpus_fps=corpus_winnow,
        ).select(F.col("id_a").alias(id_col)).distinct()
        out = _mark(out.join(hits, id_col, "left_anti"),
                    "corpus_span_overlap")
    if source_cap is not None:
        # per-source quota vs the GROWING corpus, dead last so the
        # budget spends on otherwise-accepted docs only. Stored counts
        # come from the persisted source_count_table when supplied
        # (seventh artifact — per-batch partials merged to totals, so
        # admission is index-only like the other stages); without it,
        # one narrow groupBy over the corpus's source column
        # (dict-encoded; text never read — correct, just the pre-index
        # per-batch cost). Within the batch, retention is id-ascending
        # (arrival-order proxy for a crawl). Append-only asymmetry: a
        # source already at quota admits nothing more until a
        # retraction frees budget. A corpus stored BEFORE the source
        # column existed (schema evolution) has no counts to charge —
        # the cap then applies within-batch only, converging once new
        # batches land.
        from pyspark.sql import Window

        from ..operators.mlprep import (
            salted_topn_precut,
            stored_budget_filter,
        )

        if int(source_cap) < 1:
            raise ValueError("source_cap must be >= 1")
        if source_col not in out.columns:
            raise ValueError(
                f"source_cap needs a {source_col!r} column on the "
                "batch documents"
            )
        for reserved in ("__rk", "__stored", "__src", "__salt", "__r1"):
            if reserved in out.columns:
                raise ValueError(
                    f"source_cap: input column {reserved!r} collides "
                    "with an internal working column — rename it first"
                )
        # skew guard: the admission window below sorts each source's
        # whole batch slice in ONE task — a mega-source (every crawl
        # has one) would serialize there. The shared salted phase-1
        # pre-cut (operators/mlprep.py salted_topn_precut) bounds the
        # window's input at salt·cap rows per source; lossless because
        # every stored-count budget is ≤ source_cap.
        ord_cols = [F.col(id_col).asc()]
        pre = salted_topn_precut(
            out, source_col, int(source_cap), ord_cols, id_col=id_col
        )
        w = Window.partitionBy(source_col).orderBy(*ord_cols)
        ranked = pre.withColumn("__rk", F.row_number().over(w))
        if corpus_source_counts is not None:
            # index-fed stored counts (merged per-batch partials —
            # rows = sources × batches, nowhere near corpus size)
            stored = corpus_source_counts
        elif corpus is not None and source_col in corpus.columns:
            # pre-index fallback: one narrow groupBy over the corpus's
            # source column, shaped like a (stampless) count table so
            # the shared budget filter applies unchanged
            stored = corpus.groupBy(source_col).agg(
                F.count(F.lit(1)).alias("n_docs")
            )
        else:
            stored = None
        if stored is not None:
            # NULL-safe inside: the window treats NULL source as one
            # group, and so does stored_budget_filter's join
            out = stored_budget_filter(
                ranked, source_col, "__rk", int(source_cap), stored
            )
        else:
            out = ranked.filter(
                F.col("__rk") <= int(source_cap)
            ).drop("__rk")
        out = _mark(out, "source_cap")
    return out


def rebuild_corpus_indexes(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    hash_path: str,
    shingles_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    line_counts_path: str | None = None,
    line_min_chars: int = 1,
    winnow_path: str | None = None,
    span_grams_path: str | None = None,
    trim_min_span: int = 50,
    source_counts_path: str | None = None,
    source_col: str = "source",
) -> dict:
    """Recovery / bootstrap path: (re)build every persisted dedup index
    from the corpus itself — after an index loss (see
    :func:`run_incremental_curation`'s degradation note), a parameter
    change (new k/bands/seed → all band hashes change), or to adopt the
    index-fed loop over a corpus curated before indexes existed. Writes
    each artifact under a single ``__batch_id=-1`` partition so the
    loop's per-batch dynamic-overwrite appends compose with it.
    Returns row counts per artifact."""
    corpus = read_corpus(spark, corpus_path)
    if corpus is None:
        raise ValueError(f"no corpus at {corpus_path}")
    out = {}
    targets = [
        (index_path, band_table(
            corpus, text_col, id_col, k, bands, shingle_n, seed
        )),
        (hash_path, content_hash_table(corpus, text_col, id_col)),
    ]
    if shingles_path is not None:
        targets.append(
            (shingles_path, shingle_table(
                corpus, text_col, id_col, shingle_n
            ))
        )
    if line_counts_path is not None:
        targets.append(
            (line_counts_path, line_count_table(
                corpus, text_col, id_col, min_chars=line_min_chars
            ))
        )
    if winnow_path is not None:
        targets.append(
            (winnow_path, winnow_table(corpus, text_col, id_col))
        )
    if span_grams_path is not None:
        targets.append(
            (span_grams_path, span_gram_table(
                corpus, text_col, id_col, min_span=trim_min_span
            ))
        )
    if source_counts_path is not None:
        # mergeSchema read: a source column added by schema evolution
        # must be visible even when an old partition's footer wins
        # plain inference (same note as the loop's quota-mode read)
        evolved = _read_artifact(
            spark, corpus_path, merge_schema=True
        )
        if source_col not in evolved.columns:
            raise ValueError(
                f"source_counts_path needs a {source_col!r} column on "
                "the stored corpus"
            )
        targets.append(
            (source_counts_path, source_count_table(
                evolved, source_col, id_col
            ))
        )
    for path, df in targets:
        (
            df.withColumn(BATCH_COL, F.lit(-1))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(path)
        )
        out[path] = spark.read.parquet(path).count()
    return out


def run_incremental_curation(
    spark: SparkSession,
    src_path: str,
    corpus_path: str,
    index_path: str,
    hash_path: str,
    checkpoint_path: str,
    schema=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    within_batch_neardup: bool = True,
    near_dup_keep_by=None,
    source_cap: int | None = None,
    source_col: str = "source",
    source_counts_path: str | None = None,
    max_files_per_trigger: int = 1,
    transform=None,
    shingles_path: str | None = None,
    line_counts_path: str | None = None,
    line_dedup_min_freq: int | None = None,
    line_min_chars: int = 1,
    winnow_path: str | None = None,
    span_min_shared: int | None = None,
    trim_min_span: int | None = None,
    span_grams_path: str | None = None,
    trim_min_keep: int | None = None,
    on_batch_stats=None,
    rejections_path: str | None = None,
    rejections_cap: int | None = None,
):
    """One incremental curation run: stream the document directory with
    ``availableNow`` (process exactly the files the checkpoint hasn't
    seen, then stop), and per micro-batch:

    1. curate the batch against the current corpus + persisted indexes
       (:func:`curate_batch_incremental` — no corpus-side signature or
       digest recompute, parameter-fingerprint validated);
    2. append survivors to ``corpus_path``;
    3. append the survivors' band rows to ``index_path`` and content
       hashes to ``hash_path`` — the next batch (or run) dedups against
       the grown corpus for free.

    ``transform`` (optional) maps the raw batch DataFrame first (e.g. a
    quality-gate filter). ``on_batch_stats`` (optional,
    ``callable(batch_id, {stage: count})``) receives each batch's
    exact per-stage survivor funnel (the batch's existing stage cuts
    double as the boundaries — :func:`~..operators.curate.stage_counts`
    over them; diagnostic cost is a few extra boundary cuts plus one
    scan per stage). When a ``transform`` is supplied the funnel
    starts at ``received`` (the raw micro-batch, BEFORE the
    transform), so the gap to the next boundary is the transform's
    own (quality-gate) rejections; without one the first boundary is
    ``input`` (they would be identical). It
    fires once per ATTEMPT, so a replayed batch reports more than
    once — treat the last report per batch id as
    authoritative. ``rejections_path`` (optional) appends each batch's
    per-document audit — one ``(id_col, stage)`` row per dropped doc
    (:func:`~..operators.curate.rejection_log` over the same
    boundaries) — under the batch's partition: idempotent on replay
    like every other loop write, and queryable across the run's whole
    history. Audit semantics: ``stage`` names the boundary that first
    misses the id, so rows labeled ``input`` were dropped by the
    caller's ``transform`` (the CLI's quality gates). The directory is
    created lazily, by the first batch that rejects anything.
    ``rejections_cap`` (optional) bounds the audit at that many rows
    per stage PER BATCH (deterministic lowest-id subset — replay
    writes the same rows); the funnel totals stay exact.
    Returns the started query; callers
    ``awaitTermination()``. Re-running with the same checkpoint after
    new files arrive processes ONLY the new files; replayed batches
    rewrite their own ``__batch_id`` partitions (idempotent).

    Index-loss degradation: if an index directory is missing entirely,
    the batch falls back to recomputing that stage from corpus text
    (correct, just slower). A PARTIALLY lost index (some batch
    partitions deleted) would silently under-dedup — if an index is
    suspect, delete its whole directory to force the recompute path,
    then rebuild it with :func:`~..operators.dedup.band_table` /
    :func:`~..operators.dedup.content_hash_table` over the corpus.

    ``shingles_path`` (optional): also maintain the
    :func:`~..operators.dedup.shingle_table` verify index — with it the
    per-batch plan reads corpus TEXT nowhere (the Jaccard verify takes
    corpus shingle sets from the index), completing the
    no-corpus-recompute contract at the cost of one more append.

    ``line_counts_path`` + ``line_dedup_min_freq`` (together) enable
    C4-style repeated-line removal: each batch is cleaned against the
    merged corpus+batch line frequencies, and the CLEANED survivors'
    :func:`~..operators.dedup.line_count_table` partial is appended —
    per-batch ``n_docs`` partials sum to corpus totals because a doc
    lives in exactly one batch, so the index always equals the count
    table of the stored corpus. Append-only asymmetry applies: a line
    crossing the threshold later is removed from later batches only
    (retroactive cleanup = corpus rewrite + index rebuild).

    ``trim_min_span`` (optional) enables exact-substring passage
    TRIMMING (:func:`~..operators.dedup.duplicate_span_trim`) of each
    batch against itself and the corpus; survivors' index rows are
    built from the trimmed text, so the stored corpus and its
    artifacts stay consistent. With ``span_grams_path`` also set, the
    corpus side comes from the persisted
    :func:`~..operators.dedup.span_gram_table` (sixth artifact,
    appended per batch like the others) and the per-batch plan reads
    corpus TEXT nowhere even with trimming on; without it the trim
    stage falls back to a per-batch corpus-text scan (correct, and
    formerly the loop's one deliberate recompute — throughput probe:
    18.5s → 63.8s on batch 2 of the sf0.1 shape). ``trim_min_keep``
    (optional, requires trimming) additionally DROPS documents whose
    trimmed text holds fewer than that many tokens — the husk left by
    a doc fully assembled from quotes of different stored documents
    (each below the near-dup threshold individually); NULL text counts
    as zero tokens.

    ``winnow_path`` + ``span_min_shared`` (together) enable verbatim
    span-overlap rejection — within each batch AND batch-vs-corpus via
    the persisted :func:`~..operators.dedup.winnow_table` (fifth
    artifact, appended per batch like the others): documents sharing a
    guaranteed-length verbatim token run with the corpus are dropped
    even when their overall shingle Jaccard is far below the near-dup
    threshold (long quotes, mirrored sections).

    ``source_counts_path`` (optional, requires ``source_cap``)
    maintains the per-source count index
    (:func:`~..operators.dedup.source_count_table`, seventh artifact,
    appended per batch like the others): the quota then charges the
    merged persisted totals instead of re-grouping the corpus's source
    column each batch — the last corpus-proportional per-batch cost
    goes index-only. Without it the quota falls back to the corpus
    groupBy (correct, just the pre-index cost).
    """
    _require_classic_driver(spark, "run_incremental_curation")
    if (line_counts_path is None) != (line_dedup_min_freq is None):
        raise ValueError(
            "pass line_counts_path and line_dedup_min_freq together "
            "(cleaning without the index would recount the corpus; an "
            "index without cleaning would go stale)"
        )
    if (winnow_path is None) != (span_min_shared is None):
        raise ValueError(
            "pass winnow_path and span_min_shared together (span "
            "checking without the index would resketch the corpus; an "
            "index without checking would go stale)"
        )
    if span_grams_path is not None and trim_min_span is None:
        raise ValueError(
            "span_grams_path needs trim_min_span (an index nothing "
            "probes would go stale); trimming WITHOUT the index is "
            "allowed — it falls back to the corpus-text scan"
        )
    if source_cap is not None and int(source_cap) < 1:
        raise ValueError("source_cap must be >= 1")
    if source_counts_path is not None and source_cap is None:
        raise ValueError(
            "source_counts_path needs source_cap (an index nothing "
            "probes would go stale); a cap WITHOUT the index is "
            "allowed — it falls back to the per-batch corpus groupBy"
        )
    if trim_min_keep is not None and trim_min_span is None:
        raise ValueError(
            "trim_min_keep needs trim_min_span (it floors the token "
            "count of TRIMMED text; without trimming nothing shrinks)"
        )
    if schema is None:
        schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src_path)
    )

    def _process_body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        diagnostics = (
            on_batch_stats is not None or rejections_path is not None
        )
        stage_frames = {} if diagnostics else None
        # pre-transform boundary: the gap between "received" and the
        # batch's "input" is exactly the transform's (quality gate)
        # rejections — otherwise gate drops would be invisible to the
        # funnel (and in the REJECTION audit, rows labeled stage=
        # "input" mean exactly "dropped by the transform"). Marked
        # ONLY when a transform exists: without one, received == input
        # and the duplicate cut would store the raw batch — the
        # largest frame of the whole plan — twice per batch.
        if transform is not None:
            batch_df = mark_stage(batch_df, "received", stage_frames)
            batch = transform(batch_df)
        else:
            batch = batch_df
        # snapshot semantics: exclude this batch id from every artifact
        # read, so a replay after a partial-write crash dedups against
        # the true pre-batch state (see _read_artifact)
        corpus = _read_artifact(
            sess, corpus_path, exclude_batch=batch_id,
            # quota mode must see a source column added by schema
            # evolution even when an old partition's footer wins plain
            # inference. This also covers the counts-index bootstrap:
            # source_counts_path without source_cap is rejected at
            # entry, so counts mode implies quota mode here.
            merge_schema=source_cap is not None,
        )
        corpus_bands = (
            _read_artifact(sess, index_path, exclude_batch=batch_id)
            if corpus is not None else None
        )
        corpus_hashes = (
            _read_artifact(sess, hash_path, exclude_batch=batch_id)
            if corpus is not None else None
        )
        corpus_shingles = (
            _read_artifact(sess, shingles_path, exclude_batch=batch_id)
            if shingles_path is not None and corpus is not None else None
        )
        corpus_line_counts = (
            _read_artifact(sess, line_counts_path, exclude_batch=batch_id)
            if line_counts_path is not None and corpus is not None
            else None
        )
        corpus_winnow = (
            _read_artifact(sess, winnow_path, exclude_batch=batch_id)
            if winnow_path is not None and corpus is not None
            else None
        )
        corpus_span_grams = (
            _read_artifact(sess, span_grams_path, exclude_batch=batch_id)
            if span_grams_path is not None and corpus is not None
            else None
        )
        corpus_source_counts = (
            _read_artifact(sess, source_counts_path, exclude_batch=batch_id)
            if source_counts_path is not None and corpus is not None
            else None
        )
        if (
            source_counts_path is not None
            and corpus is not None
            and corpus_source_counts is None
            and source_col in corpus.columns
        ):
            # BOOTSTRAP: the index was enabled on a corpus curated
            # before it existed. Without this, batch 1's fallback
            # charges correctly but appends only batch 1's partial —
            # so batch 2 onward would charge an index that never
            # counted the pre-existing corpus and over-admit past the
            # cap. Count the stored corpus once into the reserved
            # partition (idempotent under replay: the corpus read
            # excludes this batch, so a replayed bootstrap rewrites
            # identical content).
            boot = source_count_table(corpus, source_col, id_col)
            (
                boot.withColumn(BATCH_COL, F.lit(-1))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BATCH_COL)
                .parquet(source_counts_path)
            )
            corpus_source_counts = boot
        survivors = curate_batch_incremental(
            batch, corpus, corpus_bands, corpus_hashes,
            text_col=text_col, id_col=id_col,
            jaccard_threshold=jaccard_threshold,
            k=k, bands=bands, shingle_n=shingle_n, seed=seed,
            within_batch_neardup=within_batch_neardup,
            near_dup_keep_by=near_dup_keep_by,
            corpus_shingles=corpus_shingles,
            corpus_line_counts=corpus_line_counts,
            line_dedup_min_freq=line_dedup_min_freq,
            line_min_chars=line_min_chars,
            corpus_winnow=corpus_winnow,
            span_min_shared=span_min_shared,
            trim_min_span=trim_min_span,
            corpus_span_grams=corpus_span_grams,
            trim_min_keep=trim_min_keep,
            source_cap=source_cap,
            source_col=source_col,
            corpus_source_counts=corpus_source_counts,
            stage_frames=stage_frames,
        )
        # One computation serving three writes: checkpoint the (small)
        # survivor set so corpus/index/hash appends don't re-run the
        # LSH + verify plan three times.
        survivors = checkpoint_cut(survivors, eager=True)

        def _append(df: DataFrame, path: str) -> None:
            (
                df.withColumn(BATCH_COL, F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BATCH_COL)
                .parquet(path)
            )

        _append(survivors, corpus_path)
        _append(
            band_table(
                survivors, text_col, id_col, k, bands, shingle_n, seed
            ),
            index_path,
        )
        _append(content_hash_table(survivors, text_col, id_col), hash_path)
        if shingles_path is not None:
            _append(
                shingle_table(survivors, text_col, id_col, shingle_n),
                shingles_path,
            )
        if line_counts_path is not None:
            # counts of the CLEANED survivor text — the index stays the
            # exact line_count_table of the corpus as stored
            _append(
                line_count_table(
                    survivors, text_col, id_col,
                    min_chars=line_min_chars,
                ),
                line_counts_path,
            )
        if winnow_path is not None:
            _append(winnow_table(survivors, text_col, id_col), winnow_path)
        if span_grams_path is not None:
            # gram stats of the TRIMMED survivor text — per-batch
            # partials sum/min to corpus-wide stats (a doc lives in
            # exactly one batch), so the merged index always equals
            # span_gram_table of the corpus as stored
            _append(
                span_gram_table(
                    survivors, text_col, id_col, min_span=trim_min_span
                ),
                span_grams_path,
            )
        if source_counts_path is not None:
            # per-source counts of the ADMITTED survivors — partials
            # sum to stored totals (a doc lives in exactly one batch),
            # so the merged index always equals source_count_table of
            # the corpus as stored and the next batch's quota charges
            # it without touching the corpus
            _append(
                source_count_table(survivors, source_col, id_col),
                source_counts_path,
            )
        if rejections_path is not None:
            # per-document audit, appended like every other loop write
            # (replay rewrites the batch's own partition). A batch
            # with no drops writes NOTHING — a zero-row partitioned
            # write emits no part files, and a directory holding only
            # such husks is unreadable (schema inference fails); the
            # audit directory therefore exists once any batch rejects.
            # The log is a union of per-boundary subtract shuffles —
            # cut it (registered, freed with the batch) so the
            # isEmpty probe and the write share ONE execution instead
            # of re-running every subtract
            from ..operators.curate import rejection_log

            rej = checkpoint_cut(rejection_log(
                stage_frames, id_col, max_per_stage=rejections_cap,
            ))
            if not rej.isEmpty():
                _append(rej, rejections_path)
        if on_batch_stats is not None:
            # after the appends (the boundary blocks are warm), before
            # the caller frees the batch's cuts. Fires once per
            # ATTEMPT: a replayed batch reports again, and the
            # last report is the authoritative one. Known diagnostic
            # overlap: when the final enabled stage is a funnel-only
            # boundary (source_cap / corpus_span_overlap), its cut
            # briefly stores the same survivor rows the eager
            # survivors checkpoint above also holds — bounded by the
            # batch's (smallest) final frame, freed with the batch.
            from ..operators.curate import stage_counts

            on_batch_stats(int(batch_id), stage_counts(stage_frames))

    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: _run_batch(df, bid, _process_body)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _rewrite_artifact(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    extra_partition_cols: tuple[str, ...] = (),
) -> int:
    """The takedown/maintenance write contract, in one place: eagerly
    checkpoint the surviving frame (so the in-place overwrite never
    reads its own output), land it under the reserved ``__batch_id=-1``
    partition (loop-compatible), and return the rows-after count.
    ``extra_partition_cols`` preserves layout-bearing partition columns
    through the rewrite (the clustered embedding corpus is partitioned
    by ``cell`` — losing that on a retraction would silently cost the
    probe its partition pruning)."""
    pinned = df.localCheckpoint(eager=True)
    if extra_partition_cols:
        # cluster writers by the layout columns: partitionBy from an
        # unclustered frame emits tasks x dirs tiny files (measured to
        # invert the clustered probe's pruning win — see
        # similarity.ivf_clustered_corpus_table)
        pinned = pinned.repartition(*extra_partition_cols)
    (
        pinned.withColumn(BATCH_COL, F.lit(-1))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL, *extra_partition_cols)
        .parquet(path)
    )
    return spark.read.parquet(path).count()


def retract_documents(
    spark: SparkSession,
    retracted_ids: DataFrame,
    corpus_path: str,
    index_path: str | None = None,
    hash_path: str | None = None,
    shingles_path: str | None = None,
    line_counts_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    line_min_chars: int = 1,
    line_scope_col: str | None = None,
    winnow_path: str | None = None,
    span_grams_path: str | None = None,
    trim_min_span: int | None = None,
    source_counts_path: str | None = None,
    source_col: str = "source",
) -> dict:
    """Takedown path: remove documents from the stored corpus AND every
    persisted dedup index in one consistent rewrite, so a later
    re-submission of retracted content is ACCEPTED again (the corpus no
    longer claims it) and probes never match ghost entries.

    - corpus / band / hash / shingle / winnow artifacts: id anti-join;
    - line-frequency index: REBUILT from the surviving corpus (pinned
      before any overwrite). Rebuild rather than subtraction makes the
      whole command IDEMPOTENT: every artifact's final state is a
      function of (current corpus, ids) alone, so after a crash between
      rewrites simply re-run the same command and the remaining
      artifacts converge — a subtraction re-applied on replay would
      double-subtract shared lines. ``sep``/``line_min_chars``/
      ``line_scope_col`` must match the index's stamped parameters
      (validated BEFORE anything is rewritten; per-site indexes pass
      ``line_scope_col='source'``). The algebraic single-pass
      subtraction (:func:`~..operators.dedup.line_count_table_remove`)
      remains the building block for table-format ``DELETE`` flows
      where the corpus is not rewritten.
    - span-gram index (``span_grams_path`` + ``trim_min_span``, which
      must match the stamp): REBUILT from the surviving corpus, for the
      same reason as the line index — its rows aggregate occurrence
      counts and first-positions ACROSS documents, so one document's
      contribution is not subtractable in place.
    - source-count index (``source_counts_path``): REBUILT from the
      surviving corpus — a takedown frees the retracted documents'
      admission budget, so their sources can accept replacements.

    Artifacts are rewritten in place via :func:`_rewrite_artifact`.
    That makes this the small/medium-corpus ops tool — at 100-TB scale
    an in-place full rewrite is the wrong shape regardless of
    mechanism; there the same anti-joins run as a Delta/Iceberg
    ``DELETE``/``MERGE`` (jars absent in this environment, same note
    as ``run_upsert_rollup``).

    ``retracted_ids``: one-column DataFrame of ids. Returns per-path
    rows-after counts."""
    # pinned eagerly for the same reason as retract_vectors: ids may
    # derive from the corpus this command is about to rewrite in place
    ids = retracted_ids.select(
        F.col(retracted_ids.columns[0]).alias(id_col)
    ).distinct().localCheckpoint(eager=True)
    corpus = _read_artifact(
        spark, corpus_path,
        # quota-mode corpora may have gained the source column by
        # schema evolution — the rebuild must see it (loop-read parity)
        merge_schema=source_counts_path is not None,
    )
    if corpus is None:
        raise ValueError(f"no corpus at {corpus_path}")
    # fail-fast validation before any artifact is touched
    counts = None
    if line_counts_path is not None:
        counts = _read_artifact(spark, line_counts_path)
        if counts is None:
            raise ValueError(f"no line-count index at {line_counts_path}")
        validate_line_params(counts, sep, line_min_chars, line_scope_col)
    if span_grams_path is not None:
        if trim_min_span is None:
            raise ValueError(
                "span_grams_path needs trim_min_span (the rebuild must "
                "reproduce the stamped span length)"
            )
        grams = _read_artifact(spark, span_grams_path)
        if grams is None:
            raise ValueError(f"no span-gram index at {span_grams_path}")
        validate_span_params(grams, trim_min_span)
    if source_counts_path is not None:
        src_counts = _read_artifact(spark, source_counts_path)
        if src_counts is None:
            raise ValueError(
                f"no source-count index at {source_counts_path}"
            )
        validate_source_params(src_counts, source_col)
        if source_col not in corpus.columns:
            raise ValueError(
                f"source_counts_path needs a {source_col!r} column on "
                "the stored corpus"
            )
    index_arts = []
    for path in (index_path, hash_path, shingles_path, winnow_path):
        if path is None:
            continue
        art = _read_artifact(spark, path)
        if art is None:
            raise ValueError(f"no index at {path}")
        index_arts.append((path, art))

    survivors = corpus.join(ids, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    out: dict = {}
    out[corpus_path] = _rewrite_artifact(spark, survivors, corpus_path)
    for path, art in index_arts:
        out[path] = _rewrite_artifact(
            spark, band_table_remove(art, ids, id_col=id_col), path
        )
    if line_counts_path is not None:
        out[line_counts_path] = _rewrite_artifact(
            spark,
            line_count_table(
                survivors, text_col, id_col, sep, line_min_chars,
                line_scope_col,
            ),
            line_counts_path,
        )
    if span_grams_path is not None:
        out[span_grams_path] = _rewrite_artifact(
            spark,
            span_gram_table(
                survivors, text_col, id_col, min_span=trim_min_span
            ),
            span_grams_path,
        )
    if source_counts_path is not None:
        # REBUILT from the surviving corpus for the same idempotency
        # reason as the line index; a retraction thereby FREES the
        # retracted documents' admission budget. The algebraic
        # subtraction (source_count_table_remove) remains the
        # table-format DELETE building block.
        out[source_counts_path] = _rewrite_artifact(
            spark,
            source_count_table(survivors, source_col, id_col),
            source_counts_path,
        )
    return out


def retract_vectors(
    spark: SparkSession,
    retracted_ids: DataFrame,
    corpus_path: str,
    assignments_path: str | None = None,
    codes_path: str | None = None,
    clustered_path: str | None = "auto",
    vec_id: str = "vec_id",
) -> dict:
    """Embedding twin of :func:`retract_documents`: remove vectors from
    the stored embedding corpus and its persisted IVF assignment /
    PQ code / clustered-corpus artifacts in one consistent rewrite (id
    anti-joins throughout — every artifact is vec_id-keyed). Centroids
    and codebooks are untouched: they are index-lifetime GEOMETRY, not
    per-vector state, and remain valid for the surviving corpus. A
    later re-submission of a retracted vector id (or its near-identical
    embedding) is accepted again by the ingest loop. Same in-place
    rewrite contract and 100-TB table-format note as
    :func:`retract_documents`. Returns per-path rows-after counts. The
    clustered table's ``cell`` partitioning survives the rewrite (its
    probe pruning depends on it).

    ``clustered_path`` default ``"auto"`` mirrors the ingest loop's
    clustered-by-default layout (r13 verdict #2): the derived
    ``{corpus_path}_clustered`` table is included in the retraction IF
    it exists — otherwise a loop run under the default would silently
    keep retracted vectors probe-visible in its clustered artifact. An
    explicit path keeps the strict no-artifact error; ``None``
    excludes the tier."""
    if clustered_path == "auto":
        derived = corpus_path.rstrip("/") + "_clustered"
        clustered_path = (
            derived if _try_read_parquet(spark, derived) is not None
            else None
        )
    # pin the id set BEFORE any rewrite: retracted_ids may lawfully
    # derive from the corpus itself ("retract everything matching X"),
    # and the first in-place artifact rewrite deletes the files a lazy
    # ids plan would re-read for the second artifact (r13, found by the
    # clustered-artifact test)
    ids = retracted_ids.select(
        F.col(retracted_ids.columns[0]).alias(vec_id)
    ).distinct().localCheckpoint(eager=True)
    out: dict = {}
    for path, extra in (
        (corpus_path, ()),
        (assignments_path, ()),
        (codes_path, ()),
        (clustered_path, ("cell",)),
    ):
        if path is None:
            continue
        art = _read_artifact(spark, path)
        if art is None:
            raise ValueError(f"no artifact at {path}")
        out[path] = _rewrite_artifact(
            spark, art.join(ids, vec_id, "left_anti"), path,
            extra_partition_cols=extra,
        )
    return out


def rebuild_embedding_indexes(
    spark: SparkSession,
    corpus_path: str,
    centroids_path: str,
    assignments_path: str,
    codebooks_path: str | None = None,
    codes_path: str | None = None,
    clustered_path: str | None = None,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    pq_m: int = 8,
    pq_ks: int = 16,
    pq_train_sample: int = 2048,
    pq_kmeans_iters: int = 5,
    retrain: bool = False,
) -> dict:
    """Embedding twin of :func:`rebuild_corpus_indexes`: regenerate the
    IVF assignment table (and optionally the PQ codebooks + codes, and
    the cell-partitioned clustered corpus) from the corpus. Existing
    centroids are REUSED so the cell geometry stays
    consistent with history; ``retrain=True`` (or missing centroids)
    retrains them from the corpus and rewrites everything under the new
    geometry. Also THE path to enable the PQ tier — or the clustered
    storage tier (``clustered_path``) — on a pre-existing
    corpus: per-batch appends only cover new arrivals, this backfills
    every vector's codes / clustered rows. Artifacts land under the
    reserved batch partition so the loop's appends compose (the
    clustered table additionally keeps its ``cell`` partitioning).
    Returns row counts."""
    from ..operators.similarity import (
        ivf_assign_table,
        ivf_centroids_table,
        ivf_clustered_corpus_table,
        pq_codebooks_table,
        pq_encode_table,
    )

    corpus = _read_artifact(spark, corpus_path)
    if corpus is None:
        raise ValueError(f"no corpus at {corpus_path}")
    ivf_kw = dict(
        n_cells=n_cells, kmeans_iters=kmeans_iters,
        kmeans_sample=kmeans_sample, seed=seed,
    )
    cents = None if retrain else _try_read_parquet(spark, centroids_path)
    if cents is None:
        ivf_centroids_table(
            corpus, cand_id=vec_id, cand_vec=vec_col, **ivf_kw
        ).write.mode("overwrite").parquet(centroids_path)
        cents = spark.read.parquet(centroids_path)
    out = {centroids_path: cents.count()}

    def _rewrite(df: DataFrame, path: str, *extra_cols: str) -> None:
        if extra_cols:
            # see _rewrite_artifact: cluster writers by layout columns
            df = df.repartition(*extra_cols)
        (
            df.withColumn(BATCH_COL, F.lit(-1))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL, *extra_cols)
            .parquet(path)
        )
        out[path] = spark.read.parquet(path).count()

    _rewrite(
        ivf_assign_table(
            corpus, cents, cand_id=vec_id, cand_vec=vec_col, **ivf_kw
        ),
        assignments_path,
    )
    if clustered_path is not None:
        _rewrite(
            ivf_clustered_corpus_table(
                corpus, cents, cand_id=vec_id, cand_vec=vec_col, **ivf_kw
            ),
            clustered_path,
            "cell",
        )
    if codebooks_path is not None:
        pq_kw = dict(
            m=pq_m, ks=pq_ks, train_sample=pq_train_sample,
            kmeans_iters=pq_kmeans_iters, seed=seed,
        )
        books = None if retrain else _try_read_parquet(
            spark, codebooks_path
        )
        if books is None:
            pq_codebooks_table(
                corpus, cand_id=vec_id, cand_vec=vec_col, **pq_kw
            ).write.mode("overwrite").parquet(codebooks_path)
            books = spark.read.parquet(codebooks_path)
        out[codebooks_path] = books.count()
        if codes_path is None:
            raise ValueError("codebooks_path requires codes_path")
        _rewrite(
            pq_encode_table(
                corpus, books, cand_id=vec_id, cand_vec=vec_col, **pq_kw
            ),
            codes_path,
        )
    return out


def run_incremental_embedding_ingest(
    spark: SparkSession,
    src_path: str,
    corpus_path: str,
    centroids_path: str,
    assignments_path: str,
    checkpoint_path: str,
    schema=None,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    neardup_threshold: float = 0.95,
    n_probe: int = 4,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    max_files_per_trigger: int = 1,
    transform=None,
    codebooks_path: str | None = None,
    codes_path: str | None = None,
    clustered_path: str | None = "auto",
    pq_m: int = 8,
    pq_ks: int = 16,
    pq_train_sample: int = 2048,
    pq_kmeans_iters: int = 5,
    semantic_threshold: float | None = None,
    on_batch_stats=None,
):
    """The embedding-corpus twin of :func:`run_incremental_curation`:
    each ``availableNow`` run streams newly arrived vector files, drops
    batch vectors that are near-duplicates (cosine ≥
    ``neardup_threshold``) of the corpus by probing the PERSISTED IVF
    index (:func:`~..operators.similarity.ivf_neardup_candidates` — the
    corpus side is its stored cell assignments, so only the batch pays
    an assignment pass), and appends survivors plus their assignments.

    The first batch trains the centroids once
    (:func:`~..operators.similarity.ivf_centroids_table`); every later
    run loads them — centroids are an index-lifetime artifact, retrain
    by rebuilding the index. Within-batch handling is id-dedup only
    (near-dup inside one batch is
    :func:`~..operators.similarity.cosine_neardup_pairs`' job upstream
    if needed). Batch writes land in ``__batch_id`` partitions via
    dynamic partition overwrite — idempotent replays, same as the
    document loop.

    ``on_batch_stats`` (optional) — the document loop's per-batch
    funnel contract: ``callable(batch_id, {stage: count})`` with
    boundaries ``received`` (raw micro-batch), ``id_dedup``
    (post-transform, id-deduplicated), ``ivf_neardup`` (absent when
    there was no corpus to dedup against — the index-training first
    batch and corpus-less replays) and ``semantic_dedup`` (absent
    unless ``semantic_threshold`` is set); fires once per attempt.

    ``codebooks_path`` + ``codes_path`` (optional, both or neither)
    additionally maintain the PQ tier: the first batch trains the
    codebooks (:func:`~..operators.similarity.pq_codebooks_table`) and
    every batch appends its survivors' codes
    (:func:`~..operators.similarity.pq_encode_table`) — consumers then
    run ``pq_topk(codebooks=..., codes=...)`` straight off the
    persisted artifacts with no training or corpus encode.

    ``semantic_threshold`` (optional) additionally prunes each batch
    WITHIN itself with
    :func:`~..operators.similarity.semantic_dedup` against the loop's
    own persisted centroids (the SemDeDup recipe on the stable index
    geometry): batch vectors cosine-≥-threshold to an earlier kept
    batch member in the same cell are dropped before anything is
    appended. Runs after the vs-corpus rejection, so the corpus check
    probes the full batch while the diversity prune pays only for
    accepted vectors.

    ``clustered_path`` additionally maintains the cell-partitioned
    CLUSTERED corpus
    (:func:`~..operators.similarity.ivf_clustered_corpus_table`,
    written ``partitionBy(__batch_id, cell)`` — dynamic-partition
    replays stay idempotent AND ``cell`` stays a partition column, so
    consumers run ``ivf_topk(clustered=...)`` with the vector read
    pruned to probed cells straight off the loop's artifact).

    DEFAULT ``"auto"`` (r13 verdict #2 — the clustered layout measured
    3.3× faster to probe at 1.2M vectors, so NEW loops get it without
    opting in): derives ``{corpus_path}_clustered`` and maintains it
    from the first batch. Resuming a PRE-EXISTING corpus that has no
    clustered table under ``"auto"`` does NOT raise — it logs a
    deprecation-style warning (probes off this loop's artifacts take
    the slow assignments join until a
    :func:`rebuild_embedding_indexes` backfill) and continues
    assignments-only, so old loops keep running unchanged. An EXPLICIT
    ``clustered_path`` keeps the strict contract: enabling it on a
    pre-existing corpus without a backfill raises, same rule as the PQ
    tier. Pass ``None`` to disable the tier outright."""
    from ..operators.similarity import (
        ivf_assign_table,
        ivf_centroids_table,
        ivf_clustered_corpus_table,
        ivf_neardup_candidates,
        pq_codebooks_table,
        pq_encode_table,
        semantic_dedup,
    )

    _require_classic_driver(spark, "run_incremental_embedding_ingest")
    if (codebooks_path is None) != (codes_path is None):
        raise ValueError(
            "pass codebooks_path and codes_path together (codes are "
            "meaningless without their codebooks)"
        )
    auto_clustered = clustered_path == "auto"
    if auto_clustered:
        clustered_path = corpus_path.rstrip("/") + "_clustered"

    if schema is None:
        schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src_path)
    )
    ivf_kw = dict(
        n_cells=n_cells, kmeans_iters=kmeans_iters,
        kmeans_sample=kmeans_sample, seed=seed,
    )

    def _process_body(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal clustered_path
        sess = batch_df.sparkSession
        # per-batch funnel, the document loop's diagnostic contract:
        # boundary cuts register with the batch's registry, counts
        # delivered to the callback after the appends
        stage_frames = {} if on_batch_stats is not None else None

        def _mark(frame: DataFrame, stage: str) -> DataFrame:
            return mark_stage(frame, stage, stage_frames)

        batch_df = _mark(batch_df, "received")
        batch = transform(batch_df) if transform is not None else batch_df
        batch = _mark(
            batch.dropDuplicates([vec_id]), "id_dedup"
        )
        cents = _try_read_parquet(sess, centroids_path)
        # snapshot semantics — same replay contract as the document loop
        corpus = _read_artifact(sess, corpus_path, exclude_batch=batch_id)
        asg = _read_artifact(
            sess, assignments_path, exclude_batch=batch_id
        )
        if corpus is not None and corpus.isEmpty():
            # a replayed FIRST batch whose crash landed only the corpus
            # append: after excluding this batch's partition nothing
            # remains — same state as no corpus at all
            corpus = None
        if corpus is not None and (cents is None or asg is None):
            # NEVER silently retrain or skip: new centroids would carry
            # the same parameter fingerprint but a different geometry
            # than the surviving assignments, silently missing
            # near-dups forever. Rebuild explicitly instead.
            raise ValueError(
                "embedding index artifacts missing while a corpus "
                "exists — run rebuild_embedding_indexes() before "
                "resuming the ingest loop"
            )
        if (
            clustered_path is not None
            and corpus is not None
            and _try_read_parquet(sess, clustered_path) is None
        ):
            if auto_clustered:
                # back-compat: a pre-existing assignments-only loop
                # resumed under the "auto" default keeps running, but
                # loudly — probes off its artifacts pay the slow
                # corpus-scale assignments join until a backfill
                logger.warning(
                    "deprecated layout: corpus at %s has no clustered "
                    "table — continuing assignments-only; probes take "
                    "the slow assignments join (measured 3.3x slower "
                    "at 1.2M vectors). Run rebuild_embedding_indexes("
                    "..., clustered_path=%r) to adopt the clustered "
                    "layout.", corpus_path, clustered_path,
                )
                clustered_path = None
            else:
                # enabling clustered storage on an existing corpus:
                # per-batch appends would only cover the tail —
                # backfill first (same rule as the PQ tier). Checked
                # BEFORE any append so a guarded batch leaves no
                # partial writes.
                raise ValueError(
                    "clustered corpus missing while a corpus exists — "
                    "run rebuild_embedding_indexes(..., "
                    "clustered_path=) to backfill before resuming the "
                    "loop"
                )
        if cents is None:
            ivf_centroids_table(
                batch, cand_id=vec_id, cand_vec=vec_col, **ivf_kw
            ).write.mode("overwrite").parquet(centroids_path)
            cents = sess.read.parquet(centroids_path)
            survivors = batch
        elif corpus is None:
            # centroids exist but no corpus yet: a replay of the very
            # first batch after a partial crash — nothing to dedup
            # against
            survivors = batch
        else:
            dup = ivf_neardup_candidates(
                batch, corpus, cents, asg,
                threshold=neardup_threshold, n_probe=n_probe,
                batch_id_col=vec_id, batch_vec=vec_col,
                cand_id=vec_id, cand_vec=vec_col, **ivf_kw,
            )
            drop_ids = dup.select(
                F.col("id_a").alias(vec_id)
            ).distinct()
            survivors = _mark(
                batch.join(drop_ids, vec_id, "left_anti"), "ivf_neardup"
            )
        if semantic_threshold is not None:
            survivors = _mark(semantic_dedup(
                survivors, threshold=semantic_threshold,
                centroids=cents, id_col=vec_id, vec_col=vec_col,
                **ivf_kw,
            ), "semantic_dedup")
        survivors = checkpoint_cut(survivors, eager=True)

        def _append(df: DataFrame, path: str) -> None:
            (
                df.withColumn(BATCH_COL, F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BATCH_COL)
                .parquet(path)
            )

        _append(survivors, corpus_path)
        _append(
            ivf_assign_table(
                survivors, cents, cand_id=vec_id, cand_vec=vec_col,
                **ivf_kw,
            ),
            assignments_path,
        )
        if codebooks_path is not None:
            pq_kw = dict(
                m=pq_m, ks=pq_ks, train_sample=pq_train_sample,
                kmeans_iters=pq_kmeans_iters, seed=seed,
            )
            books = _try_read_parquet(sess, codebooks_path)
            if books is None:
                if corpus is not None:
                    # enabling the PQ tier on an existing corpus:
                    # per-batch appends would only cover the tail —
                    # backfill first
                    raise ValueError(
                        "PQ codebooks missing while a corpus exists — "
                        "run rebuild_embedding_indexes(..., "
                        "codebooks_path=, codes_path=) to train and "
                        "backfill before resuming the loop"
                    )
                pq_codebooks_table(
                    survivors, cand_id=vec_id, cand_vec=vec_col, **pq_kw
                ).write.mode("overwrite").parquet(codebooks_path)
                books = sess.read.parquet(codebooks_path)
            _append(
                pq_encode_table(
                    survivors, books, cand_id=vec_id, cand_vec=vec_col,
                    **pq_kw,
                ),
                codes_path,
            )
        if clustered_path is not None:
            # backfill guard already ran pre-append (top of the body)
            (
                ivf_clustered_corpus_table(
                    survivors, cents, cand_id=vec_id, cand_vec=vec_col,
                    **ivf_kw,
                )
                # cluster writers by cell first: partitionBy from an
                # unclustered frame emits tasks x cells tiny files per
                # batch (see ivf_clustered_corpus_table docstring —
                # measured to invert the pruning win)
                .repartition("cell")
                .withColumn(BATCH_COL, F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                # cell stays a partition column UNDER the batch id:
                # replays rewrite their own (batch, cell) slices
                # identically while probes still partition-prune on cell
                .partitionBy(BATCH_COL, "cell")
                .parquet(clustered_path)
            )
        if on_batch_stats is not None:
            # document-loop contract: fires once per attempt, after
            # the appends, before the batch's cuts are freed
            from ..operators.curate import stage_counts

            on_batch_stats(int(batch_id), stage_counts(stage_frames))

    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: _run_batch(df, bid, _process_body)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def compact_loop_indexes(
    spark: SparkSession,
    index_path: str | None = None,
    hash_path: str | None = None,
    shingles_path: str | None = None,
    line_counts_path: str | None = None,
    winnow_path: str | None = None,
    span_grams_path: str | None = None,
    source_counts_path: str | None = None,
    ignore_missing: bool = False,
) -> dict:
    """Scheduled maintenance for the crawl loop's persisted artifacts:
    one compaction rewrite per supplied index, folding the per-batch
    ``__batch_id`` append partitions into the single reserved ``-1``
    partition. What compaction means per artifact:

    - band table — :func:`~..operators.dedup.compact_band_table`
      (duplicate-row drop from replays, uniform-stamp check, band_hash
      clustering so probe joins read co-located buckets);
    - content-hash / shingle / winnow tables — duplicate-row drop
      (append-only id-keyed rows; replays are the only dup source);
    - line-count table — :func:`~..operators.dedup.merge_line_counts`
      over itself: per-batch ``n_docs`` partials for the same line
      collapse into one total row, which is the probe-side win (the
      per-batch merge aggregates fewer input rows);
    - span-gram table — :func:`~..operators.dedup.merge_span_gram_tables`
      over itself: per-batch (count, first-occurrence) partials for the
      same gram collapse into one corpus-total row;
    - source-count table — :func:`~..operators.dedup.merge_source_counts`
      over itself: per-batch ``n_docs`` partials for the same source
      collapse into one stored-total row.

    Why this matters at scale: every loop batch appends a new parquet
    partition, so after 10k batches each probe-side read opens 10k
    small files — compaction restores one clustered partition without
    changing any probe result (pinned by the tests). Artifacts are
    rewritten in place via :func:`_rewrite_artifact` (eager checkpoint
    before overwrite); run it between loop runs, never concurrently
    with one — same small/medium-corpus ops contract as
    :func:`retract_documents` (at 100-TB this is a table-format
    ``OPTIMIZE``/rewrite job instead).

    Returns ``{path: {"before": n, "after": n}}``; with
    ``ignore_missing`` a not-yet-created artifact maps to ``None``
    instead of raising.
    """
    from ..operators.dedup import (
        compact_band_table,
        merge_line_counts,
    )

    out: dict = {}
    if index_path is not None:
        _compact_one(spark, index_path, compact_band_table, out,
                     ignore_missing)
    if hash_path is not None:
        _compact_one(spark, hash_path, lambda df: df.distinct(), out,
                     ignore_missing)
    if shingles_path is not None:
        _compact_one(spark, shingles_path, lambda df: df.distinct(), out,
                     ignore_missing)
    if line_counts_path is not None:
        _compact_one(spark, line_counts_path,
                     lambda df: merge_line_counts(df), out, ignore_missing)
    if winnow_path is not None:
        _compact_one(spark, winnow_path, lambda df: df.distinct(), out,
                     ignore_missing)
    if span_grams_path is not None:
        _compact_one(spark, span_grams_path,
                     lambda df: merge_span_gram_tables(df), out,
                     ignore_missing)
    if source_counts_path is not None:
        _compact_one(spark, source_counts_path,
                     lambda df: merge_source_counts(df), out,
                     ignore_missing)
    return out


def _compact_one(
    spark: SparkSession, path: str, fn, out: dict, ignore_missing: bool,
    extra_partition_cols: tuple[str, ...] = (),
) -> None:
    """Shared compaction step: read (batch column stripped), transform,
    rewrite in place, record before/after. ``ignore_missing`` records
    ``None`` for a not-yet-created artifact instead of raising — the
    CLI's shape, where a newly configured index may not exist until a
    batch with survivors lands. ``extra_partition_cols`` preserves
    layout-bearing partition columns (the clustered corpus's ``cell``)
    through the rewrite."""
    art = _read_artifact(spark, path)
    if art is None:
        if ignore_missing:
            out[path] = None
            return
        raise ValueError(f"no index at {path}")
    before = art.count()
    after = _rewrite_artifact(
        spark, fn(art), path, extra_partition_cols=extra_partition_cols
    )
    out[path] = {"before": before, "after": after}


def compact_loop_indexes_when(
    spark: SparkSession,
    threshold: int,
    index_path: str,
    hash_path: str | None = None,
    shingles_path: str | None = None,
    line_counts_path: str | None = None,
    winnow_path: str | None = None,
    span_grams_path: str | None = None,
    source_counts_path: str | None = None,
    ignore_missing: bool = False,
) -> dict:
    """Signal-driven compaction scheduling: compact every supplied
    artifact when the band index's append-partition count
    (:func:`loop_batch_partitions` — the growth signal) has crossed
    ``threshold``, else do nothing. Returns ``{"partitions": n,
    "compacted": <compact_loop_indexes result> | None}`` so callers
    can log the decision either way. Run between loop runs, never
    concurrently with one (same contract as
    :func:`compact_loop_indexes`)."""
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    n = loop_batch_partitions(spark, index_path)
    if n < threshold:
        return {"partitions": n, "compacted": None}
    return {
        "partitions": n,
        "compacted": compact_loop_indexes(
            spark,
            index_path=index_path,
            hash_path=hash_path,
            shingles_path=shingles_path,
            line_counts_path=line_counts_path,
            winnow_path=winnow_path,
            span_grams_path=span_grams_path,
            source_counts_path=source_counts_path,
            ignore_missing=ignore_missing,
        ),
    }


def loop_batch_partitions(spark: SparkSession, index_path: str) -> int:
    """How many append partitions a loop artifact has accumulated —
    the compaction-scheduling signal (one ``__batch_id`` value per
    processed batch plus the reserved ``-1``). Reads partition VALUES
    only (a metadata-only distinct over the partition column), never
    data rows."""
    art = _try_read_parquet(spark, index_path)
    if art is None or BATCH_COL not in art.columns:
        return 0
    return (
        art.select(BATCH_COL)
        .filter(F.col(BATCH_COL) != -1)  # reserved compaction partition
        .distinct()
        .count()
    )


def compact_embedding_indexes(
    spark: SparkSession,
    corpus_path: str | None = None,
    assignments_path: str | None = None,
    codes_path: str | None = None,
    clustered_path: str | None = "auto",
) -> dict:
    """Embedding twin of :func:`compact_loop_indexes`: fold the vector
    ingest loop's per-batch append partitions (corpus, IVF assignments,
    PQ codes, clustered corpus — all vec_id-keyed, duplicated only by
    replays) into the reserved ``-1`` partition with duplicate rows
    dropped. Centroids and codebooks are single-write artifacts and
    never need compaction. The clustered table keeps its ``cell``
    partitioning through the rewrite — compaction is exactly where its
    probe win consolidates: after it, each probed cell is ONE clustered
    partition instead of one slice per batch.
    Same run-between-loop-runs contract; returns
    ``{path: {"before": n, "after": n}}``. ``clustered_path`` default
    ``"auto"`` mirrors :func:`retract_vectors`: the loop-default
    ``{corpus_path}_clustered`` table is compacted IF present."""
    if clustered_path == "auto":
        derived = (
            corpus_path.rstrip("/") + "_clustered"
            if corpus_path is not None else None
        )
        clustered_path = (
            derived
            if derived is not None
            and _try_read_parquet(spark, derived) is not None
            else None
        )
    out: dict = {}
    for path in (corpus_path, assignments_path, codes_path):
        if path is not None:
            _compact_one(
                spark, path, lambda df: df.distinct(), out, False
            )
    if clustered_path is not None:
        _compact_one(
            spark, clustered_path, lambda df: df.distinct(), out, False,
            extra_partition_cols=("cell",),
        )
    return out
