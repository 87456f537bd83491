"""End-to-end training-corpus curation: the composition the individual
operators exist for — exact dedup → cheap quality/language gates →
near-dup removal → benchmark decontamination, in cost order.

Each stage is an existing verified operator (:mod:`.dedup`,
:mod:`.text_analysis`); this module only sequences them so the
expensive stages (MinHash-LSH, contamination joins) see the smallest
possible corpus. Everything stays one lazy plan — no action is taken
here, and Catalyst prunes the feature columns once the filters consume
them (the output schema is the input schema).

Cost ordering rationale (the 100-TB argument):

1. exact dedup — one 16-byte-key shuffle, typically the biggest row
   reduction per dollar;
2. quality + language gates — ONE narrow projection, no shuffle: drops
   boilerplate/junk before anything pays a per-shingle cost;
3. MinHash near-dup — the only heavy stage, now over survivors only;
4. decontamination — gram-hash semi-join against the (small, broadcast)
   benchmark side.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plancut import checkpoint_cut, cut_scope, mark_stage

from .dedup import (
    cross_corpus_verbatim_pairs,
    drop_exact_corpus_matches,
    duplicate_span_trim,
    exact_dedup_by_content,
    incremental_dedup,
    line_dedup_incremental,
    minhash_dedup,
    span_overlap_dedup,
)
from .text_analysis import (
    contamination_overlap,
    lang_id,
    perplexity_filter,
    quality_features,
)


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_allow: tuple[str, ...] | None = None,
    min_tokens: int = 8,
    min_alpha_ratio: float = 0.5,
    max_dup_2gram_ratio: float = 0.6,
    jaccard_threshold: float = 0.8,
    contamination_n: int = 8,
    transitive: bool = True,
    existing_corpus: DataFrame | None = None,
    existing_bands: DataFrame | None = None,
    existing_hashes: DataFrame | None = None,
    existing_shingles: DataFrame | None = None,
    line_dedup_min_freq: int | None = None,
    line_min_chars: int = 1,
    existing_line_counts: DataFrame | None = None,
    lm_model: tuple[DataFrame, DataFrame] | None = None,
    max_perplexity: float | None = None,
    span_dedup_min_shared: int | None = None,
    existing_winnow: DataFrame | None = None,
    dsir_target_model: tuple[DataFrame, DataFrame] | None = None,
    dsir_top_n: int | None = None,
    dsir_raw_model: tuple[DataFrame, DataFrame] | None = None,
    dsir_temperature: float = 1.0,
    dsir_seed: int = 42,
    gopher_rules: dict | None = None,
    near_dup_keep_by=None,
    span_trim_min_span: int | None = None,
    source_cap: int | None = None,
    source_col: str = "source",
    source_cap_order_by=None,
    existing_source_counts: DataFrame | None = None,
    stage_frames: dict | None = None,
    reason_frames: dict | None = None,
) -> DataFrame:
    """Curate ``docs`` for training; returns surviving rows with the
    input schema. ``benchmark`` (optional) enables the decontamination
    stage; ``lang_allow`` (optional) keeps only the listed
    :func:`~.text_analysis.lang_id` predictions; ``existing_corpus``
    (optional) makes the run INCREMENTAL — survivors are additionally
    deduped against what the corpus already holds
    (:func:`~.dedup.incremental_dedup`), the recurring-ingest shape.
    ``existing_bands`` / ``existing_hashes`` / ``existing_shingles``
    (optional, with ``existing_corpus``) are the corpus's persisted
    :func:`~.dedup.band_table` / :func:`~.dedup.content_hash_table` /
    :func:`~.dedup.shingle_table` indexes — with them the incremental
    stage recomputes nothing on the corpus side (and with all three,
    never reads corpus text at all).

    ``line_dedup_min_freq`` (optional) enables the C4-style
    repeated-line removal stage (:func:`~.dedup.line_dedup`) between
    exact dedup and the quality gates — AFTER exact dedup so full-copy
    documents can't inflate line frequencies, BEFORE the gates so they
    judge boilerplate-free text. ``existing_line_counts`` (incremental
    mode) supplies the corpus's persisted
    :func:`~.dedup.line_count_table`; the batch's own partial is merged
    in so batch-internal repeats count toward the threshold too.

    ``lm_model`` + ``max_perplexity`` (together) enable the CCNet-style
    perplexity gate: documents scoring above the threshold under a
    reference :func:`~.text_analysis.bigram_lm_tables` model are
    dropped before the near-dup stage pays for them.

    ``span_dedup_min_shared`` (optional) enables verbatim span-overlap
    removal (:func:`~.dedup.span_overlap_dedup`) after the set-based
    near-dup stage — it catches partial containment (long quotes,
    mirrored sections) that Jaccard misses. In incremental mode,
    ``existing_winnow`` (a persisted :func:`~.dedup.winnow_table`)
    additionally drops batch docs sharing verbatim runs with the
    CORPUS, with no corpus-side recompute.

    ``span_trim_min_span`` (optional) enables exact-substring passage
    TRIMMING (:func:`~.dedup.duplicate_span_trim`): verbatim runs of at
    least that many tokens duplicated in the batch (or against
    ``existing_corpus``) are cut out of the documents, first occurrence
    spared — the complement of the document-dropping
    ``span_dedup_min_shared`` stage. Note it canonicalizes surviving
    text (lower + single spaces).

    ``source_cap`` (optional) enables per-source frequency capping
    (:func:`~.mlprep.cap_per_key`): at most that many survivors per
    ``source_col`` value, retained by ``source_cap_order_by``
    (descending; default a seeded pseudo-random subset) — the 'at most
    N documents per domain' crawl rule, applied after dedup/gating so
    the cap spends its budget on clean documents only.
    ``existing_source_counts`` (incremental mode, with ``source_cap``)
    is the corpus's persisted :func:`~.dedup.source_count_table` —
    each source's budget then becomes ``source_cap - stored``, sharing
    the streaming loop's seventh artifact instead of re-counting the
    corpus.

    ``dsir_target_model`` + ``dsir_top_n`` (together) enable the final
    DSIR budget-selection stage (:func:`~.mlprep.dsir_resample`):
    importance-resample the curated pool down to ``dsir_top_n``
    documents resembling the target distribution. ``dsir_raw_model``
    defaults to a bigram model trained on the input batch itself (the
    raw-pool distribution of the DSIR paper).

    ``stage_frames`` (optional, an empty dict the caller owns)
    enables the DIAGNOSTIC funnel: every enabled stage's survivor
    frame becomes a registered checkpoint cut and lands in the dict in
    pipeline order. Feed the dict to :func:`stage_counts` for the
    exact per-stage survivor funnel (one cheap scan of each boundary's
    cached blocks) and/or :func:`rejection_log` for a per-document
    audit of WHICH stage dropped each id. Cost: every boundary's
    survivors stay stored (memory-and-disk) simultaneously until
    :func:`curation_run` frees them — budget roughly the SUM of the
    stage survivor sizes, not one intermediate. Lifetime rule: the
    frames are the run's cuts, so consume anything derived from them
    inside the :func:`curation_run` block. (Deliberately NOT built on
    ``observe``: an Observation upstream of a lazy localCheckpoint
    silently reports 0 — its subtree materializes outside any tracked
    SQL execution — and the eager-cut workaround leaks an
    unregistered persisted RDD when materialization fails.)

    ``reason_frames`` (optional, an empty dict the caller owns,
    requires ``stage_frames``) adds RULE-level attribution for the
    composite gate stages: the run stores one lazy narrow
    ``(id_col, reason)`` frame per composite stage
    (``quality_gates``, ``gopher``) naming the first rule that fired
    for each dropped document. Pass it to
    :func:`rejection_log(..., reason_frames=)` to get
    ``(id, stage, reason)`` rows — single-rule stages keep a NULL
    reason (the stage name already IS the reason). Executing the
    reason frames re-runs the gates' feature plans over the stage's
    (cached) input boundary — diagnostic cost, paid only when the log
    is actioned.

    Thresholds are the Gopher-style defaults scaled down for the test
    corpus; every one is a parameter because curation policy is a
    property of the training run, not of the engine.
    """
    cols = docs.columns
    funnel_on = stage_frames is not None
    if reason_frames is not None and not funnel_on:
        raise ValueError(
            "reason_frames requires stage_frames (reasons attribute "
            "the funnel's drops; without boundaries there is no drop "
            "set to attribute)"
        )

    def _funnel(frame: DataFrame, stage: str) -> DataFrame:
        # a plain registered cut: created lazily (so a failed
        # materialization can still be freed through the registry) and
        # materialized with the run's other cuts (curation_run counts
        # the most-downstream cut first — one fused job graph — and
        # the rest against warm blocks). Shared contract:
        # operators/plancut.py mark_stage.
        return mark_stage(frame, stage, stage_frames)

    docs = _funnel(docs, "input")

    # 1. exact dedup (content hash, min-id survivor)
    out = exact_dedup_by_content(docs, text_col=text_col, id_col=id_col)
    out = _funnel(out, "exact_dedup")

    # 1.5 line-level boilerplate removal (optional). Raw-text exact
    #     corpus matches are dropped FIRST so (a) a re-submission of a
    #     stored document is rejected even when today's cleaning would
    #     rewrite it past the later hash check, and (b) corpus copies
    #     can't inflate the batch's line-frequency partial.
    if line_dedup_min_freq is not None:
        if existing_corpus is not None or existing_hashes is not None:
            out = drop_exact_corpus_matches(
                out, existing_corpus, existing_hashes, text_col, id_col
            )
            out = _funnel(out, "corpus_exact")
        out = line_dedup_incremental(
            out,
            existing_line_counts,
            min_doc_freq=line_dedup_min_freq,
            min_chars=line_min_chars,
            text_col=text_col,
            id_col=id_col,
        )
        out = _funnel(out, "line_dedup")
    elif existing_line_counts is not None:
        raise ValueError(
            "existing_line_counts requires line_dedup_min_freq (the "
            "stage is otherwise off and the index would be ignored)"
        )

    # 1.7 exact-substring passage trimming (optional): remove verbatim
    #     runs of >= span_trim_min_span tokens duplicated within the
    #     batch or against the existing corpus (first occurrence
    #     spared). Runs with the other TEXT-REWRITING stage (line
    #     dedup) so every later signature/gate describes the text the
    #     corpus will actually store.
    if span_trim_min_span is not None:
        out = duplicate_span_trim(
            out, min_span=span_trim_min_span,
            text_col=text_col, id_col=id_col,
            corpus=existing_corpus,
        )
        out = _funnel(out, "span_trim")

    # 2. quality + language gates — one fused projection, then restore
    #    the input schema so downstream stages see plain documents
    feats = quality_features(out, text_col=text_col)
    rules = [
        ("null_text", F.col(text_col).isNull()),
        ("min_tokens", F.col("n_tokens") < min_tokens),
        ("min_alpha_ratio", F.col("alpha_ratio") < min_alpha_ratio),
        ("max_dup_2gram_ratio",
         F.col("dup_2gram_ratio") > max_dup_2gram_ratio),
    ]
    if lang_allow is not None:
        rules.append(
            ("lang_allow", ~lang_id(F.col(text_col)).isin(*lang_allow))
        )
    gate = ~rules[0][1]
    for _, cond in rules[1:]:
        gate = gate & ~cond
    if reason_frames is not None:
        from .text_analysis import _first_failing

        # fallback "unattributed": a row can be dropped by a
        # NULL-evaluated comparison on NON-null text (e.g. alpha_ratio
        # = 0/0 on empty text) — the gate conjunct is NULL so the row
        # dies, but no fail-condition is TRUE. Without the fallback
        # its NULL reason would be indistinguishable from a
        # single-rule stage's documented NULL.
        reason_frames["quality_gates"] = feats.select(
            F.col(id_col),
            F.coalesce(
                _first_failing(rules),
                F.when(~gate | gate.isNull(), F.lit("unattributed")),
            ).alias("reason"),
        ).filter(F.col("reason").isNotNull())
    out = feats.filter(gate).select(*cols)
    out = _funnel(out, "quality_gates")

    # 2.2 full Gopher rule family (optional): formatting + stop-word +
    #     repetition thresholds beyond the basic gate above; pass
    #     ``gopher_rules={}`` for the published defaults or override
    #     any threshold (:func:`~.text_analysis.gopher_filter`)
    if gopher_rules is not None:
        from .text_analysis import gopher_filter

        out = gopher_filter(
            out, text_col=text_col, id_col=id_col,
            collect_reasons=reason_frames, **gopher_rules
        )
        out = _funnel(out, "gopher")

    # 2.5 LM-perplexity gate (optional, CCNet-style): keep the
    #     low-perplexity head under a reference bigram model — a hash
    #     join against the (broadcastable) model tables, so it runs
    #     before the heavy near-dup stage
    if (lm_model is None) != (max_perplexity is None):
        raise ValueError(
            "pass lm_model (bigram_lm_tables output) and max_perplexity "
            "together"
        )
    if lm_model is not None:
        out = perplexity_filter(
            out, *lm_model, max_perplexity,
            text_col=text_col, id_col=id_col,
        )
        out = _funnel(out, "lm_perplexity")

    # --- stage-boundary plan cut. Every stage references its input
    # several times (reassembly joins, verify joins, anti-joins), so a
    # fully-composed pipeline's LAZY plan grows as the PRODUCT of those
    # fan-outs — large enough to OOM the driver inside Catalyst before
    # a single row moves (found by the all-stages integration test).
    # An eager=False localCheckpoint here bounds the tree the same way
    # minhash_dedup's candidate checkpoint does; it materializes the
    # already-gated intermediate on first use. Only taken when optional
    # upstream stages are enabled — the plain pipeline stays one plan.
    if (
        line_dedup_min_freq is not None
        or span_trim_min_span is not None
        or gopher_rules is not None
        or lm_model is not None
    ) and not funnel_on:
        # funnel mode skips this: the adjacent boundary cut already
        # bounds the tree, and a second cut would store a byte-
        # identical copy of the same survivor set
        out = checkpoint_cut(out)

    # 3. near-dup removal over survivors only; ``near_dup_keep_by``
    #    (optional column/expression) keeps the highest-scoring member
    #    of each duplicate group instead of the lowest id
    out = minhash_dedup(
        out,
        text_col=text_col,
        id_col=id_col,
        threshold=jaccard_threshold,
        transitive=transitive,
        keep_by=near_dup_keep_by,
    )
    out = _funnel(out, "near_dup")

    # 3.5 verbatim span-overlap removal (optional): partial containment
    #     the set-based stage can't see
    if span_dedup_min_shared is not None:
        out = span_overlap_dedup(
            out, text_col=text_col, id_col=id_col,
            min_shared=span_dedup_min_shared,
        )
        out = _funnel(out, "span_overlap")
    elif existing_winnow is not None:
        raise ValueError(
            "existing_winnow requires span_dedup_min_shared (the stage "
            "is otherwise off and the index would be ignored)"
        )

    # 4. benchmark decontamination: drop any doc sharing an n-gram window
    #    with the benchmark (standard eval-hygiene overlap rule)
    if benchmark is not None:
        hits = contamination_overlap(
            out, benchmark, n=contamination_n,
            id_col=id_col, text_col=text_col,
        ).select(F.col(id_col)).distinct()
        out = out.join(hits, id_col, "left_anti")
        out = _funnel(out, "decontamination")

    # 5. incremental mode: dedup the (already small) survivor set
    #    against the existing corpus — exact hash anti-join, then
    #    banded LSH batch-vs-corpus candidates + Jaccard verify.
    #    existing_corpus may be omitted when ALL THREE persisted
    #    indexes are supplied (the text-free production shape);
    #    supplying some indexes with no corpus is an error rather than
    #    a silent skip.
    any_index = (
        existing_bands is not None
        or existing_hashes is not None
        or existing_shingles is not None
    )
    all_indexes = (
        existing_bands is not None
        and existing_hashes is not None
        and existing_shingles is not None
    )
    if existing_corpus is None and any_index and not all_indexes:
        raise ValueError(
            "incremental curation without existing_corpus requires ALL "
            "of existing_bands, existing_hashes and existing_shingles"
        )
    if existing_corpus is not None or all_indexes:
        out = incremental_dedup(
            out,
            existing_corpus,
            text_col=text_col,
            id_col=id_col,
            jaccard_threshold=jaccard_threshold,
            corpus_bands=existing_bands,
            corpus_hashes=existing_hashes,
            corpus_shingles=existing_shingles,
        )
        out = _funnel(out, "incremental_dedup")

    # 5.5 incremental span-overlap: drop batch docs sharing a verbatim
    #     run with a CORPUS document, served by the persisted winnow
    #     index (or corpus text when only existing_corpus was given)
    if span_dedup_min_shared is not None and (
        existing_winnow is not None or existing_corpus is not None
    ):
        hits = cross_corpus_verbatim_pairs(
            out,
            existing_corpus if existing_winnow is None else None,
            text_col=text_col,
            id_col=id_col,
            min_shared=span_dedup_min_shared,
            corpus_fps=existing_winnow,
        ).select(F.col("id_a").alias(id_col)).distinct()
        out = out.join(hits, id_col, "left_anti")
        out = _funnel(out, "corpus_span_overlap")

    # 5.7 per-source frequency cap (optional): at most source_cap
    #     survivors per source value — after every dedup/quality stage
    #     (the cap budget goes to clean documents), before DSIR (which
    #     shapes the CROSS-source mix; the cap bounds any single
    #     source's claim on it). Skew-safe two-phase top-N inside.
    if existing_source_counts is not None and source_cap is None:
        raise ValueError(
            "existing_source_counts needs source_cap (stored counts "
            "without a cap have no budget to charge)"
        )
    if source_cap is not None:
        from .mlprep import cap_per_key

        out = cap_per_key(
            out, source_col, source_cap,
            order_by=source_cap_order_by, id_col=id_col,
            stored_counts=existing_source_counts,
        )
        out = _funnel(out, "source_cap")

    # 6. DSIR budget selection (optional, last): importance-resample the
    #    clean survivor pool down to ``dsir_top_n`` documents that look
    #    like the target distribution (:func:`~.mlprep.dsir_resample`).
    #    ``dsir_raw_model`` defaults to a model trained on the INPUT
    #    batch itself — the paper's raw-pool distribution — so the only
    #    mandatory artifact is the target model. Runs dead last because
    #    selection must see deduplicated, gated text (weights over
    #    boilerplate would reward the junk the earlier stages exist to
    #    drop), and because every earlier stage shrinks the frame the
    #    two scoring passes read.
    if (dsir_target_model is None) != (dsir_top_n is None):
        raise ValueError(
            "pass dsir_target_model (bigram_lm_tables output) and "
            "dsir_top_n together"
        )
    if dsir_target_model is not None:
        from .mlprep import dsir_resample
        from .text_analysis import bigram_lm_tables

        # second plan cut: DSIR's two scoring passes reference the
        # survivor frame three more times on top of stages 3-5.5's
        # fan-out (skipped in funnel mode — out is already the
        # previous stage's boundary cut)
        if not funnel_on:
            out = checkpoint_cut(out)
        raw_model = dsir_raw_model
        if raw_model is None:
            raw_model = bigram_lm_tables(docs, text_col, id_col)
        out = dsir_resample(
            out, dsir_target_model, raw_model, dsir_top_n,
            seed=dsir_seed, temperature=dsir_temperature,
            text_col=text_col, id_col=id_col,
        )
        out = _funnel(out, "dsir")

    return out


def rejection_log(
    stage_frames: dict, id_col: str = "doc_id",
    reason_frames: dict | None = None,
    max_per_stage: int | None = None,
) -> DataFrame:
    """Per-document curation audit from a :func:`curate_corpus`
    ``stage_frames`` dict: one row ``(id_col, stage)`` for every
    document dropped by an enabled stage (the id appears in the stage's
    input boundary but not its output boundary). Text-rewriting stages
    that kept the document produce no row. Each per-stage term is an
    id-column-only ``subtract`` over the materialized boundary blocks —
    diagnostic-cheap. The result derives from the run's checkpoint
    cuts: action it INSIDE the :func:`curation_run` block, before the
    cuts are freed.

    ``reason_frames`` (optional, the dict :func:`curate_corpus` filled
    next to ``stage_frames``) adds a ``reason`` column naming, for
    composite gate stages (``quality_gates``, ``gopher``), the FIRST
    rule that fired for each dropped document; stages without a reason
    frame keep a NULL reason (the stage name is the reason). The join
    is per-stage on the (small) dropped-id set, broadcast-shaped.

    ``max_per_stage`` (optional) caps the audit at that many rows per
    stage for very large batches — the DETERMINISTIC lowest-id subset
    (a sort of each stage's already-small dropped-id set, not a
    ``limit``, whose pick would change run to run), so a capped audit
    is still replay-stable and diffable across reruns. The funnel
    (:func:`stage_counts`) keeps the exact totals; the cap only
    bounds the per-document listing."""
    stages = list(stage_frames.items())
    if len(stages) < 2:
        raise ValueError(
            "rejection_log needs a stage_frames dict from a "
            "curate_corpus call (>= 2 boundaries)"
        )
    if max_per_stage is not None and max_per_stage < 1:
        raise ValueError("max_per_stage must be >= 1")
    parts = []
    for (_, prev_f), (cur_name, cur_f) in zip(stages, stages[1:]):
        part = (
            prev_f.select(id_col)
            .subtract(cur_f.select(id_col))
            .withColumn("stage", F.lit(cur_name))
        )
        if max_per_stage is not None:
            # orderBy + limit compiles to TakeOrderedAndProject — a
            # distributed top-N (per-partition heads merged on the
            # driver), never a single-task global sort, so capping a
            # multi-million-row dropped set stays parallel
            part = part.orderBy(F.col(id_col).asc()).limit(
                int(max_per_stage)
            )
        if reason_frames is not None:
            reasons = reason_frames.get(cur_name)
            if reasons is not None:
                part = part.join(reasons, id_col, "left")
            else:
                part = part.withColumn(
                    "reason", F.lit(None).cast("string")
                )
        parts.append(part)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def stage_counts(stage_frames: dict) -> dict:
    """The exact per-stage survivor funnel from a :func:`curate_corpus`
    ``stage_frames`` dict: ``{stage_name: surviving_doc_count}`` in
    pipeline order. Each count scans the boundary cut's cached blocks
    (called before any other action, it materializes them — the same
    work the sink would do). Read it INSIDE the :func:`curation_run`
    block, before the cuts are freed."""
    return {name: frame.count() for name, frame in stage_frames.items()}


def _materialize_cuts(cuts: list) -> None:
    """Materialize a run's (lazy) plan cuts — work the sink would have
    paid anyway, moved inside :func:`curation_run` before it yields.
    REVERSED registration order on purpose: counting the most-
    downstream cut first computes (and caches) every upstream cut in
    its lineage as ONE fused job graph — per-cut counts in dependency
    order would insert a full job barrier between stages (measured 2x
    on the 10x composition). The remaining counts then scan warm blocks
    (~free) and cover side-branch cuts outside the last cut's lineage —
    so EVERY registered cut ends up materialized regardless of
    registration order (a side-branch cut registered last just becomes
    the first, fused count; pinned by
    test_materialize_cuts_side_branch_last)."""
    for c in reversed(cuts):
        c.count()


@contextmanager
def curation_run(docs: DataFrame, **kwargs):
    """Context-managed :func:`curate_corpus`: yields the curated frame;
    on exit, frees every checkpoint block the run's plan cuts created,
    so repeated composed runs in ONE session hold no residual executor
    storage::

        with curation_run(docs, gopher_rules={}, ...) as curated:
            curated.write.parquet(out_path)   # the sink action
        # blocks freed here; do not reuse `curated` past this point

    The run is one :func:`.plancut.cut_scope`: the release is SCOPED to
    the run's own cuts (a frame the caller caches or checkpoints while
    the run is open is NOT touched). The run's plan cuts are
    MATERIALIZED before yielding (they all execute anyway — this only
    moves the work before the sink). A failure propagates after the
    scope frees whatever cuts the run registered; README "Known
    upstream defect" covers the one upstream Spark failure a custom
    composition may hit here."""
    with cut_scope() as cuts:
        out = curate_corpus(docs, **kwargs)
        _materialize_cuts(cuts)
        yield out
