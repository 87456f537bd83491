"""CLI entry points mirroring the reference's three layer scripts
(reference: load_bronze.py:109-120, load_silver.py:259-265,
load_gold.py:142-154):

    python -m datawarehouse_vehicule_insurance_spark bronze --root <lake> --csv-root <dir>
    python -m datawarehouse_vehicule_insurance_spark silver --root <lake> [--ref-date YYYY-MM-DD]
    python -m datawarehouse_vehicule_insurance_spark gold   --root <lake>

``--root`` may be a local path or ``s3a://bucket/prefix`` (credentials
from the same env contract as the reference, SURVEY.md §2.7 O2).

Additive (beyond the reference): the training-corpus curation pipeline
over a documents parquet table —

    python -m datawarehouse_vehicule_insurance_spark curate \\
        --input <docs.parquet> --output <dir> [--benchmark <bench.parquet>]
        [--langs en,es] [--min-tokens 8] [--jaccard 0.8]
        [--existing-corpus <corpus.parquet>]   # incremental ingest mode

the recurring-crawl loop (availableNow; processes only files the
checkpoint hasn't seen, dedups against the growing corpus via its
persisted indexes, appends survivors + index rows) —

    python -m datawarehouse_vehicule_insurance_spark curate-stream \\
        --src <crawl-dir> --corpus <dir> --bands <dir> --hashes <dir> \\
        --checkpoint <dir> [--langs en] [--min-tokens 8] [--jaccard 0.8]

LSH-index maintenance (retraction + compaction rewrite) —

    python -m datawarehouse_vehicule_insurance_spark index-maintain \\
        --bands <dir> --out <dir> [--remove <ids.parquet>] [--compact]

full document takedown (corpus + every supplied index, one
consistent rewrite; retracted content is accepted again on
re-submission) —

    python -m datawarehouse_vehicule_insurance_spark retract \\
        --remove <ids.parquet> --corpus <dir> [--bands <dir>]
        [--hashes <dir>] [--shingles <dir>] [--line-counts <dir>]
        [--source-counts <dir>]

and reference-LM training for the perplexity gate (consumed by
``curate``/``curate-stream`` via ``--lm-bigrams --lm-unigrams
--max-perplexity``) —

    python -m datawarehouse_vehicule_insurance_spark lm-train \\
        --input <ref_docs.parquet> --lm-bigrams <dir> --lm-unigrams <dir>

the embedding-corpus ingest loop (IVF-index near-dup rejection, with
optional PQ maintenance and in-batch SemDeDup pruning) —

    python -m datawarehouse_vehicule_insurance_spark embed-stream \\
        --src <vec-dir> --corpus <dir> --centroids <dir> \\
        --assignments <dir> --checkpoint <dir> [--semantic-threshold 0.95]

BPE vocabulary training (persisted merges table for
``bpe_encode``/``bpe_token_count``) —

    python -m datawarehouse_vehicule_insurance_spark bpe-train \\
        --input <docs.parquet> --merges <dir> [--num-merges 200]

corpus release stats (one-row datasheet as one JSON line) —

    python -m datawarehouse_vehicule_insurance_spark datasheet --input <docs.parquet>

DSIR budget selection on ``curate`` (importance-resample the curated
pool toward a target distribution): ``--dsir-bigrams --dsir-unigrams
--dsir-top-n [--dsir-temperature]``. Index compaction scheduling on
``curate-stream``: ``--compact-every N`` folds every supplied index's
per-batch append partitions into one clustered partition after the run
once N batches have accumulated.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

from datawarehouse_vehicule_insurance_spark import get_spark
from datawarehouse_vehicule_insurance_spark.catalog import Catalog
from datawarehouse_vehicule_insurance_spark.plans.pipeline import Pipeline


def _run_curate(args: argparse.Namespace) -> int:
    """Curate a documents table: read parquet, run the cost-ordered
    curation plan, write survivors; prints one JSON line of counts."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curation_run,
        rejection_log,
        stage_counts,
    )

    spark = get_spark(app_name="insurance_curate")
    docs = spark.read.parquet(args.input)
    benchmark = (
        spark.read.parquet(args.benchmark) if args.benchmark else None
    )
    existing = (
        spark.read.parquet(args.existing_corpus)
        if args.existing_corpus else None
    )
    langs = tuple(args.langs.split(",")) if args.langs else None
    lm_model = _load_lm_model(spark, args)
    dsir_target = None
    if args.dsir_bigrams or args.dsir_unigrams or args.dsir_top_n:
        if not (args.dsir_bigrams and args.dsir_unigrams
                and args.dsir_top_n):
            raise SystemExit(
                "--dsir-bigrams, --dsir-unigrams and --dsir-top-n go "
                "together"
            )
        dsir_target = (
            spark.read.parquet(args.dsir_bigrams),
            spark.read.parquet(args.dsir_unigrams),
        )
    # curation_run (not bare curate_corpus): frees the run's checkpoint
    # blocks after the sink
    _validate_rejection_flags(args)
    frames = {} if (args.stage_counts or args.rejections) else None
    reasons = (
        {} if (args.rejections and not args.no_rejection_reasons)
        else None
    )
    with curation_run(
        docs,
        stage_frames=frames,
        reason_frames=reasons,
        benchmark=benchmark,
        lang_allow=langs,
        min_tokens=args.min_tokens,
        jaccard_threshold=args.jaccard,
        existing_corpus=existing,
        line_dedup_min_freq=args.line_dedup_freq,
        lm_model=lm_model,
        max_perplexity=args.max_perplexity,
        dsir_target_model=dsir_target,
        dsir_top_n=args.dsir_top_n,
        dsir_temperature=args.dsir_temperature,
        gopher_rules={} if args.gopher else None,
        source_cap=args.source_cap,
        source_col=args.source_col,
        existing_source_counts=_read_loop_artifact(
            spark, args.source_counts
        ),
    ) as out:
        out.write.mode("overwrite").parquet(args.output)
        # both diagnostics derive from the run's boundary cuts: read /
        # write them inside the block, before curation_run frees them
        stages = stage_counts(frames) if args.stage_counts else None
        if args.rejections:
            rejection_log(
                frames, reason_frames=reasons,
                max_per_stage=args.rejections_cap,
            ).write.mode("overwrite").parquet(args.rejections)
    kept = spark.read.parquet(args.output).count()
    stats = {"input": docs.count(), "kept": kept}
    if stages is not None:
        stats["stages"] = stages
    print(json.dumps(stats))
    return 0


def _validate_rejection_flags(args) -> None:
    """Fail-fast audit-flag validation shared by curate and
    curate-stream — a bad cap must reject the run up front (same rule
    as the compaction threshold), not surface as a ValueError deep
    inside the run or a StreamingQueryException mid-stream."""
    if args.rejections_cap is not None and args.rejections_cap < 1:
        raise SystemExit("--rejections-cap must be >= 1")
    if args.rejections_cap is not None and not args.rejections:
        raise SystemExit(
            "--rejections-cap needs --rejections (a cap without an "
            "audit to cap would be silently ignored)"
        )
    # same fail-fast contract for the sibling audit flag (r9 ADVICE):
    # an opt-out that the run would silently ignore is a user error
    if args.no_rejection_reasons and args.layer != "curate":
        raise SystemExit(
            "--no-rejection-reasons applies to curate only — the "
            "curate-stream audit is always stage-only (reasons are "
            "never written, so there is nothing to opt out of)"
        )
    if args.no_rejection_reasons and not args.rejections:
        raise SystemExit(
            "--no-rejection-reasons needs --rejections (without an "
            "audit to thin it would be silently ignored)"
        )


def _print_batch_stats(batch_id, stages):
    """One funnel JSON line per batch attempt — the shared
    --stage-counts output format for both ingest verbs."""
    print(json.dumps({"batch": batch_id, "stages": stages}))


def _read_loop_artifact(spark, path, flag="--source-counts"):
    """Read a loop-maintained artifact for batch-side use, stripping the
    loop's internal per-batch partition column (it would otherwise leak
    into partial-merge group keys). None path -> None; a path that does
    not exist (or holds no parquet) is a clear CLI error naming the
    flag, not a raw AnalysisException stack (every other artifact
    reader treats missing-as-None; here the user EXPLICITLY pointed at
    an index, so silence would charge a zero budget they did not ask
    for)."""
    if not path:
        return None
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        BATCH_COL,
        _try_read_parquet,
    )

    art = _try_read_parquet(spark, path)
    if art is None:
        raise SystemExit(
            f"{flag}: no readable parquet at {path!r} (the index must "
            "already exist; run the loop or index-maintain first)"
        )
    return art.drop(BATCH_COL) if BATCH_COL in art.columns else art


def _run_curate_stream(args: argparse.Namespace) -> int:
    """One incremental curation run over a document directory: the
    availableNow loop from :mod:`.streaming.curation`, with the same
    quality/language gates the batch ``curate`` verb applies (as the
    per-batch transform). Prints one JSON line with the corpus size."""
    from pyspark.sql import functions as F

    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        lang_id,
        quality_features,
    )
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        read_corpus,
        run_incremental_curation,
    )

    # fail-fast: an invalid (or ambiguous) compaction threshold or
    # audit cap must reject the run BEFORE the (potentially
    # hours-long) stream drains, not after
    _validate_rejection_flags(args)
    if (
        args.compact_when_partitions is not None
        and args.compact_every is not None
    ):
        raise SystemExit(
            "pass --compact-when-partitions OR --compact-every (an "
            "alias of it), not both — with two thresholds the intent "
            "is ambiguous"
        )
    threshold = (
        args.compact_when_partitions
        if args.compact_when_partitions is not None
        else args.compact_every
    )
    if threshold is not None and threshold < 1:
        raise SystemExit("compaction threshold must be >= 1")

    spark = get_spark(app_name="insurance_curate_stream")
    langs = tuple(args.langs.split(",")) if args.langs else None
    lm_model = _load_lm_model(spark, args)

    def transform(df):
        cols = df.columns
        gate = F.col("n_tokens") >= args.min_tokens
        if langs is not None:
            gate = gate & lang_id(F.col("text")).isin(*langs)
        out = quality_features(df, text_col="text").filter(gate).select(*cols)
        if args.gopher:
            from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
                gopher_filter,
            )

            out = gopher_filter(out)
        if lm_model is not None:
            from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
                perplexity_filter,
            )

            out = perplexity_filter(out, *lm_model, args.max_perplexity)
        return out

    q = run_incremental_curation(
        spark, args.src, args.corpus, args.bands, args.hashes,
        args.checkpoint, jaccard_threshold=args.jaccard,
        on_batch_stats=_print_batch_stats if args.stage_counts else None,
        rejections_path=args.rejections,
        rejections_cap=args.rejections_cap,
        transform=transform, shingles_path=args.shingles,
        line_counts_path=args.line_counts,
        line_dedup_min_freq=args.line_dedup_freq,
        winnow_path=args.winnow,
        span_min_shared=args.span_min_shared,
        trim_min_span=args.trim_min_span,
        span_grams_path=args.span_grams,
        trim_min_keep=args.trim_min_keep,
        near_dup_keep_by=F.length("text") if args.keep_longest else None,
        source_cap=args.stream_source_cap,
        source_col=args.source_col,
        source_counts_path=args.source_counts,
    )
    q.awaitTermination()
    compacted = None
    if threshold is not None:
        from datawarehouse_vehicule_insurance_spark.streaming.curation import (
            compact_loop_indexes_when,
        )

        # signal-driven compaction scheduling: once the band index has
        # accumulated enough per-batch append partitions, fold every
        # supplied artifact back into one clustered partition (safe
        # here — the availableNow stream has terminated)
        compacted = compact_loop_indexes_when(
            spark, threshold,
            index_path=args.bands,
            hash_path=args.hashes,
            shingles_path=args.shingles,
            line_counts_path=args.line_counts,
            winnow_path=args.winnow,
            span_grams_path=args.span_grams,
            source_counts_path=args.source_counts,
            # a newly configured index may not exist until a batch
            # with survivors lands — never fail the run over it
            ignore_missing=True,
        )["compacted"]
    corpus = read_corpus(spark, args.corpus)
    print(json.dumps({
        "corpus_rows": 0 if corpus is None else corpus.count(),
        "compacted": compacted,
    }))
    return 0


def _run_index_maintain(args: argparse.Namespace) -> int:
    """Maintenance rewrite of a persisted LSH band table: drop retracted
    documents' rows (``--remove`` = parquet of ids, first column) and/or
    compact (dup-row drop + uniform-fingerprint check + band_hash
    clustering). Writes to ``--out`` (a rewrite target, not in-place —
    the input is being read while writing).

    Streaming-loop compatibility: an index written by ``curate-stream``
    is partitioned by its internal batch column — that column is
    stripped before maintenance (so compaction dedups identical rows
    across batches) and the rewrite lands under one reserved batch
    partition, so ``--out`` can directly serve as the loop's next
    ``--bands`` directory."""
    from pyspark.sql import functions as F

    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        band_table_remove,
        compact_band_table,
    )
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        BATCH_COL,
    )

    spark = get_spark(app_name="insurance_index_maintain")
    idx = spark.read.parquet(args.bands)
    if BATCH_COL in idx.columns:
        idx = idx.drop(BATCH_COL)
    before = idx.count()
    if args.remove:
        idx = band_table_remove(idx, spark.read.parquet(args.remove))
    if args.compact:
        idx = compact_band_table(idx)
    (
        idx.withColumn(BATCH_COL, F.lit(-1))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .parquet(args.out)
    )
    after = spark.read.parquet(args.out).count()
    print(json.dumps({"rows_before": before, "rows_after": after}))
    return 0


def _run_lm_train(args: argparse.Namespace) -> int:
    """Train the bigram-LM model tables on a reference corpus and
    persist them; ``curate``/``curate-stream`` consume them via
    ``--lm-bigrams/--lm-unigrams --max-perplexity``."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bigram_lm_tables,
    )

    spark = get_spark(app_name="insurance_lm_train")
    bg, uni = bigram_lm_tables(spark.read.parquet(args.input))
    bg.write.mode("overwrite").parquet(args.lm_bigrams)
    uni.write.mode("overwrite").parquet(args.lm_unigrams)
    print(json.dumps({
        "bigrams": spark.read.parquet(args.lm_bigrams).count(),
        "unigrams": spark.read.parquet(args.lm_unigrams).count(),
    }))
    return 0


def _load_lm_model(spark, args):
    """The (bigrams, unigrams) pair from the CLI flags, or None; half a
    configuration is an error."""
    have = [args.lm_bigrams, args.lm_unigrams, args.max_perplexity]
    if all(v is None for v in have):
        return None
    if any(v is None for v in have):
        raise SystemExit(
            "--lm-bigrams, --lm-unigrams and --max-perplexity go together"
        )
    return (
        spark.read.parquet(args.lm_bigrams),
        spark.read.parquet(args.lm_unigrams),
    )


def _run_retract(args: argparse.Namespace) -> int:
    """Takedown: remove documents (parquet of ids, first column) from
    the stored corpus and every supplied persisted index in one
    consistent rewrite; prints per-artifact rows-after counts."""
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        retract_documents,
    )

    spark = get_spark(app_name="insurance_retract")
    out = retract_documents(
        spark, spark.read.parquet(args.remove), args.corpus,
        index_path=args.bands, hash_path=args.hashes,
        shingles_path=args.shingles, line_counts_path=args.line_counts,
        line_min_chars=args.line_min_chars,
        line_scope_col=args.line_scope,
        winnow_path=args.winnow,
        span_grams_path=args.span_grams,
        trim_min_span=args.trim_min_span,
        source_counts_path=args.source_counts,
        source_col=args.source_col,
    )
    print(json.dumps({"rows_after": out}))
    return 0


def _run_embed_stream(args: argparse.Namespace) -> int:
    """One incremental embedding-ingest run: the availableNow loop from
    :mod:`.streaming.curation` — batch vectors near-dup-checked against
    the persisted IVF index, survivors + assignments (and PQ codes,
    when configured) appended. ``--semantic-threshold`` additionally
    prunes each batch within itself (SemDeDup against the loop's
    centroids). Prints one JSON line with the corpus size."""
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        _try_read_parquet,
        run_incremental_embedding_ingest,
    )

    spark = get_spark(app_name="insurance_embed_stream")
    q = run_incremental_embedding_ingest(
        spark, args.src, args.corpus, args.centroids, args.assignments,
        args.checkpoint,
        neardup_threshold=args.neardup_threshold,
        n_probe=args.n_probe, n_cells=args.n_cells,
        codebooks_path=args.codebooks, codes_path=args.codes,
        clustered_path=args.clustered,
        semantic_threshold=args.semantic_threshold,
        on_batch_stats=_print_batch_stats if args.stage_counts else None,
    )
    q.awaitTermination()
    corpus = _try_read_parquet(spark, args.corpus)
    print(json.dumps(
        {"corpus_rows": 0 if corpus is None else corpus.count()}
    ))
    return 0


def _run_datasheet(args: argparse.Namespace) -> int:
    """Print the one-row corpus datasheet
    (:func:`~.operators.text_analysis.corpus_stats`) of a documents
    parquet table as one JSON line — the release-documentation numbers
    (doc/NULL counts, token totals + exact percentiles, quality means,
    per-language counts)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        corpus_stats,
    )

    spark = get_spark(app_name="insurance_datasheet")
    docs = spark.read.option("mergeSchema", "true").parquet(args.input)
    if args.by_source:
        from pyspark.sql import functions as F

        from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
            source_stats,
        )

        # per-source distribution (quota monitoring): one JSON line per
        # source, largest first
        for r in source_stats(docs, source_col=args.source_col).orderBy(
            F.col("n_docs").desc()
        ).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0
    row = corpus_stats(docs).first().asDict()
    for k, v in row.items():
        if hasattr(v, "items"):
            row[k] = dict(v)
    print(json.dumps(row, default=str))
    return 0


def _run_bpe_train(args: argparse.Namespace) -> int:
    """Train a BPE subword vocabulary on a corpus and persist the
    merges table (consumed via
    :func:`~.operators.text_analysis.bpe_encode` /
    :func:`~.operators.text_analysis.bpe_token_count`)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        train_bpe,
        train_bpe_bytes,
    )

    spark = get_spark(app_name="insurance_bpe_train")
    trainer = train_bpe_bytes if args.byte_level else train_bpe
    merges = trainer(
        spark.read.parquet(args.input),
        num_merges=args.num_merges,
        max_words=args.max_words,
    )
    merges.write.mode("overwrite").parquet(args.merges)
    print(json.dumps(
        {"merges": spark.read.parquet(args.merges).count()}
    ))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datawarehouse_vehicule_insurance_spark")
    p.add_argument(
        "layer",
        choices=["bronze", "silver", "gold", "all", "curate",
                 "curate-stream", "index-maintain", "retract",
                 "lm-train", "bpe-train", "embed-stream", "datasheet"],
    )
    p.add_argument("--root", help="lake root (path or s3a://)")
    p.add_argument("--csv-root", help="raw CSV dir (bronze only)")
    p.add_argument("--ref-date", help="pin 'today' for date rules (YYYY-MM-DD)")
    p.add_argument(
        "--fidelity", choices=["fast", "exact"], default="fast",
        help="title-case mode: initcap (fast) or Python str.title (exact)",
    )
    p.add_argument("--input", help="curate: documents parquet path")
    p.add_argument("--output", help="curate: output parquet dir")
    p.add_argument("--benchmark", help="curate: benchmark parquet path")
    p.add_argument(
        "--existing-corpus",
        help="curate: parquet of the corpus already ingested — makes the "
        "run incremental (batch deduped against it)",
    )
    p.add_argument("--langs", help="curate: comma-separated lang allowlist")
    p.add_argument(
        "--rejections",
        help="curate: write a (doc_id, stage, reason) parquet audit of "
        "every dropped document to this dir — reason names the first "
        "rule that fired for composite gate stages (quality_gates, "
        "gopher), NULL for single-rule stages; curate-stream: append "
        "each batch's (doc_id, stage) audit under its batch partition "
        "(diagnostic mode -- stage boundaries are checkpointed for the "
        "run or batch)",
    )
    p.add_argument(
        "--rejections-cap", dest="rejections_cap", type=int,
        help="curate/curate-stream: with --rejections, keep at most N "
        "audit rows per stage (deterministic lowest-id subset) — for "
        "very large batches where the full per-document listing is "
        "bigger than anyone will read; the funnel totals stay exact",
    )
    p.add_argument(
        "--no-rejection-reasons", dest="no_rejection_reasons",
        action="store_true",
        help="curate: write the audit WITHOUT the rule-level reason "
        "column — skips re-running the composite gates' feature plans "
        "at audit-write time (the cheap subtract-only path; schema "
        "reverts to (doc_id, stage))",
    )
    p.add_argument(
        "--stage-counts", action="store_true",
        help="curate: include the exact per-stage survivor funnel in "
        "the printed stats; curate-stream/embed-stream: print one "
        "JSON line per batch ATTEMPT with that batch's funnel (a "
        "replayed batch reports again -- last line per batch id "
        "wins; stage boundaries are checkpointed for the duration of "
        "the run or batch)",
    )
    p.add_argument("--min-tokens", type=int, default=8)
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--src", help="curate-stream: incoming document dir")
    p.add_argument("--corpus", help="curate-stream: accepted-corpus dir")
    p.add_argument(
        "--bands", help="curate-stream/index-maintain: band_table dir"
    )
    p.add_argument("--hashes", help="curate-stream: content_hash_table dir")
    p.add_argument(
        "--shingles",
        help="curate-stream: shingle_table dir (optional third index — "
        "with it the loop never reads corpus text)",
    )
    p.add_argument(
        "--line-counts", dest="line_counts",
        help="curate-stream: line_count_table dir (optional fourth "
        "index; requires --line-dedup-freq)",
    )
    p.add_argument(
        "--line-dedup-freq", dest="line_dedup_freq", type=int,
        help="curate/curate-stream: remove lines appearing in >= N "
        "distinct documents (C4 boilerplate rule; off when omitted)",
    )
    p.add_argument(
        "--line-min-chars", dest="line_min_chars", type=int, default=1,
        help="retract: min_chars the line-count index was built with",
    )
    p.add_argument(
        "--line-scope", dest="line_scope",
        help="retract: scope column the line-count index was built "
        "with (e.g. source)",
    )
    p.add_argument(
        "--winnow",
        help="curate-stream/retract: winnow_table dir (verbatim "
        "span-overlap index; requires --span-min-shared on the stream)",
    )
    p.add_argument(
        "--trim-min-span", dest="trim_min_span", type=int,
        help="curate-stream: cut verbatim token runs of >= N tokens "
        "duplicated in the batch or corpus out of incoming documents "
        "(reads corpus text per batch unless --span-grams is set)",
    )
    p.add_argument(
        "--stream-source-cap", dest="stream_source_cap", type=int,
        help="curate-stream: per-source quota vs the STORED corpus — a "
        "source at N stored docs admits nothing more (append-only; "
        "retraction frees budget)",
    )
    p.add_argument(
        "--by-source", dest="by_source", action="store_true",
        help="datasheet: one JSON line per --source-col value (doc/"
        "token counts, corpus share — the quota-monitoring view) "
        "instead of the one-row corpus datasheet",
    )
    p.add_argument(
        "--source-counts", dest="source_counts",
        help="curate/curate-stream/retract: source_count_table dir "
        "(per-source stored-count index; the quota charges persisted "
        "totals instead of re-grouping the corpus; on curate each "
        "source's budget becomes --source-cap minus its stored count)",
    )
    p.add_argument(
        "--keep-longest", dest="keep_longest", action="store_true",
        help="curate-stream: among within-batch near-duplicates keep "
        "the LONGEST document instead of the lowest id",
    )
    p.add_argument(
        "--trim-min-keep", dest="trim_min_keep", type=int,
        help="curate-stream: with --trim-min-span, drop documents whose "
        "TRIMMED text holds fewer than N tokens (all-quote husks)",
    )
    p.add_argument(
        "--span-grams", dest="span_grams",
        help="curate-stream/retract: span_gram_table dir (exact-"
        "substring trim index; with it the trim stage reads no corpus "
        "text; requires --trim-min-span)",
    )
    p.add_argument(
        "--span-min-shared", dest="span_min_shared", type=int,
        help="curate-stream: drop docs sharing >= N winnow "
        "fingerprints (verbatim runs) with the corpus or batch",
    )
    p.add_argument(
        "--lm-bigrams", dest="lm_bigrams",
        help="lm-train output / curate gate input: bigram count table",
    )
    p.add_argument(
        "--lm-unigrams", dest="lm_unigrams",
        help="lm-train output / curate gate input: unigram count table",
    )
    p.add_argument(
        "--max-perplexity", dest="max_perplexity", type=float,
        help="curate/curate-stream: drop documents above this "
        "perplexity under the reference model",
    )
    p.add_argument("--checkpoint", help="curate-stream: checkpoint dir")
    p.add_argument(
        "--compact-every", dest="compact_every", type=int,
        help="curate-stream: after the run, compact every supplied "
        "index once it holds >= N per-batch append partitions "
        "(alias of --compact-when-partitions, kept for compatibility)",
    )
    p.add_argument(
        "--compact-when-partitions", dest="compact_when_partitions",
        type=int,
        help="curate-stream: after the run, compact every supplied "
        "index when the band index's append-partition count (the "
        "loop_batch_partitions growth signal) has crossed N",
    )
    p.add_argument(
        "--remove",
        help="index-maintain/retract: parquet of retracted doc ids",
    )
    p.add_argument(
        "--compact", action="store_true",
        help="index-maintain: dedup rows + cluster by band_hash",
    )
    p.add_argument("--out", help="index-maintain: rewrite target dir")
    p.add_argument(
        "--dsir-bigrams", dest="dsir_bigrams",
        help="curate: DSIR target-model bigram table (lm-train output)",
    )
    p.add_argument(
        "--dsir-unigrams", dest="dsir_unigrams",
        help="curate: DSIR target-model unigram table",
    )
    p.add_argument(
        "--dsir-top-n", dest="dsir_top_n", type=int,
        help="curate: importance-resample the curated pool down to N "
        "documents resembling the DSIR target model",
    )
    p.add_argument(
        "--dsir-temperature", dest="dsir_temperature", type=float,
        default=1.0,
        help="curate: DSIR sampling temperature (small -> hard top-n)",
    )
    p.add_argument(
        "--gopher", action="store_true",
        help="curate/curate-stream: apply the full Gopher rule family "
        "at its published thresholds after the basic gates",
    )
    p.add_argument(
        "--merges", help="bpe-train: output dir for the merges table"
    )
    p.add_argument(
        "--centroids", help="embed-stream: IVF centroids dir"
    )
    p.add_argument(
        "--assignments", help="embed-stream: IVF assignment-table dir"
    )
    p.add_argument(
        "--codebooks", help="embed-stream: PQ codebooks dir (optional, "
        "with --codes)",
    )
    p.add_argument("--codes", help="embed-stream: PQ code-table dir")
    p.add_argument(
        "--clustered", help="embed-stream: cell-partitioned clustered "
        "corpus dir (optional; probe reads prune to probed cells)",
    )
    p.add_argument(
        "--neardup-threshold", dest="neardup_threshold", type=float,
        default=0.95,
        help="embed-stream: reject batch vectors this cosine-close to "
        "the corpus",
    )
    p.add_argument(
        "--n-cells", dest="n_cells", type=int, default=16,
        help="embed-stream: IVF cell count (index-lifetime)",
    )
    p.add_argument(
        "--n-probe", dest="n_probe", type=int, default=4,
        help="embed-stream: cells probed per batch vector",
    )
    p.add_argument(
        "--semantic-threshold", dest="semantic_threshold", type=float,
        help="embed-stream: also SemDeDup-prune each batch within "
        "itself at this cosine threshold",
    )
    p.add_argument(
        "--num-merges", dest="num_merges", type=int, default=200,
        help="bpe-train: merge operations to learn",
    )
    p.add_argument(
        "--max-words", dest="max_words", type=int, default=50_000,
        help="bpe-train: word-histogram truncation (most frequent N)",
    )
    p.add_argument(
        "--source-cap", dest="source_cap", type=int,
        help="curate: keep at most N survivors per --source-col value "
        "(per-domain frequency capping; seeded deterministic subset)",
    )
    p.add_argument(
        "--source-col", dest="source_col", default="source",
        help="curate/curate-stream/retract: column grouping the source "
        "quota and count index (default source)",
    )
    p.add_argument(
        "--byte-level", dest="byte_level", action="store_true",
        help="bpe-train: learn the byte-level (collision-free, "
        "exact-round-trip) variant; stamps bpe-bytes/v1 so the table "
        "only applies through bpe_encode_bytes",
    )
    args = p.parse_args(argv)

    if args.layer == "curate":
        if not (args.input and args.output):
            p.error("curate requires --input and --output")
        return _run_curate(args)
    if args.layer == "curate-stream":
        if not (args.src and args.corpus and args.bands and args.hashes
                and args.checkpoint):
            p.error(
                "curate-stream requires --src --corpus --bands --hashes "
                "--checkpoint"
            )
        return _run_curate_stream(args)
    if args.layer == "index-maintain":
        if not (args.bands and args.out):
            p.error("index-maintain requires --bands and --out")
        if not (args.remove or args.compact):
            p.error("index-maintain needs --remove and/or --compact")
        return _run_index_maintain(args)
    if args.layer == "retract":
        if not (args.remove and args.corpus):
            p.error("retract requires --remove and --corpus")
        return _run_retract(args)
    if args.layer == "lm-train":
        if not (args.input and args.lm_bigrams and args.lm_unigrams):
            p.error("lm-train requires --input --lm-bigrams --lm-unigrams")
        return _run_lm_train(args)
    if args.layer == "bpe-train":
        if not (args.input and args.merges):
            p.error("bpe-train requires --input and --merges")
        return _run_bpe_train(args)
    if args.layer == "datasheet":
        if not args.input:
            p.error("datasheet requires --input")
        return _run_datasheet(args)
    if args.layer == "embed-stream":
        if not (args.src and args.corpus and args.centroids
                and args.assignments and args.checkpoint):
            p.error(
                "embed-stream requires --src --corpus --centroids "
                "--assignments --checkpoint"
            )
        return _run_embed_stream(args)
    if not args.root:
        p.error(f"{args.layer} requires --root")

    ref_date = dt.date.fromisoformat(args.ref_date) if args.ref_date else None
    spark = get_spark(app_name=f"insurance_{args.layer}")
    pipe = Pipeline(
        spark, Catalog(root=args.root), ref_date=ref_date,
        fidelity=args.fidelity,
    )

    if args.layer in ("bronze", "all"):
        if not args.csv_root:
            p.error("bronze requires --csv-root")
        pipe.run_bronze(args.csv_root)
    if args.layer in ("silver", "all"):
        pipe.run_silver()
    if args.layer in ("gold", "all"):
        pipe.run_gold()

    print(json.dumps(pipe.results))
    return 0 if all(v == "ok" for v in pipe.results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
