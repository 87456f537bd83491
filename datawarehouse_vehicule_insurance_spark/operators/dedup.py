"""Deduplication operators for large-scale training-data pipelines.

Additive scope beyond the reference (its only dedup is full-row
``drop_duplicates``, reference: load_gold.py:87,112,128 → exact_dedup here).
All operators are built from shuffle-conscious primitives:

- exact:    hash-groupBy on a content digest (map-side partial agg).
- MinHash:  shingle → K minhashes → band → bucket self-join. The join key
  is (band_id, band_hash) so only same-bucket pairs shuffle — never the
  full cross product.
- SimHash:  64-bit weighted-token signature; duplicates = identical
  signature (or Hamming-near via band rotation).
- n-gram Jaccard: verification-grade exact similarity on candidate pairs.
- embedding cosine: near-dup via normalized-vector dot product on
  LSH/random-hyperplane buckets (see :mod:`.similarity` for ANN search).

Everything is native column expressions (xxhash64 / transform / aggregate)
— no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .plancut import checkpoint_cut, ensure_parallelism


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal — ``dropDuplicates`` (one hash shuffle on
    the dedup key; AQE coalesces the post-shuffle partitions)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_by_content(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative row (min id) per exact content hash.
    Shuffles only (hash, id) — the digest is computed map-side, so the
    exchange carries 16-byte keys, not document bodies."""
    h = F.md5(F.col(text_col)).alias("__content_hash")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("__content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of whitespace-normalized lowercase
    text. Gram construction delegates to :func:`..text_analysis.ngrams`
    (iterated ``zip_with`` over shifted slices — 7× faster than the
    naive per-position ``transform(i → array_join(slice(...)))`` since
    HOF lambdas are interpreted); a document shorter than ``n`` tokens
    keeps its single truncated gram."""
    from .text_analysis import ngrams, tokens

    return F.array_distinct(ngrams(tokens(text), n))


def minhash_signature(sh: Column, k: int = 64, seed: int = 42) -> Column:
    """K minhash values per row as ONE array-state ``aggregate`` column
    expression (state = array of K running minima).

    NOTE: higher-order functions are interpreted (no whole-stage
    codegen), so this column form costs ~µs per element-visit. It is kept
    for composability; the fast path for table-scale signatures is
    :func:`minhash_signatures_df` (explode → codegen'd hash columns →
    map-side-combined min agg), ~5× faster and fully codegen'd."""
    max_long = F.lit(0x7FFFFFFFFFFFFFFF).cast("long")
    seeds = F.sequence(F.lit(seed), F.lit(seed + k - 1))
    return F.aggregate(
        sh,
        F.array_repeat(max_long, k),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(s, i)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) per row — the whole-stage-codegen
    minhash shape:

    1. explode shingles (narrow, codegen'd);
    2. project K ordinary ``xxhash64(shingle, seed_i)`` columns
       (codegen'd — unlike lambda HOFs, plain columns JIT);
    3. ``groupBy(id).agg(min × K)`` — partial aggregation combines
       map-side, so the exchange carries one K-long row per document,
       NOT the exploded shingles.

    At 100 TB this is one shuffle keyed by document id (reused by the
    window sort AND the final aggregation) over token-hash rows — no
    shingle strings are ever materialized: a shingle's hash is
    xxhash64 over its n token hashes, combined via window ``lead``.
    """
    mins = _minhash_min_columns(df, text_col, id_col, k, shingle_n, seed)
    return mins.select(
        id_col, F.array(*[f"__m{i}" for i in range(k)]).alias("__sig")
    )


def _minhash_min_columns(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(id, __m0..__m{k-1}) — the K per-document minhash minima as plain
    columns (the shared core of :func:`minhash_signatures_df` and
    :func:`_banded_signatures`; keeping them unpacked lets the banded
    path hash signature slices without the interpreted array HOFs).

    Shingle hashes are built PER ROW — ``xxhash64`` over slices of the
    per-row token-hash array, the span-trim gram-builder pattern — so
    no token row ever shuffles and there is no window sort; only the
    8-byte shingle keys explode into the codegen'd K-hash projection,
    and the groupBy's min() partials combine map-side (one K-column
    row per doc per task reaches the exchange). Hash values are
    byte-identical to the previous lead-chain window form:
    ``xxhash64(array<long>)`` seed-chains elements exactly like the
    variadic call, and for a doc shorter than ``shingle_n`` tokens the
    single clamped slice equals the old NULL-skipping variadic hash of
    its first row (shingles()'s truncated-gram semantics)."""
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    th = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    # projection boundary: `th` referenced inside the per-position
    # lambda would be re-evaluated per call (interpreted HOFs do no
    # subexpression caching)
    base = ensure_parallelism(df).select(
        F.col(id_col), th.alias("__tharr")
    )
    tharr = F.col("__tharr")
    n_tok = F.size(tharr)
    # NULL text → NULL shingle array → explode yields no rows, exactly
    # like the old posexplode of a NULL token array (the doc is absent
    # from the signature output)
    shs = F.when(n_tok >= shingle_n, F.transform(
        F.sequence(F.lit(1), n_tok - shingle_n + 1),
        lambda i: F.xxhash64(F.slice(tharr, i, shingle_n)),
    )).when(n_tok.isNotNull(), F.array(F.xxhash64(tharr)))
    sh = base.select(F.col(id_col), F.explode(shs).alias("__sh"))
    hash_cols = [
        F.xxhash64("__sh", F.lit(seed + i)).alias(f"__h{i}")
        for i in range(k)
    ]
    return (
        sh.select(id_col, *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"__h{i}").alias(f"__m{i}") for i in range(k)])
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(id, band_id, band_hash) rows: MinHash signatures sliced into
    ``bands`` bands, each band hashed to one 64-bit bucket key — the
    shared LSH banding for the self-join (:func:`minhash_lsh_candidates`)
    and cross-corpus (:func:`cross_corpus_lsh_candidates`) paths.

    Band hashes are ``xxhash64`` DIRECTLY over the r min-columns of the
    band (plus the band id), skipping the array pack + interpreted
    slice/transform/array_join HOF chain of the earlier form (~9% off
    the candidate stage at sf0.1; verified identical final candidate
    pairs). Band-hash VALUES changed with that rewrite — persisted
    tables carry the ``v2`` fingerprint so a stale index fails loudly."""
    r = k // bands
    mins = _minhash_min_columns(df, text_col, id_col, k, shingle_n, seed)
    band_hashes = F.array(*[
        F.xxhash64(
            *[F.col(f"__m{b * r + j}") for j in range(r)], F.lit(b)
        )
        for b in range(bands)
    ])
    return mins.select(
        id_col,
        F.posexplode(band_hashes).alias("band_id", "band_hash"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows/bands trade-off: with k=64, bands=16 → r=4 rows/band, the classic
    s-curve threshold ≈ (1/b)^(1/r) ≈ 0.5 Jaccard. Pairs are produced by a
    self-equi-join on (band_id, band_hash) — at 100 TB this is the only
    scalable shape: the shuffle key-space is the band buckets, and skewed
    mega-buckets (boilerplate docs) are handled by AQE skew-join splitting.

    Returns (id_a, id_b, n_shared_bands) with id_a < id_b.
    """
    banded = _banded_signatures(
        df, text_col, id_col, k, bands, shingle_n, seed
    )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


LSH_PARAMS_COL = "__lsh_params"


def lsh_fingerprint(
    k: int, bands: int, shingle_n: int, seed: int
) -> str:
    """Canonical fingerprint of the banding parameters. Stored as a
    constant column in every :func:`band_table` (parquet RLE encodes it
    to nothing) so a probe with mismatched parameters fails LOUDLY
    instead of silently joining meaningless band hashes. The ``v2``
    component is the band-hash FORMAT version (v2 = direct xxhash64
    over min-columns) — bumped whenever the hash layout changes, so an
    index persisted under an older layout mismatches loudly too."""
    return (
        f"minhash-lsh/v2/k={k}/bands={bands}"
        f"/shingle_n={shingle_n}/seed={seed}"
    )


def validate_band_params(
    corpus_bands: DataFrame,
    k: int,
    bands: int,
    shingle_n: int,
    seed: int,
) -> None:
    """Assert a persisted :func:`band_table`'s stamped parameters match
    the probe's. Reads ONE row (a limit-1 scan — one parquet footer +
    one dictionary page, cheap at any corpus size); uniformity across
    appends is the writer's contract — every append goes through
    :func:`band_table`, which stamps the same fingerprint, and
    :func:`compact_band_table` re-checks the whole index. Tables
    written before the fingerprint column existed skip validation (the
    docstring-only contract they were built under)."""
    if LSH_PARAMS_COL not in corpus_bands.columns:
        return  # pre-fingerprint index: caller keeps the old contract
    expected = lsh_fingerprint(k, bands, shingle_n, seed)
    row = corpus_bands.select(LSH_PARAMS_COL).first()
    if row is None:
        return  # empty index matches anything
    found = row[0]
    if found != expected:
        raise ValueError(
            f"LSH band-table parameter mismatch: index was built with "
            f"{found!r} but the probe uses {expected!r} — candidates "
            f"from mismatched banding are meaningless"
        )


def band_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index of a corpus: (id, band_id, band_hash,
    __lsh_params) rows, ~``bands`` rows per document. An ingest pipeline
    writes this ONCE per corpus (partitioned/bucketed by band_hash if
    desired) and appends each accepted batch's rows — subsequent
    :func:`cross_corpus_lsh_candidates` calls pass it as
    ``corpus_bands`` so only the new batch pays signature computation.

    The banding parameters are stamped into the constant
    ``__lsh_params`` column and verified by the probe
    (:func:`validate_band_params`), so a k/bands/shingle_n/seed drift
    between index build and probe raises instead of silently returning
    garbage candidates."""
    return _banded_signatures(
        docs, text_col, id_col, k, bands, shingle_n, seed
    ).withColumn(
        LSH_PARAMS_COL, F.lit(lsh_fingerprint(k, bands, shingle_n, seed))
    )


def band_table_remove(
    corpus_bands: DataFrame,
    retracted_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Delete semantics for the persisted LSH index: drop the band rows
    of retracted documents (takedowns, re-crawled URLs, quality
    retractions). ``retracted_ids`` is a one-column DataFrame of ids.
    Returns the surviving index rows for rewrite — a hash anti-join on
    the id (16-byte keys shuffle, never band payloads); pair with
    :func:`compact_band_table` to fold the rewrite into a compaction."""
    ids = retracted_ids.select(
        F.col(retracted_ids.columns[0]).alias(id_col)
    ).distinct()
    return corpus_bands.join(ids, id_col, "left_anti")


def compact_band_table(
    corpus_bands: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Maintenance rewrite of a persisted LSH index: drop duplicate
    rows (re-ingested batches), verify the parameter stamp is uniform
    across all appends (mixed fingerprints mean some appends were built
    with different banding — raises, because their band hashes cannot
    match each other), and cluster output by ``band_hash`` so the
    probe-side equi-join reads co-located buckets. Run it the way you
    would any table compaction: periodically, as a full rewrite."""
    if LSH_PARAMS_COL in corpus_bands.columns:
        stamps = [
            r[0]
            for r in corpus_bands.select(LSH_PARAMS_COL).distinct().collect()
        ]
        if len(stamps) > 1:
            raise ValueError(
                f"band table holds appends with mixed LSH parameters "
                f"{sorted(stamps)} — rebuild the divergent appends with "
                f"one fingerprint before compacting"
            )
    out = corpus_bands.distinct()
    n = num_partitions or corpus_bands.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    return out.repartition(int(n), "band_hash")


def cross_corpus_lsh_candidates(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs BETWEEN two corpora (new batch vs
    existing corpus) via the same banded MinHash-LSH as
    :func:`minhash_lsh_candidates` — the recurring-crawl shape: each
    incoming batch is checked against what the corpus already holds,
    never all-pairs and never batch×corpus.

    Scale shape: both sides reduce to (id, band_id, band_hash) rows and
    meet in a band-bucket equi-join, so the shuffle key-space is the
    band buckets regardless of corpus size. Pass ``corpus_bands`` (a
    persisted :func:`band_table`) to skip recomputing the corpus side —
    the production shape for an append-only corpus; its stamped
    ``__lsh_params`` fingerprint is validated against this call's
    k/bands/shingle_n/seed (limit-1 read; mismatch raises — see
    :func:`validate_band_params`); otherwise ``corpus_docs`` is banded
    on the fly. Doc ids must be unique ACROSS the two corpora (standard
    for batch-prefixed or content-addressed ids).

    Returns (id_a = new-batch id, id_b = corpus id, n_shared_bands).
    """
    if (corpus_docs is None) == (corpus_bands is None):
        raise ValueError(
            "pass exactly one of corpus_docs or corpus_bands"
        )
    if corpus_bands is not None:
        validate_band_params(corpus_bands, k, bands, shingle_n, seed)
        if LSH_PARAMS_COL in corpus_bands.columns:
            corpus_bands = corpus_bands.drop(LSH_PARAMS_COL)
    new_banded = _banded_signatures(
        new_docs, text_col, id_col, k, bands, shingle_n, seed
    ).alias("a")
    corpus_banded = (
        corpus_bands
        if corpus_bands is not None
        else _banded_signatures(
            corpus_docs, text_col, id_col, k, bands, shingle_n, seed
        )
    ).alias("b")
    return (
        new_banded.join(
            corpus_banded,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def content_hash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The persistable exact-dedup index of a corpus: (id, content_hash)
    rows — the companion of :func:`band_table` for the exact stage. An
    ingest pipeline appends each accepted batch's rows so
    :func:`incremental_dedup` (``corpus_hashes=``) never re-hashes
    corpus text."""
    return docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )


SHINGLE_PARAMS_COL = "__shingle_params"


def shingle_fingerprint(n: int) -> str:
    """Canonical fingerprint of the shingle hashing parameters (gram
    width + hash layout version), stamped into :func:`shingle_table`
    and validated when a probe supplies a persisted table."""
    return f"ngram-shingles/v1/n={n}"


def _hashed_shingles(text: Column, n: int) -> Column:
    """Hashed shingle set of a text column: xxhash64 over each distinct
    word n-gram string — the ONE definition shared by the on-the-fly
    verify path and :func:`shingle_table`, so persisted sets and live
    sets live in the same hash space."""
    return F.transform(shingles(text, n), lambda g: F.xxhash64(g))


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The persistable verify-stage index of a corpus: (id, sh
    array<long>, __shingle_params) — each document's hashed shingle set,
    the third artifact next to :func:`band_table` and
    :func:`content_hash_table`. With it, :func:`ngram_jaccard`
    (``precomputed=``) fetches corpus shingle sets from the index
    instead of re-tokenizing corpus TEXT, which removes the last
    per-batch corpus scan from the incremental-dedup plan (the batch
    side is still computed live). ~8 bytes per distinct shingle —
    comparable to the text itself; it buys no-text verification, not
    compression."""
    return docs.select(
        F.col(id_col), _hashed_shingles(F.col(text_col), n).alias("sh")
    ).withColumn(SHINGLE_PARAMS_COL, F.lit(shingle_fingerprint(n)))


def drop_exact_corpus_matches(
    batch: DataFrame,
    corpus_docs: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop batch rows whose text is an exact (md5) duplicate of a
    corpus document — a 16-byte-key hash anti-join, corpus side served
    by the persisted :func:`content_hash_table` when supplied. The
    exact stage of :func:`incremental_dedup`, also used standalone as a
    RAW-text pre-filter before text-rewriting stages (line cleaning):
    run on the text as submitted, it rejects a re-submission of a
    stored document even when today's cleaning would rewrite it into
    something that no longer hash-matches what was stored."""
    if corpus_docs is None and corpus_hashes is None:
        return batch
    corpus_h = (
        corpus_hashes.select(
            F.col("content_hash").alias("__content_hash")
        ).distinct()
        if corpus_hashes is not None
        else corpus_docs.select(
            F.md5(F.col(text_col)).alias("__content_hash")
        ).distinct()
    )
    return (
        batch.withColumn("__content_hash", F.md5(F.col(text_col)))
        .join(corpus_h, "__content_hash", "left_anti")
        .drop("__content_hash")
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    corpus_bands: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Survivors of a new batch against an existing corpus: drop rows
    that are exact duplicates (within the batch or of the corpus) or
    near-duplicates of a corpus document (LSH candidates verified by
    exact n-gram Jaccard ≥ ``jaccard_threshold``). The incremental form
    of the full-corpus dedup pass — what a recurring ingest runs per
    batch instead of re-deduplicating the whole corpus.

    Cost order mirrors :mod:`.curate`: the cheap exact stage (16-byte
    hash anti-join) shrinks the batch before the LSH + verify stage.
    Doc ids must be unique across batch and corpus.

    With persisted indexes (the production recurring-crawl shape) pass
    ``corpus_bands`` (:func:`band_table`), ``corpus_hashes``
    (:func:`content_hash_table`) and ``corpus_shingles``
    (:func:`shingle_table`) — all parameter-validated. With the first
    two, the corpus pays no per-batch signature or digest recompute
    (text is touched only by the candidate-restricted verify); with all
    THREE, the plan references corpus text NOWHERE — ``corpus_docs``
    may then be None, and per-batch corpus IO is just the three index
    reads."""
    if corpus_docs is None and (
        corpus_bands is None or corpus_hashes is None
        or corpus_shingles is None
    ):
        raise ValueError(
            "corpus_docs=None requires all three persisted indexes "
            "(corpus_bands, corpus_hashes, corpus_shingles)"
        )
    # exact, within-batch: keep min-id representative per content hash
    batch = exact_dedup_by_content(new_docs, text_col, id_col)
    # exact, vs corpus: anti-join on content digest — only hashes shuffle
    batch = drop_exact_corpus_matches(
        batch, corpus_docs, corpus_hashes, text_col, id_col
    )
    # near-dup vs corpus: banded LSH candidates, Jaccard-verified
    cand = cross_corpus_lsh_candidates(
        batch,
        corpus_docs if corpus_bands is None else None,
        text_col, id_col, k, bands, shingle_n, seed,
        corpus_bands=corpus_bands,
    )
    cand = checkpoint_cut(cand)
    union_docs = (
        batch.select(id_col, text_col)
        if corpus_shingles is not None
        else batch.select(id_col, text_col).unionByName(
            corpus_docs.select(id_col, text_col)
        )
    )
    neardup = ngram_jaccard(
        cand, union_docs, id_col, text_col, shingle_n, jaccard_threshold,
        precomputed=corpus_shingles,
    )
    drop_ids = neardup.select(F.col("id_a").alias(id_col)).distinct()
    return batch.join(drop_ids, id_col, "left_anti")


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    precomputed: DataFrame | None = None,
    broadcast_max_ids: int = 4_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard verification over candidate pairs (the precise
    pass after LSH recall). Joins the candidate pair list back to the two
    shingle sets; intersection/union via native array ops.

    Scale shape: shingle sets are computed ONLY for documents that appear
    in a candidate pair (left-semi restriction — at verification time the
    candidate universe is orders of magnitude smaller than the corpus),
    and are reduced to sorted arrays of 8-byte ``xxhash64`` keys before
    the pair join, so ``array_intersect`` compares longs, not shingle
    strings, and the join never carries text. Jaccard on hashed sets
    equals Jaccard on the string sets except under a 64-bit hash
    collision within one pair's union (~1e-15 for 1k-shingle docs).

    ``precomputed`` (optional): a persisted :func:`shingle_table` —
    ids found there take their shingle sets from the index
    (parameter-validated); only ids NOT covered are computed from
    ``docs``. A pair whose ids are fully covered never touches text;
    an id covered by neither source drops its pairs (the standard
    inner-join contract — keep the index in sync with the corpus).

    ``broadcast_max_ids`` (r15): the candidate-id universe is cut,
    counted, and BROADCAST into the corpus semi-join when it holds at
    most this many ids — without the hint the planner sees unknown
    stats on the checkpointed frame and sort-merges, shuffling the
    whole corpus by id (AQE does convert the join to broadcast at
    runtime, but only after the corpus-side exchange already ran —
    plan-verified r15); forcing it at PLANNING time removes that
    exchange outright. The cap counts ROWS, not bytes, because the id
    type varies: 4M 8-byte ids ≈ tens of MB framed, far under the
    broadcast limits, but callers with wide string ids should lower
    ``broadcast_max_ids`` to keep the broadcast that small. Larger
    universes keep the shuffled join (the safe default for a verify
    pass someone feeds a corpus-sized pair list). Only the two
    ``left_semi`` probes take the hint; the ``left_anti`` join that
    finds ids missing from ``precomputed`` keeps the ids on its LEFT,
    which Spark cannot build for an anti join, so a hint there would
    be silently ignored."""
    cand_ids = checkpoint_cut(
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # the cut just materialized (bounded by the candidate universe), so
    # this count is a metadata-cheap job, not a recompute
    probe_ids = cand_ids
    if cand_ids.count() <= broadcast_max_ids:
        probe_ids = F.broadcast(cand_ids)
    if precomputed is not None:
        if SHINGLE_PARAMS_COL in precomputed.columns:
            row = precomputed.select(SHINGLE_PARAMS_COL).first()
            if row is not None and row[0] != shingle_fingerprint(n):
                raise ValueError(
                    f"shingle-table parameter mismatch: index was built "
                    f"with {row[0]!r} but the probe uses "
                    f"{shingle_fingerprint(n)!r}"
                )
            precomputed = precomputed.drop(SHINGLE_PARAMS_COL)
        pre = precomputed.select(id_col, "sh").join(
            probe_ids, id_col, "left_semi"
        )
        missing = cand_ids.join(
            precomputed.select(id_col), id_col, "left_anti"
        )
        # the text-computed side feeds both pair-join sides below — cut
        # it so the shingle build runs once; the INDEX side stays
        # uncut: re-scanning a persisted parquet index twice is cheap,
        # and the visible scan path is the loop's text-free evidence
        # (plan-probed by tests)
        sh = pre.unionByName(checkpoint_cut(
            docs.join(missing, id_col, "left_semi").select(
                F.col(id_col),
                _hashed_shingles(F.col(text_col), n).alias("sh"),
            )
        ))
    else:
        # `sh` feeds BOTH sides of the pair join below — without a cut
        # the whole subtree (the corpus semi-join shuffle + the shingle
        # build) executes twice, plan-verified: documents was exchanged
        # and sorted two times per verify (r14). The cut is bounded by
        # the candidate universe (one hashed-shingle array per
        # candidate doc), so one materialization replaces two
        # corpus-sized shuffles.
        sh = checkpoint_cut(
            docs.join(probe_ids, id_col, "left_semi").select(
                F.col(id_col),
                _hashed_shingles(F.col(text_col), n).alias("sh"),
            )
        )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive closure of a near-duplicate pair graph: returns
    (id, component) where ``component`` is the minimum id reachable from
    ``id`` — so one representative (the min) per duplicate cluster.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(diameter) rounds (duplicate clusters are near-cliques from LSH, so
    typically 2-3). The per-round cost is one shuffle keyed by node id;
    the loop is a driver-side iteration over plans, not over rows, with
    a convergence check via a count aggregate.

    Lineage is TRUNCATED, not just cached: ``edges`` (referenced every
    round) and each round's labels go through ``localCheckpoint`` — an
    iterative algorithm that only caches keeps the whole upstream plan
    in every round's lineage, so Catalyst re-optimizes a plan that grows
    by one join-tree per round (with an expensive upstream like
    MinHash-LSH this is driver plan-explosion/OOM long before the data
    is big; classic iterative-Spark failure mode). The checkpoint makes
    each round's plan O(1)-deep over materialized partitions."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    edges = checkpoint_cut(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    labels = checkpoint_cut(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        new_labels = checkpoint_cut(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    transitive: bool = False,
    keep_by: str | Column | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates → Jaccard verify →
    drop duplicates, keeping the min id. ``transitive=True`` runs
    :func:`connected_components` first so chains A~B~C collapse to one
    survivor even when A~C was never a candidate pair; the default
    one-pass mode drops the higher id of each confirmed pair.

    ``keep_by`` (optional) makes survivor selection quality-aware: a
    column name or expression over ``df`` (e.g. a
    :func:`~.mlprep.score_quality` score or a length heuristic) — each
    duplicate pair/cluster keeps its HIGHEST-scoring member instead of
    its lowest id (ties, and NULL scores ranked last, still break by
    min id). Pairwise mode orients every confirmed pair by the strict
    total order (score desc, id asc) and drops the later member — the
    order's global first in any duplicate component always survives,
    so quality ranking cannot cascade a cycle into zero survivors.

    The confirmed-pair table is ``localCheckpoint``-ed before the
    transitive closure: the iterative component loop would otherwise
    carry the whole signature→LSH→verify plan in every round's lineage
    (plan-explosion on the driver — the cost is in Catalyst, not the
    data)."""
    # the verify references the candidate table three times; checkpoint
    # so the signature→LSH pipeline executes once
    cand = checkpoint_cut(minhash_lsh_candidates(
        df, text_col, id_col, **lsh_kwargs
    ))
    confirmed = ngram_jaccard(
        cand, df, id_col, text_col,
        n=lsh_kwargs.get("shingle_n", 3), threshold=threshold,
    )
    quality = None
    if keep_by is not None:
        expr = F.col(keep_by) if isinstance(keep_by, str) else keep_by
        # NULL-safe rank: unscored docs lose to any scored one
        quality = df.select(
            F.col(id_col).alias("__qid"),
            F.coalesce(expr.cast("double"), F.lit(float("-inf")))
            .alias("__q"),
        )
    if transitive:
        comp = connected_components(checkpoint_cut(confirmed))
        if quality is None:
            losers = comp.filter(F.col("id") != F.col("component")).select(
                F.col("id").alias(id_col)
            )
        else:
            scored = comp.join(
                quality, comp["id"] == quality["__qid"]
            ).select("id", "component", "__q")
            # keeper = min id among the component's max-quality members —
            # two partial-aggregatable steps, id-type-generic (an id
            # negation trick would NULL out string ids and silently
            # no-op the dedup)
            best_q = scored.groupBy("component").agg(
                F.max("__q").alias("__bq")
            )
            keeper = (
                scored.join(best_q, "component")
                .filter(F.col("__q") == F.col("__bq"))
                .groupBy("component")
                .agg(F.min("id").alias("__keep_id"))
            )
            losers = scored.join(keeper, "component").filter(
                F.col("id") != F.col("__keep_id")
            ).select(F.col("id").alias(id_col))
    elif quality is None:
        losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    else:
        qa = quality.withColumnRenamed("__qid", "id_a") \
                    .withColumnRenamed("__q", "__qa")
        qb = quality.withColumnRenamed("__qid", "id_b") \
                    .withColumnRenamed("__q", "__qb")
        pair_loser = confirmed.join(qa, "id_a").join(qb, "id_b").select(
            F.when(
                (F.col("__qa") > F.col("__qb"))
                | ((F.col("__qa") == F.col("__qb"))
                   & (F.col("id_a") < F.col("id_b"))),
                F.col("id_b"),
            ).otherwise(F.col("id_a")).alias(id_col)
        )
        losers = pair_loser.distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    text: Column, bits: int = 64, seed: int = 42, portable: bool = False
) -> Column:
    """64-bit SimHash of whitespace tokens: per bit, sum ±1 over token
    hashes' bit values; bit set iff the sum is positive. Expressed as
    native aggregate over the token array.

    Classic bit-extraction voting: bit b's vote is the literal bit b of
    the token hash, read via ``bitwiseAND`` with a powers-of-two literal
    array (``shiftright`` needs a literal shift amount and so cannot sit
    inside a lambda; ``&`` can). One AND per (token, bit) — no per-bit
    rehash.

    ``portable=True`` swaps the xxhash64 token hash for a 60-bit value
    parsed from the first 15 hex chars of md5(token). md5 is
    engine-portable (DuckDB: ``('0x' || substr(md5(t),1,15))::BIGINT``),
    which makes the signature oracle-checkable; xxhash64 (default) is
    the faster production path. ``bits`` must be ≤ 60 in portable mode
    so every vote reads a real hash bit.
    """
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits")
    tokens = F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")
    if portable:
        hashes = F.transform(
            tokens,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    else:
        hashes = F.transform(tokens, lambda t: F.xxhash64(t, F.lit(seed)))
    vote_powers = F.array(*[
        F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        for b in range(bits)
    ])

    # one array-state aggregate (state = per-bit vote counts) instead of
    # `bits` separate aggregates — keeps the codegen'd tree O(1) size
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                vote_powers,
                lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    # fold votes into the signature: bit b set iff votes[b] > 0.
    # powers-of-two literal array (bit 63 as the signed min-long) since
    # shiftleft(1L, b) needs a literal shift amount
    powers = F.array(*[
        F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        for b in range(bits)
    ])
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 64, seed: int = 42,
) -> DataFrame:
    """Exact-signature SimHash dedup: keep min-id row per signature.
    (Hamming-distance-near variants bucket on signature bands, same LSH
    shape as MinHash.)"""
    sig = simhash(F.col(text_col), bits, seed).alias("__simhash")
    keep = (
        df.select(sig, F.col(id_col))
        .groupBy("__simhash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# line-level (boilerplate) dedup — C4/RefinedWeb-style repeated-line removal
# ---------------------------------------------------------------------------
#
# Document-level dedup (above) keeps one copy of a duplicated DOCUMENT;
# web-scale training corpora additionally need LINE-level removal: nav
# bars, cookie banners, footers and share buttons repeat across many
# otherwise-distinct pages, and a line that appears in enough documents
# is boilerplate wherever it appears (the C4 rule removes the line from
# EVERY document, including the "first" one). No reference analogue —
# the reference has no text corpus at all; additive scope per the brief.

LINE_PARAMS_COL = "__line_params"


def line_fingerprint(
    sep: str, min_chars: int, scope_col: str | None
) -> str:
    """Canonical fingerprint of the line-counting parameters, stamped
    into every :func:`line_count_table` (constant column — parquet RLE
    encodes it to nothing) and validated when a persisted/merged table
    is supplied to :func:`line_dedup`, so a sep/min_chars/scope drift
    between index build and probe raises instead of silently
    mis-removing (or missing) boilerplate."""
    return (
        f"line-counts/v1/sep={sep!r}/min_chars={min_chars}"
        f"/scope={scope_col or ''}"
    )


def _line_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    sep: str,
    scope_col: str | None,
) -> DataFrame:
    """Exploded (id[, scope], __pos, __line, __line_hash) rows of every
    non-NULL document. Narrow (no shuffle); the hash is xxhash64 over
    the TRIMMED line so indentation/trailing-space variants of the same
    boilerplate line match, while removal keeps original line text for
    byte-faithful reassembly of survivors."""
    cols = [F.col(id_col)] + ([F.col(scope_col)] if scope_col else [])
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            *cols,
            F.posexplode(F.split(F.col(text_col), sep)).alias(
                "__pos", "__line"
            ),
        )
        .withColumn("__line_hash", F.xxhash64(F.trim(F.col("__line"))))
    )


def line_count_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
    scope_col: str | None = None,
) -> DataFrame:
    """The persistable line-frequency index of a corpus:
    ([scope,] line_hash, n_docs, __line_params) — how many DISTINCT
    documents contain each (trimmed) line. The fourth artifact next to
    :func:`band_table` / :func:`content_hash_table` /
    :func:`shingle_table`: an ingest pipeline appends each accepted
    batch's rows, and because a document belongs to exactly one batch,
    per-batch ``n_docs`` values SUM to the corpus-wide count
    (:func:`merge_line_counts`) — the mergeable-partial property that
    makes line frequency maintainable without ever re-reading corpus
    text.

    ``min_chars`` exempts short lines (separators, blank lines, ``-``)
    from counting entirely — they are ubiquitous by nature and removing
    them would shred formatting, so they are never counted and never
    removed. ``scope_col`` (e.g. ``source``) counts per scope value:
    the per-site shape, where a line is boilerplate only within the
    site that repeats it.

    Scale shape: explode is narrow; the distinct + count is one shuffle
    of (8-byte hash[, scope], id) triples with map-side partial
    aggregation — line TEXT never shuffles."""
    lines = _line_rows(docs, text_col, id_col, sep, scope_col)
    keys = ([scope_col] if scope_col else []) + ["__line_hash"]
    return (
        lines.filter(F.length(F.trim(F.col("__line"))) >= min_chars)
        .select(*keys, id_col)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumnRenamed("__line_hash", "line_hash")
        .withColumn(
            LINE_PARAMS_COL,
            F.lit(line_fingerprint(sep, min_chars, scope_col)),
        )
    )


def validate_line_params(
    counts: DataFrame, sep: str, min_chars: int, scope_col: str | None
) -> None:
    """Assert a persisted :func:`line_count_table`'s stamped parameters
    match the probe's (limit-1 read, same contract as
    :func:`validate_band_params`)."""
    if LINE_PARAMS_COL not in counts.columns:
        return
    expected = line_fingerprint(sep, min_chars, scope_col)
    row = counts.select(LINE_PARAMS_COL).first()
    if row is None:
        return
    if row[0] != expected:
        raise ValueError(
            f"line-count table parameter mismatch: index was built with "
            f"{row[0]!r} but the probe uses {expected!r} — line hashes "
            f"from mismatched splitting are meaningless"
        )


def merge_line_counts(*tables: DataFrame) -> DataFrame:
    """Merge per-batch :func:`line_count_table` partials into corpus
    totals: ``n_docs`` sums because each document lives in exactly one
    batch. Mixed parameter stamps ACROSS tables raise (counts from
    different splitting rules must not be summed) — checked with one
    limit-1 read per table, never a distinct over the union; stamp
    uniformity WITHIN a table is the writer's contract, same as
    :func:`validate_band_params`."""
    if not tables:
        raise ValueError("merge_line_counts needs at least one table")
    stamps = set()
    for t in tables:
        if LINE_PARAMS_COL in t.columns:
            row = t.select(LINE_PARAMS_COL).first()
            if row is not None:
                stamps.add(row[0])
    if len(stamps) > 1:
        raise ValueError(
            f"line-count tables hold mixed parameters "
            f"{sorted(stamps)} — rebuild before merging"
        )
    stamp = next(iter(stamps)) if stamps else None
    merged = tables[0].drop(LINE_PARAMS_COL)
    for t in tables[1:]:
        merged = merged.unionByName(t.drop(LINE_PARAMS_COL))
    keys = [c for c in merged.columns if c != "n_docs"]
    out = merged.groupBy(*keys).agg(F.sum("n_docs").alias("n_docs"))
    if stamp is not None:
        out = out.withColumn(LINE_PARAMS_COL, F.lit(stamp))
    return out


def line_dedup_incremental(
    docs: DataFrame,
    corpus_counts: DataFrame | None = None,
    min_doc_freq: int = 2,
    sep: str = "\n",
    min_chars: int = 1,
    scope_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_empty: bool = True,
) -> DataFrame:
    """One batch's line cleaning against merged corpus+batch line
    frequencies — THE shared stage used by ``curate_corpus`` and the
    streaming loop (one definition, so the merge/validate/clean
    semantics cannot drift between them). ``corpus_counts`` (optional)
    is the corpus's persisted :func:`line_count_table`; its stamp is
    validated with a limit-1 read, the batch's own partial is summed in
    plan-side, and :func:`line_dedup` runs with validation off (the
    merged stamp is ours by construction).

    Callers must pass docs ALREADY exact-deduped (within batch and —
    via :func:`drop_exact_corpus_matches` on the raw text — against the
    corpus): exact copies would otherwise inflate the partial and
    over-remove. Residual caveat: a batch doc that is a NEAR-dup of a
    corpus doc (rejected later, after cleaning) still counts its lines
    once here, so the decision counts can exceed the stored-corpus
    counts by the number of such rejected docs — bounded, and the
    persisted index itself stays exact (it is rebuilt from survivors).
    """
    partial = line_count_table(
        docs, text_col, id_col, sep, min_chars, scope_col
    )
    if corpus_counts is None:
        counts = partial
    else:
        validate_line_params(corpus_counts, sep, min_chars, scope_col)
        keys = ([scope_col] if scope_col else []) + ["line_hash"]
        merged = partial.select(*keys, "n_docs").unionByName(
            corpus_counts.select(*keys, "n_docs")
        )
        counts = (
            merged.groupBy(*keys)
            .agg(F.sum("n_docs").alias("n_docs"))
            .withColumn(
                LINE_PARAMS_COL,
                F.lit(line_fingerprint(sep, min_chars, scope_col)),
            )
        )
    return line_dedup(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_doc_freq=min_doc_freq,
        sep=sep,
        min_chars=min_chars,
        scope_col=scope_col,
        drop_empty=drop_empty,
        line_counts=counts,
        validate=False,
    )


def line_count_table_remove(
    counts: DataFrame,
    retracted_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
    scope_col: str | None = None,
) -> DataFrame:
    """Delete semantics for the persisted line-frequency index:
    SUBTRACT the retracted documents' own partial (counts are sums of
    per-doc indicators, so removal is exact subtraction — the flip side
    of :func:`merge_line_counts`), dropping lines whose count reaches
    zero. ``retracted_docs`` must be the stored corpus rows being
    removed — text included, exactly as stored — because the index was
    built from that text; parameters must match the index's stamp
    (validated). Returns the surviving index rows for rewrite."""
    validate_line_params(counts, sep, min_chars, scope_col)
    partial = (
        line_count_table(
            retracted_docs, text_col, id_col, sep, min_chars, scope_col
        )
        .withColumnRenamed("n_docs", "__n_retracted")
        .drop(LINE_PARAMS_COL)
    )
    keys = ([scope_col] if scope_col else []) + ["line_hash"]
    out_cols = [c for c in counts.columns if c != "n_docs"]
    return (
        counts.join(partial, keys, "left")
        .withColumn(
            "n_docs",
            F.col("n_docs") - F.coalesce(F.col("__n_retracted"), F.lit(0)),
        )
        .filter(F.col("n_docs") > 0)
        .select(*out_cols, "n_docs")
    )


SOURCE_PARAMS_COL = "__source_params"


def source_fingerprint(source_col: str) -> str:
    """Canonical fingerprint of the per-source counting parameters,
    stamped into every :func:`source_count_table` and validated when a
    persisted table feeds the admission quota — counts grouped by a
    different column must never charge this quota's budget."""
    return f"source-counts/v1/source_col={source_col}"


def source_count_table(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable per-source document-count index of a corpus:
    (``source_col``, n_docs, __source_params) — how many distinct
    documents each source contributed. The seventh loop artifact next
    to band/hash/shingle/line/winnow/span-gram: an ingest loop appends
    each accepted batch's partial, and because a document lives in
    exactly one batch, per-batch ``n_docs`` values SUM to the stored
    totals (:func:`merge_source_counts`) — so the admission quota
    charges stored counts from the index alone, without the per-batch
    corpus scan it otherwise pays. NULL source is counted as its own
    group (the quota treats the NULL slice as one budget, so the index
    must too).

    Scale shape: one shuffle of (source, id) pairs with map-side
    partial aggregation — document text never shuffles, and the table
    holds one row per distinct source value."""
    if source_col not in docs.columns:
        raise ValueError(
            f"source_count_table needs a {source_col!r} column"
        )
    return (
        docs.select(source_col, id_col)
        .distinct()
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            SOURCE_PARAMS_COL, F.lit(source_fingerprint(source_col))
        )
    )


def validate_source_params(counts: DataFrame, source_col: str) -> None:
    """Assert a persisted :func:`source_count_table`'s stamped grouping
    column matches the probe's (limit-1 read, same contract as
    :func:`validate_line_params`)."""
    if SOURCE_PARAMS_COL not in counts.columns:
        return
    row = counts.select(SOURCE_PARAMS_COL).first()
    if row is None:
        return
    expected = source_fingerprint(source_col)
    if row[0] != expected:
        raise ValueError(
            f"source-count table parameter mismatch: index was built "
            f"with {row[0]!r} but the quota uses {expected!r} — counts "
            f"grouped by a different column must not charge this budget"
        )


def merge_source_counts(*tables: DataFrame) -> DataFrame:
    """Merge per-batch :func:`source_count_table` partials into stored
    totals: ``n_docs`` sums because each document lives in exactly one
    batch. Mixed stamps across tables raise (one limit-1 read per
    table); NULL source merges as one group (Spark groupBy keeps NULL
    keys)."""
    if not tables:
        raise ValueError("merge_source_counts needs at least one table")
    stamps = set()
    for t in tables:
        if SOURCE_PARAMS_COL in t.columns:
            row = t.select(SOURCE_PARAMS_COL).first()
            if row is not None:
                stamps.add(row[0])
    if len(stamps) > 1:
        raise ValueError(
            f"source-count tables hold mixed parameters "
            f"{sorted(stamps)} — rebuild before merging"
        )
    stamp = next(iter(stamps)) if stamps else None
    merged = tables[0].drop(SOURCE_PARAMS_COL)
    for t in tables[1:]:
        merged = merged.unionByName(t.drop(SOURCE_PARAMS_COL))
    keys = [c for c in merged.columns if c != "n_docs"]
    if len(keys) != 1:
        # a stray column (e.g. the streaming loop's __batch_id partition
        # column on a directly-read artifact) would silently become a
        # group key, leaving per-batch rows that MULTIPLY any downstream
        # budget join — strictness turns that corruption into an error
        raise ValueError(
            f"source-count table has unexpected columns {sorted(keys)} "
            "— expected exactly (source, n_docs[, stamp]); strip "
            "partition columns before merging"
        )
    out = merged.groupBy(*keys).agg(F.sum("n_docs").alias("n_docs"))
    if stamp is not None:
        out = out.withColumn(SOURCE_PARAMS_COL, F.lit(stamp))
    return out


def source_count_table_remove(
    counts: DataFrame,
    retracted_docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Delete semantics for the persisted per-source count index:
    SUBTRACT the retracted documents' own partial (exact, the flip side
    of :func:`merge_source_counts`), dropping sources whose count
    reaches zero — so a takedown frees admission budget. NULL-safe
    join: the NULL-source group subtracts like any other.
    ``retracted_docs`` must be the stored corpus rows being removed.
    The building block for table-format ``DELETE`` flows; the loop's
    :func:`~...streaming.curation.retract_documents` rebuilds from
    survivors instead (idempotent under replay)."""
    validate_source_params(counts, source_col)
    # merge first: the on-disk loop artifact holds PER-BATCH partials
    # (several rows per source) — subtracting from each row would take
    # the full retracted count off every partial, silently freeing
    # phantom admission budget. The strict merge also rejects stray
    # partition columns.
    counts = merge_source_counts(counts)
    partial = (
        source_count_table(retracted_docs, source_col, id_col)
        .select(
            F.col(source_col).alias("__rsrc"),
            F.col("n_docs").alias("__n_retracted"),
        )
    )
    out_cols = [c for c in counts.columns if c != "n_docs"]
    return (
        counts.join(
            partial,
            F.col(source_col).eqNullSafe(F.col("__rsrc")),
            "left",
        )
        .withColumn(
            "n_docs",
            F.col("n_docs") - F.coalesce(F.col("__n_retracted"), F.lit(0)),
        )
        .filter(F.col("n_docs") > 0)
        .select(*out_cols, "n_docs")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    sep: str = "\n",
    min_chars: int = 1,
    scope_col: str | None = None,
    drop_empty: bool = True,
    line_counts: DataFrame | None = None,
    validate: bool = True,
) -> DataFrame:
    """Remove every line that appears in ≥ ``min_doc_freq`` distinct
    documents from ALL documents containing it (the C4 boilerplate
    rule: a nav bar is junk in every page, including the first one),
    preserving the order of surviving lines. Returns rows with the
    input schema and rewritten ``text_col``; NULL-text rows pass
    through untouched; documents whose every line was removed are
    dropped when ``drop_empty`` (documents that were ALREADY empty
    survive — their one sub-``min_chars`` line is exempt).

    ``line_counts`` (optional) supplies the frequencies from a
    persisted/merged :func:`line_count_table` instead of counting
    ``df`` itself — the incremental shape, where a batch is cleaned
    against corpus-wide totals (merge the batch's own partial in via
    :func:`merge_line_counts` first if batch-internal repeats should
    count). Its parameter stamp is validated (``validate=False`` skips
    the limit-1 check for callers that constructed the counts
    themselves — a first() on a live merged plan would otherwise
    execute part of it just to read a stamp the caller already knows).
    Note the append-only asymmetry: a line that only LATER crosses the
    threshold is removed from later batches but stays in
    already-accepted documents until a corpus rewrite — the standard
    batch-vs-retroactive trade.

    ``sep`` is used both as the split REGEX and the re-join literal —
    the default ``"\\n"`` means both; regex metacharacters would need
    escaping on the split side, so keep it a plain literal.

    Scale shape: one count shuffle of (hash[, scope], id) with
    map-side combine (:func:`line_count_table`); the repeated-hash set
    (post-threshold, usually tiny) meets the exploded lines in an
    equi-anti-join AQE can broadcast; one reassembly shuffle of
    surviving line text keyed by document id — the only text shuffle,
    and it carries exactly the output. Hash collisions (8-byte
    xxhash64 across distinct trimmed lines) can at worst remove a
    non-repeated line — the standard hashed-dedup approximation."""
    if line_counts is None:
        counts = line_count_table(
            df, text_col, id_col, sep, min_chars, scope_col
        )
    else:
        if validate:
            validate_line_params(line_counts, sep, min_chars, scope_col)
        counts = line_counts
    join_keys = ([scope_col] if scope_col else []) + ["__line_hash"]
    repeated = (
        counts.filter(F.col("n_docs") >= min_doc_freq)
        .withColumnRenamed("line_hash", "__line_hash")
        .select(*join_keys)
    )
    lines = _line_rows(df, text_col, id_col, sep, scope_col)
    rebuilt = (
        lines.join(repeated, join_keys, "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line"))
                    ),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias("__rebuilt")
        )
    )
    out = df.join(rebuilt, id_col, "left")
    if drop_empty:
        out = out.filter(
            F.col(text_col).isNull() | F.col("__rebuilt").isNotNull()
        )
    return out.withColumn(
        text_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("__rebuilt"), F.lit(""))),
    ).drop("__rebuilt")


# ---------------------------------------------------------------------------
# verbatim span overlap (partial-containment dedup)
# ---------------------------------------------------------------------------

def _winnow_fingerprint_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    window: int,
    w_select: int,
) -> DataFrame:
    """(id, __fp) — each document's winnowing sketch as ROWS, computed
    PER ROW with no token shuffle: fingerprints are ``xxhash64`` over
    slices of the per-row token-hash array (byte-identical to the
    previous posexplode + window-``lead`` chain — the span-trim
    gram-builder equivalence, pinned by
    test_winnow_rows_match_window_form), the ``w_select`` sliding min
    is ``w_select−1`` linear ``zip_with``/``least`` passes over that
    LONG array (cheap — the "~20× slower" interpreted form this
    replaced at r4 was building gram STRINGS per position, quadratic
    in window size; the hash-array passes are linear), and only the
    distinct 8-byte fingerprints explode. Tail semantics mirror
    :func:`~.text_analysis.winnow_sketch`: documents shorter than
    ``window`` tokens keep one truncated-gram fingerprint; sketches
    shorter than ``w_select`` keep their overall min (``least``
    ignores the NULL padding of the shifted slices); NULL text emits
    no rows."""
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    th = F.transform(toks, lambda t: F.xxhash64(t))
    # projection boundary: interpreted HOFs re-evaluate `th` per
    # lambda call without it
    base = ensure_parallelism(docs).select(
        F.col(id_col), th.alias("__tharr")
    )
    tharr = F.col("__tharr")
    n_tok = F.size(tharr)
    fps = F.when(n_tok >= window, F.transform(
        F.sequence(F.lit(1), n_tok - window + 1),
        lambda i: F.xxhash64(F.slice(tharr, i, window)),
    )).when(n_tok.isNotNull(), F.array(F.xxhash64(tharr)))
    fp_base = base.select(F.col(id_col), fps.alias("__fps"))
    fparr = F.col("__fps")
    width = F.greatest(F.size(fparr) - (w_select - 1), F.lit(1))
    acc = F.slice(fparr, 1, width)
    for j in range(1, w_select):
        acc = F.zip_with(
            acc, F.slice(fparr, 1 + j, width), lambda a, b: F.least(a, b)
        )
    return fp_base.select(
        F.col(id_col), F.explode(F.array_distinct(acc)).alias("__fp")
    )


def verbatim_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    w_select: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Document pairs sharing a VERBATIM token run — the exact-substring
    overlap signal (train-data dedup of long quotations/mirrors) that
    set-based Jaccard misses when one document merely CONTAINS a span
    of another: a 60-token quote inside a 6000-token page moves shingle
    Jaccard by ~1% but is still a verbatim copy.

    Winnowing selection (the MOSS rule), with its guarantee: any shared
    run of ``window + w_select − 1`` tokens puts at least one identical
    fingerprint in BOTH sketches, so recall for runs ≥ that length is
    1.0 (modulo 64-bit hash collision); a shared fingerprint conversely
    certifies a shared ``window``-token run. ``min_shared`` asks for
    that many distinct shared fingerprints — higher values demand
    longer/more overlaps at sub-linear cost.

    Scale shape: the sketch is computed per row with no token shuffle
    (:func:`_winnow_fingerprint_rows` — hash-array slices, the same
    builder pattern as :func:`_minhash_min_columns` and the span-trim
    grams), then an equi-join on the 8-byte
    fingerprint — same bucket-join-never-all-pairs shape as the LSH
    band join; pairs oriented ``id_a < id_b``. A fingerprint shared by
    f documents yields C(f,2) joined rows — ubiquitous boilerplate
    spans should be removed first (:func:`line_dedup`), same hot-bucket
    caveat as any LSH join.

    Returns (id_a, id_b, n_shared_fingerprints).
    """
    sk = _winnow_fingerprint_rows(docs, text_col, id_col, window, w_select)
    a, b = sk.alias("a"), sk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__fp") == F.col("b.__fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .filter(F.col("n_shared_fingerprints") >= min_shared)
    )


def span_overlap_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    w_select: int = 4,
    min_shared: int = 1,
    transitive: bool = False,
) -> DataFrame:
    """Drop documents that share a verbatim token run with an
    earlier (lower-id) document — keep-first dedup over
    :func:`verbatim_overlap_pairs`. ``transitive=True`` collapses
    overlap CHAINS (A~B, B~C) to one survivor via
    :func:`connected_components`, like :func:`minhash_dedup`."""
    pairs = verbatim_overlap_pairs(
        docs, text_col, id_col, window, w_select, min_shared
    )
    if transitive:
        comp = connected_components(checkpoint_cut(pairs))
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


WINNOW_PARAMS_COL = "__winnow_params"


def winnow_fingerprint(window: int, w_select: int) -> str:
    """Canonical fingerprint of the winnowing parameters + hash layout
    (v1 = the row-form lead/window-min computation), stamped into
    :func:`winnow_table` and validated at probe time."""
    return f"winnow/v1/window={window}/w_select={w_select}"


def winnow_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    w_select: int = 4,
) -> DataFrame:
    """The persistable verbatim-overlap index of a corpus: (id, fp,
    __winnow_params) winnowing-fingerprint rows — the fifth artifact
    shape next to band/hash/shingle/line-count tables. An ingest
    pipeline appends each accepted batch's rows so
    :func:`cross_corpus_verbatim_pairs` (``corpus_fps=``) checks
    incoming batches for long verbatim runs against the corpus with no
    corpus-side recompute (~1/``w_select`` of the corpus token count,
    8 bytes each)."""
    return _winnow_fingerprint_rows(
        docs, text_col, id_col, window, w_select
    ).withColumnRenamed("__fp", "fp").withColumn(
        WINNOW_PARAMS_COL, F.lit(winnow_fingerprint(window, w_select))
    )


def validate_winnow_params(
    corpus_fps: DataFrame, window: int, w_select: int
) -> None:
    """Limit-1 stamp check, same contract as :func:`validate_band_params`
    (intra-table uniformity is the writer's contract)."""
    if WINNOW_PARAMS_COL not in corpus_fps.columns:
        return
    row = corpus_fps.select(WINNOW_PARAMS_COL).first()
    if row is None:
        return
    expected = winnow_fingerprint(window, w_select)
    if row[0] != expected:
        raise ValueError(
            f"winnow table parameter mismatch: index was built with "
            f"{row[0]!r} but the probe uses {expected!r} — fingerprints "
            f"from mismatched winnowing are meaningless"
        )


def cross_corpus_verbatim_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    w_select: int = 4,
    min_shared: int = 1,
    corpus_fps: DataFrame | None = None,
) -> DataFrame:
    """Verbatim-run overlap BETWEEN a new batch and an existing corpus
    (the recurring-crawl twin of :func:`verbatim_overlap_pairs`): pairs
    where a batch document shares a guaranteed-length token run with a
    corpus document. Pass ``corpus_fps`` (a persisted
    :func:`winnow_table`, stamp-validated) to skip recomputing the
    corpus side; otherwise ``corpus_docs`` is sketched on the fly. Ids
    must be unique across the two corpora. Returns (id_a = batch id,
    id_b = corpus id, n_shared_fingerprints)."""
    if (corpus_docs is None) == (corpus_fps is None):
        raise ValueError("pass exactly one of corpus_docs or corpus_fps")
    if corpus_fps is not None:
        validate_winnow_params(corpus_fps, window, w_select)
        corpus_side = corpus_fps.select(
            F.col(id_col), F.col("fp").alias("__fp")
        )
    else:
        corpus_side = _winnow_fingerprint_rows(
            corpus_docs, text_col, id_col, window, w_select
        )
    batch_side = _winnow_fingerprint_rows(
        new_docs, text_col, id_col, window, w_select
    )
    a, b = batch_side.alias("a"), corpus_side.alias("b")
    return (
        a.join(b, F.col("a.__fp") == F.col("b.__fp"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .filter(F.col("n_shared_fingerprints") >= min_shared)
    )


def _span_tok_rows(
    df: DataFrame, side: int, text_col: str, id_col: str
) -> DataFrame:
    """(__side, __id, __pos, __tok, __th) — canonical-form token rows
    with xxhash64 token hashes (the exact-substring machinery's input;
    ``side`` 0 = corpus, 1 = batch, so corpus occurrences outrank batch
    ones under the (side, id, pos) order)."""
    toks = F.split(
        F.regexp_replace(
            F.lower(F.trim(F.col(text_col))), r"\s+", " "
        ),
        " ",
    )
    return df.select(
        F.lit(side).alias("__side"),
        F.col(id_col).alias("__id"),
        F.posexplode(toks).alias("__pos", "__tok"),
    ).withColumn("__th", F.xxhash64("__tok"))


def _span_grams_from_tok(tok: DataFrame, min_span: int) -> DataFrame:
    """(__side, __id, __pos, __gh) — the FULL ``min_span``-token gram
    hash starting at every position (xxhash64 over a ``lead`` chain of
    token hashes; positions within min_span−1 of the document end have
    no full gram and emit nothing). Superseded in the hot paths by
    :func:`_span_grams_per_row` (identical hashes, no window sort);
    kept as the cross-check the hash-compat parity test pins."""
    from pyspark.sql import Window

    w = Window.partitionBy("__side", "__id").orderBy("__pos")
    lead_hashes = [F.col("__th")] + [
        F.lead("__th", j).over(w) for j in range(1, int(min_span))
    ]
    return (
        tok.withColumn("__gh", F.xxhash64(*lead_hashes))
        .withColumn("__full", lead_hashes[-1].isNotNull())
        .filter(F.col("__full"))
        .select("__side", "__id", "__pos", "__gh")
    )


def _span_grams_per_row(
    df: DataFrame, side: int, text_col: str, id_col: str, min_span: int
) -> DataFrame:
    """Same (__side, __id, __pos, __gh) rows as
    ``_span_grams_from_tok(_span_tok_rows(df, side), L)`` but built
    PER ROW: the canonical token array is hashed once, every gram hash
    is ``xxhash64`` over a slice of the token-hash array, and only the
    8-byte gram keys explode. ``xxhash64(array<long>)`` seeds-chains
    elements exactly like the variadic ``xxhash64(h0, .., h49)`` of
    the lead-chain form (pinned by test_span_gram_builders_identical),
    so hashes — and any PERSISTED :func:`span_gram_table` — are
    byte-identical across the two builders. What this removes at
    scale: the token posexplode and the L-deep lead-chain window sort
    (L=50 ⇒ a 50-column window over every token of the corpus) that
    previously ran before the one genuinely-needed shuffle (the gram
    occurrence count)."""
    L = int(min_span)
    toks = F.split(
        F.regexp_replace(
            F.lower(F.trim(F.col(text_col))), r"\s+", " "
        ),
        " ",
    )
    th = F.transform(toks, lambda t: F.xxhash64(t))
    # materialize the token-hash array behind a projection boundary:
    # referenced inside the per-position lambda below, the raw `th`
    # expression would be re-evaluated per lambda call (interpreted
    # HOFs do no subexpression caching — measured 2.3x slower at the
    # 10x replica)
    base = df.select(
        F.lit(side).alias("__side"),
        F.col(id_col).alias("__id"),
        th.alias("__tharr"),
    )
    tharr = F.col("__tharr")
    n = F.size(tharr)
    ghs = F.when(n >= L, F.transform(
        F.sequence(F.lit(1), n - L + 1),
        lambda i: F.xxhash64(F.slice(tharr, i, L)),
    )).otherwise(F.array().cast("array<bigint>"))
    return base.select(
        "__side", "__id",
        F.posexplode(ghs).alias("__pos", "__gh"),
    )


def _span_rebuild_udf(min_span: int):
    """Arrow-batched survivor-text rebuild for
    :func:`duplicate_span_trim`: given the canonical token array and
    the doc's flagged gram-start positions, drop every token covered
    by a flagged ``min_span``-token span and join the rest with single
    spaces. One sorted two-pointer sweep per document — O(tokens +
    flags) even for degenerate all-duplicate documents, where a
    per-token ``exists`` over flags would go quadratic. Replaces the
    previous token-row flag join + sliding-window-max window + sorted
    ``collect_list`` reassembly (three more passes over every token
    row of the corpus). NULL token array returns NULL — the caller
    nulls the input for unflagged docs so only flagged ones pay the
    Arrow transfer, and coalesces the canonical form back in JVM."""
    import pandas as pd
    from pyspark.sql.types import StringType

    L = int(min_span)

    def one(toks, starts):
        if toks is None:
            return None
        if starts is None or len(starts) == 0:
            return " ".join(toks)
        ss = sorted(starts)
        kept = []
        j = 0
        cover_until = -1
        for i, t in enumerate(toks):
            while j < len(ss) and ss[j] <= i:
                end = ss[j] + L - 1
                if end > cover_until:
                    cover_until = end
                j += 1
            if i > cover_until:
                kept.append(t)
        return " ".join(kept)

    def rebuild(toks, starts):
        return pd.Series([one(t, s) for t, s in zip(toks, starts)])

    rebuild.__annotations__ = {
        "toks": pd.Series, "starts": pd.Series, "return": pd.Series,
    }
    return F.pandas_udf(StringType())(rebuild)


SPAN_PARAMS_COL = "__span_params"


def span_gram_fingerprint(min_span: int) -> str:
    """Canonical fingerprint of the span-gram layout (v1 = canonical
    whitespace tokens, xxhash64 token + gram hashes), stamped into
    :func:`span_gram_table` and validated when a persisted table feeds
    :func:`duplicate_span_trim` — gram hashes computed under a
    different span length are meaningless to the probe."""
    return f"span-grams/v1/ws-tokens/xxhash64/L={int(min_span)}"


def span_gram_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = 50,
) -> DataFrame:
    """The persistable exact-substring index of a corpus: (gram_hash,
    n_occ, first_id, first_pos, __span_params) — for every distinct
    full ``min_span``-token gram, how often it occurs and its first
    (id, position) occurrence. The sixth artifact next to band /
    content-hash / shingle / line-count / winnow tables, and the
    distributed analogue of ExactSubstr's suffix array (Lee et al.
    2021): an ingest loop appends each accepted batch's partial, and
    because a document lives in exactly one batch, per-batch ``n_occ``
    values SUM and per-batch first occurrences MIN to the corpus-wide
    stats (:func:`merge_span_gram_tables`) — so
    :func:`duplicate_span_trim` (``corpus_grams=``) trims new batches
    against the whole corpus with NO corpus-text re-read, closing the
    crawl loop's last per-batch corpus scan.

    Scale shape: one narrow explode + one id-keyed window pass builds
    the gram hashes (identical cost to trimming the same docs); the
    aggregation shuffles (8-byte hash, count, id, pos) rows with
    map-side combine — gram TEXT never exists, token text never
    shuffles."""
    L = int(min_span)
    if L < 2:
        raise ValueError("min_span must be >= 2")
    rows = _span_grams_per_row(
        ensure_parallelism(docs), 0, text_col, id_col, L
    )
    return (
        rows.groupBy("__gh")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("__id", "__pos")).alias("__f"),
        )
        .select(
            F.col("__gh").alias("gram_hash"),
            "n_occ",
            F.col("__f.__id").alias("first_id"),
            F.col("__f.__pos").alias("first_pos"),
        )
        .withColumn(SPAN_PARAMS_COL, F.lit(span_gram_fingerprint(L)))
    )


def validate_span_params(grams: DataFrame, min_span: int) -> None:
    """Limit-1 stamp check, same contract as
    :func:`validate_band_params` (intra-table uniformity is the
    writer's contract)."""
    if SPAN_PARAMS_COL not in grams.columns:
        return
    row = grams.select(SPAN_PARAMS_COL).first()
    if row is None:
        return
    expected = span_gram_fingerprint(min_span)
    if row[0] != expected:
        raise ValueError(
            f"span-gram table parameter mismatch: index was built with "
            f"{row[0]!r} but the probe uses {expected!r} — gram hashes "
            f"from mismatched span lengths are meaningless"
        )


def merge_span_gram_tables(*tables: DataFrame) -> DataFrame:
    """Merge per-batch :func:`span_gram_table` partials into corpus
    totals: ``n_occ`` sums and the first occurrence is the MIN of
    per-batch (first_id, first_pos) minima, because each document
    lives in exactly one batch. Mixed parameter stamps raise (gram
    hashes under different span lengths must not be summed) — one
    limit-1 read per table, same contract as
    :func:`merge_line_counts`."""
    if not tables:
        raise ValueError("merge_span_gram_tables needs at least one table")
    stamps = set()
    for t in tables:
        if SPAN_PARAMS_COL in t.columns:
            row = t.select(SPAN_PARAMS_COL).first()
            if row is not None:
                stamps.add(row[0])
    if len(stamps) > 1:
        raise ValueError(
            f"span-gram tables hold mixed parameters "
            f"{sorted(stamps)} — rebuild before merging"
        )
    stamp = next(iter(stamps)) if stamps else None
    merged = tables[0].drop(SPAN_PARAMS_COL)
    for t in tables[1:]:
        merged = merged.unionByName(t.drop(SPAN_PARAMS_COL))
    out = (
        merged.groupBy("gram_hash")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.min(F.struct(
                F.col("first_id").alias("__id"),
                F.col("first_pos").alias("__pos"),
            )).alias("__f"),
        )
        .select(
            "gram_hash", "n_occ",
            F.col("__f.__id").alias("first_id"),
            F.col("__f.__pos").alias("first_pos"),
        )
    )
    if stamp is not None:
        out = out.withColumn(SPAN_PARAMS_COL, F.lit(stamp))
    return out


def duplicate_span_trim(
    docs: DataFrame,
    min_span: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus: DataFrame | None = None,
    min_occurrences: int = 2,
    keep: str = "first",
    corpus_grams: DataFrame | None = None,
    validate: bool = True,
) -> DataFrame:
    """Exact-substring deduplication at the PASSAGE level (the
    ExactSubstr recipe of Lee et al. 2021, arXiv:2107.06499, re-shaped
    for Spark): any verbatim token run of at least ``min_span`` tokens
    that occurs ``min_occurrences``+ times across the input (and the
    optional ``corpus``) is REMOVED from the documents — the rest of
    each document survives. This is the complement of
    :func:`span_overlap_dedup`, which drops whole documents: trimming
    is what you want when a good page embeds a widely-copied passage
    (license block, quoted article, mirrored section).

    ``keep='first'`` spares the globally first occurrence (corpus
    occurrences outrank batch ones, then (id, position) order) — the
    passage survives exactly once, as in the paper. ``keep='none'``
    removes every occurrence (the C4 line rule's semantics, lifted to
    token spans).

    Mechanics, suffix-array-free: per token position, hash the
    ``min_span``-token gram starting there (``xxhash64`` over a slice
    of the per-row token-hash array — the winnowing machinery without
    its sampling, so EVERY span is checked, not a sketch; built per
    row by :func:`_span_grams_per_row`, no token explode, no window);
    ONE shuffle by gram hash counts and ranks occurrences — the only
    cross-document data dependency this operator truly has; flagged
    start positions collapse to one small array per affected document
    and the removal + reassembly run per row
    (:func:`_span_rebuild_udf`, one O(tokens+flags) Arrow sweep).

    Contract: output text is whitespace-normalized (lowered + single
    spaces — the same canonical form every dedup operator here hashes);
    documents shorter than ``min_span`` tokens pass through in that
    canonical form too. NULL text stays NULL. Cost is O(min_span) long
    copies per token inside the per-row slice hashing — at the paper's
    span lengths (~50) that is real but linear, stays JVM-side, and
    the one remaining shuffle is narrow (8-byte hash keys with
    map-side combine).

    Skew note: occurrence stats are a partial-aggregatable
    ``min(struct)``/``count`` groupBy, not a rank window — map-side
    combine absorbs even a passage shared by millions of documents
    (each task contributes one partial per gram), and the flagging join
    back is an 8-byte-key equi-join.

    ``corpus_grams`` (optional, exclusive with ``corpus``): a persisted
    :func:`span_gram_table` supplying the corpus side's occurrence
    stats instead of corpus text — the batch's per-gram partials merge
    with the index's (counts sum, first occurrences min, with corpus
    stamped side 0 so it keeps outranking the batch), and the corpus is
    neither scanned nor re-windowed. Its parameter stamp is validated
    against ``min_span`` (``validate=False`` skips the limit-1 read for
    callers that built the frame themselves).
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be first|none, got {keep!r}")
    L = int(min_span)
    if L < 2:
        raise ValueError("min_span must be >= 2")
    if corpus is not None and corpus_grams is not None:
        raise ValueError(
            "pass at most one of corpus (text re-scan) or corpus_grams "
            "(persisted span_gram_table)"
        )

    # the gram frame is referenced twice below (stats + flag join) —
    # cut the lineage so the per-row gram build and its explode run
    # once, not per reference (minhash_dedup's candidate-checkpoint
    # precedent). The parallelism guard covers BOTH per-row passes
    # (gram build here, rebuild at the end) from one exchange.
    docs = ensure_parallelism(docs)

    # per-gram occurrence stats via a partial-aggregatable groupBy —
    # NOT a rank window: min(struct) and count combine map-side, so a
    # passage shared by millions of documents stays a cheap hot key
    # instead of a single-task sort
    if corpus_grams is not None:
        if validate:
            validate_span_params(corpus_grams, L)
        occ = checkpoint_cut(
            _span_grams_per_row(docs, 1, text_col, id_col, L)
        )
        b_part = occ.groupBy("__gh").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct("__side", "__id", "__pos")).alias("__first"),
        )
        # only index rows whose gram also occurs in the BATCH can
        # affect the outcome (corpus-only grams die in the flag join
        # below) — semi-join the index down to the batch's distinct
        # hashes BEFORE aggregating, so a batch pays for its own gram
        # set, not an index-sized shuffle that grows with the corpus
        c_part = (
            corpus_grams.join(
                occ.select(F.col("__gh").alias("gram_hash")).distinct(),
                "gram_hash",
                "left_semi",
            )
            .groupBy(F.col("gram_hash").alias("__gh"))
            .agg(
                F.sum("n_occ").alias("__cnt"),
                F.min(F.struct(
                    F.lit(0).alias("__side"),
                    F.col("first_id").alias("__id"),
                    F.col("first_pos").alias("__pos"),
                )).alias("__first"),
            )
        )
        gram_stats = (
            b_part.unionByName(c_part)
            .groupBy("__gh")
            .agg(
                F.sum("__cnt").alias("__cnt"),
                F.min("__first").alias("__first"),
            )
            .filter(F.col("__cnt") >= int(min_occurrences))
        )
    else:
        occ = _span_grams_per_row(docs, 1, text_col, id_col, L)
        if corpus is not None:
            occ = occ.unionByName(_span_grams_per_row(
                ensure_parallelism(corpus), 0, text_col, id_col, L
            ))
        occ = checkpoint_cut(occ)
        gram_stats = occ.groupBy("__gh").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct("__side", "__id", "__pos")).alias("__first"),
        ).filter(F.col("__cnt") >= int(min_occurrences))
    flagged = occ.join(gram_stats, "__gh")
    cond = F.lit(True)
    if keep == "first":
        cond = F.struct("__side", "__id", "__pos") != F.col("__first")
    starts = (
        flagged.filter(cond & (F.col("__side") == 1))
        .select("__id", "__pos")
        .withColumn("__ds", F.lit(1))
    )

    # flagged starts collapse to ONE small array per affected doc
    # (duplicated passages are the exception, not the rule), joined
    # back onto the documents; the removal + reassembly then happen
    # PER ROW in one Arrow-batched sweep over the canonical tokens —
    # no token rows ever shuffle. NULL text stays NULL (NULL token
    # array through the udf); an all-duplicate doc rebuilds to ""
    # (content existed, all of it duplicated); an unflagged doc gets
    # its canonical form — the same three outcomes the previous
    # token-row reassembly produced.
    doc_starts = starts.groupBy("__id").agg(
        F.collect_list("__pos").alias("__starts")
    )
    text = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    toks = F.split(norm, " ")
    rebuild = _span_rebuild_udf(L)
    # Arrow ships token arrays ONLY for flagged documents (the
    # when() nulls the udf input otherwise — duplicated passages are
    # the exception, so the Python path prices the exception, not the
    # corpus); unflagged docs take the pure-JVM canonical form, which
    # equals " ".join(tokens) by construction
    trimmed = rebuild(
        F.when(F.col("__starts").isNotNull(), toks), F.col("__starts")
    )
    out_cols = [
        F.col(c) if c != text_col else
        F.when(text.isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(trimmed, norm)).alias(text_col)
        for c in docs.columns
    ]
    return (
        docs.join(doc_starts, F.col(id_col) == doc_starts["__id"], "left")
        .drop("__id")
        .select(*out_cols)
    )
