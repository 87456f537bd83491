"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting. All native
column expressions over the ``documents`` table shape (SURVEY.md §7.2
step 6); usable as building blocks or via the query suite
(:mod:`..queries`)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compat import safe_broadcast

#: marker stopwords per language — tiny n-gram-free heuristic; the point
#: is the distributed shape (one projection, no UDF), not NLP accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
}

# lang_scores builds a regex alternation "(m1|m2|m3)" from these raw
# strings; a marker containing a regex metacharacter or whitespace
# would silently corrupt that language's counts (r10 ADVICE). Enforce
# the plain-lowercase-word invariant at import so a future edit fails
# loudly instead.
for _lang, _ms in LANG_MARKERS.items():
    for _m in _ms:
        if not _m.isascii() or not _m.isalpha() or not _m.islower():
            raise ValueError(
                f"LANG_MARKERS[{_lang!r}] marker {_m!r} must be a plain "
                "lowercase ASCII word — it is interpolated into a regex "
                "alternation unescaped"
            )
del _lang, _ms, _m

STOPWORDS = ["the", "a", "and", "of", "to"]

#: BPE-ish token heuristic: word pieces, numbers, or single non-space
#: symbols — a cheap stand-in for a real tokenizer's token count.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Regex-token count approximating a BPE tokenizer's granularity."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-token occurrence counts per language. One
    ``regexp_count`` over the space-padded normalized text per
    language — whole-token occurrences only (each match consumes the
    LEADING separator and looks ahead at the trailing one, so adjacent
    markers like "of of" both count). Counts are identical to the
    previous interpreted-HOF form (``size(filter(tokens, in markers))``
    — pinned by test_lang_scores_regex_equals_hof) but stay inside
    codegen'd JVM regex instead of paying 4 lambda evaluations per
    token; measured 1.6x faster on the 10x sf0.1 replica."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    return {
        lang: F.regexp_count(
            padded, F.lit(" (?:" + "|".join(ms) + ")(?= )")
        )
        for lang, ms in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by marker hits; deterministic tiebreak (lang name
    ascending); 'und' when nothing matches."""
    hits = lang_scores(text)
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((hits[lang] == best) & (best > 0), lang).otherwise(pred)
    return pred


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array via iterated ``zip_with`` over
    shifted slices — n−1 linear passes with a cheap concat lambda.
    Measured 7× faster than the naive ``transform(i →
    array_join(slice(toks, i, n)))``, which re-slices (allocates) per
    position, and 13× faster than per-element ``element_at`` with
    computed indices: HOF lambdas are interpreted, so the constant per
    element decides everything. Caller guards the < n-token case
    (the trailing zip pads with NULL, which ``concat_ws`` skips)."""
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, width)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, width),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return acc


def dup_ngram_ratio(text: Column, n: int = 2) -> Column:
    """Within-document repetition signal (the Gopher-rules shape):
    fraction of word ``n``-grams that are duplicates of an earlier gram,
    ``1 − distinct/total``; 0.0 for documents with fewer than ``n``
    tokens. High values flag boilerplate/looping text."""
    toks = tokens(text)
    n_grams = F.size(toks) - (n - 1)
    grams = ngrams(toks, n)
    ratio = F.round(
        1.0 - F.size(F.array_distinct(grams)) / F.size(grams), 6
    )
    return F.when(n_grams >= 1, ratio).otherwise(F.lit(0.0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features: length, token stats, alpha ratio,
    stopword ratio, mean token length, duplicate-2-gram repetition
    ratio. The token array is materialized behind a projection boundary
    (same re-evaluation pitfall as :func:`gopher_quality_features` —
    the interpreted HOF islands re-tokenize per reference without it),
    then one fused projection."""
    text = F.col(text_col)
    feats = ["n_chars", "n_tokens", "alpha_ratio", "stopword_ratio",
             "mean_token_len", "dup_2gram_ratio"]
    # replace-in-place semantics (r10 ADVICE): an input column already
    # named like an output feature is replaced rather than duplicated
    # (a duplicate name breaks downstream resolution), and the scratch
    # token column is renamed until it cannot clobber a real input
    in_cols = [c for c in df.columns if c not in feats]
    tok_col = "__qf_toks"
    while tok_col in df.columns:
        tok_col += "_"
    df = df.withColumn(tok_col, tokens(text))
    toks = F.col(tok_col)
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    # zero-denominator guards (ANSI mode): empty text has length 0 and
    # whitespace-only text tokenizes to nothing — an unguarded division
    # is a hard DIVIDE_BY_ZERO under Spark 4 ANSI, crashing any corpus
    # containing one degenerate document (found r8 by the rejection-
    # reason fallback test). Guarded ratios are NULL there — the gates
    # drop such documents (NULL conjunct) and the rejection log
    # attributes them "unattributed"; values for real text unchanged.
    return df.withColumns({
        "n_chars": F.length(text),
        "n_tokens": n_tokens,
        "alpha_ratio": F.when(
            F.length(text) > 0,
            F.round(alpha_chars / F.length(text), 6),
        ),
        "stopword_ratio": F.when(
            n_tokens > 0, F.round(n_stop / n_tokens, 6)
        ),
        "mean_token_len": F.when(
            n_tokens > 0,
            F.round(
                F.aggregate(
                    toks, F.lit(0), lambda acc, t: acc + F.length(t)
                ) / n_tokens,
                6,
            ),
        ),
        "dup_2gram_ratio": dup_ngram_ratio(text, 2),
    }).select(*in_cols, *feats)


#: PII patterns, ordered most- to least-specific: each is applied in
#: sequence so an email's digits are gone before the phone pattern runs.
#: Kept to syntax shared by Java regex (Spark) and RE2 (DuckDB oracle):
#: \d, \b, bounded repetition, simple classes — no lookaround.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
    "PHONE": r"\+?\b\d[\d .()-]{6,}\d\b",
}


def redact_pii(text: Column, kinds: list[str] | None = None) -> Column:
    """Redact PII spans with ``<KIND>`` placeholders — the pre-training
    privacy scrub (emails, IPv4s, SSN-shaped ids, phone-shaped digit
    runs). Pure chained ``regexp_replace`` — codegen'd JVM regex, no
    UDF; patterns apply most-specific-first so e.g. an SSN is not
    half-eaten by the phone pattern. ``kinds`` selects/orders a subset
    of :data:`PII_PATTERNS`."""
    out = text
    for kind in kinds or list(PII_PATTERNS):
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"<{kind}>"
        )
    return out


def pii_count(text: Column, kinds: list[str] | None = None) -> Column:
    """Number of PII spans :func:`redact_pii` would redact — the audit
    metric (rows with ``pii_count > 0`` measure scrub coverage).
    Counts placeholders after redaction so overlap resolution matches
    the redactor exactly."""
    red = redact_pii(text, kinds)
    pat = "|".join(f"<{k}>" for k in (kinds or PII_PATTERNS))
    return F.size(F.regexp_extract_all(red, F.lit(pat), 0))


def fingerprint(text: Column) -> Column:
    """Canonical-form content fingerprint: md5 over lowercase
    whitespace-collapsed text (stable under formatting noise)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def rolling_fingerprints(text: Column, window: int = 8) -> Column:
    """Rolling window fingerprints (winnowing-style): hash every
    ``window``-token span; downstream pick-min selects the document
    sketch. Returns array<long>. Span strings come from the iterated
    zip_with :func:`ngrams` (identical join-by-space values, so hashes
    are unchanged; ~7× faster than per-position ``transform(slice)``)."""
    return F.transform(
        ngrams(tokens(text), window), lambda g: F.xxhash64(g)
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    word ``n``-gram with any benchmark document, with the number of
    distinct shared grams — the standard pre-training hygiene check.

    Scale shape: grams are built PER ROW with the iterated-zip_with
    :func:`ngrams` (gram strings live only inside the row projection —
    they are hashed to 8-byte ``xxhash64`` keys and per-doc
    deduplicated BEFORE the explode, so nothing wider than (id, hash)
    ever shuffles). This replaced a posexplode + lead-window pipeline:
    same output, but no window sort shuffle on either side — measured
    3× faster at sf0.1. A document shorter than ``n`` tokens keeps its
    single partial gram (matching the oracle's truncating slice). The
    benchmark side is distinct-hashed and orders of magnitude smaller
    than the corpus, so it broadcasts.
    """
    bench_grams = (
        _gram_hashes(benchmark, id_col, text_col, n)
        .select("__gh").distinct()
    )
    corpus_grams = _gram_hashes(
        corpus, id_col, text_col, n
    ).withColumnRenamed("__id", id_col)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_shared_grams"))
    )


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, distinct gram-hash) pairs: per-row gram construction
    (:func:`ngrams`), per-row hash + dedup, then ONE narrow explode of
    8-byte keys — no token explode, no window."""
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    gram_hashes = F.array_distinct(
        F.transform(ngrams(toks, n), lambda g: F.xxhash64(g))
    )
    return df.select(
        F.col(id_col).alias("__id"), F.explode(gram_hashes).alias("__gh")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with optional
    overlap — the preprocessing step that feeds embedding / ANN /
    context-window pipelines. Emits one row per chunk: (id, chunk_id,
    chunk_text, n_tokens), ``chunk_id`` 0-based in document order;
    stride = ``chunk_tokens − overlap``; the final chunk may be short,
    and a short document yields exactly one chunk.

    Pure JVM column pipeline: tokenize once, build the start-position
    ladder with ``sequence``, slice/join per chunk, ONE posexplode of
    the chunk array — no UDF, no shuffle (narrow, parallel by input
    partition; chunking at 100 TB is embarrassingly parallel)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # last start = the largest multiple of stride still inside the doc
    # and still starting a NEW span: start <= n - overlap - 1
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.array_join(F.slice(toks, s + 1, chunk_tokens), " "),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).withColumn(
        "n_tokens",
        F.size(F.split(F.col("chunk_text"), " ")),
    )


#: Boilerplate patterns (shared Java-regex/RE2 subset, like PII_PATTERNS):
#: URLs and HTML/XML tags — the pre-tokenization web-scrape scrub.
BOILERPLATE_PATTERNS: dict[str, str] = {
    "URL": r"https?://[^\s<>\"']+|www\.[^\s<>\"']+",
    # real tags start with a letter (optionally '/'), or '!'/'?' for
    # comments/doctype/PI — a bare '<' in prose ('a < b') is NOT a tag
    "TAG": r"</?[A-Za-z][^<>]{0,200}>|<[!?][^<>]{0,200}>",
}


def strip_boilerplate(text: Column, replace_with: str = " ") -> Column:
    """Remove URLs and markup tags from web-scraped text (chained
    codegen ``regexp_replace``, then whitespace re-collapse) — run
    BEFORE tokenization/quality scoring so link farms don't read as
    high-quality long documents."""
    out = text
    for pat in BOILERPLATE_PATTERNS.values():
        out = F.regexp_replace(out, pat, replace_with)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def bm25_scores(
    corpus: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag-of-words
    query — the retrieval baseline for RAG / data-mining over a corpus
    (Robertson & Spärck Jones probabilistic relevance framework).

    Scale shape: the query is a handful of terms, so per-term term
    frequencies are per-row array filters (narrow, codegen) — no token
    explode, no join. Corpus-level statistics (N, avgdl, per-term
    document frequencies) reduce to ONE single-row aggregate that
    Spark broadcasts into the scoring projection via a literal-free
    cross join; the whole operator is two scans and zero wide
    shuffles, so it parallelizes by input partition at any corpus
    size. idf uses the standard ``ln(1 + (N − df + ½)/(df + ½))``
    smoothing (never negative); documents containing no query term
    score 0.0 and are retained (filter/top-k is the caller's choice).
    """
    terms = sorted(set(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # NULL text tokenizes to NULL (size -1) and empty text to [""]
    # (size 1) — both would corrupt tf/dl/avgdl. Coalesce + drop empty
    # tokens so NULL/empty docs have dl=0, tf=0 and score exactly 0.0.
    toks = F.filter(
        tokens(F.coalesce(F.col(text_col), F.lit(""))),
        lambda x: x != F.lit(""),
    )
    def _tf(term: str) -> Column:
        # closure, NOT a defaulted lambda param (HOF lambdas bind every
        # parameter as a lambda variable — see NOTES.md gotcha)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf = {t: _tf(t) for t in terms}
    stats = corpus.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg(F.size(toks)).alias("__avgdl"),
        *[
            F.sum((tf[t] > 0).cast("long")).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = corpus.crossJoin(F.broadcast(stats))
    dl = F.size(toks)
    n_docs = F.col("__n_docs")
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        df_t = F.col(f"__df_{i}")
        idf = F.log(
            F.lit(1.0) + (n_docs - df_t + 0.5) / (df_t + 0.5)
        )
        # all-empty corpus → avgdl 0 (or NULL): clamp so the dl/avgdl
        # term stays finite and empty docs still score exactly 0.0
        avgdl = F.greatest(F.col("__avgdl"), F.lit(1e-9))
        denom = tf[t] + k1 * (1 - b + b * dl / avgdl)
        score = score + idf * (tf[t] * (k1 + 1)) / denom
    return scored.select(
        F.col(id_col), F.round(score, 6).alias("bm25")
    )


def winnow_sketch(
    text: Column, window: int = 8, w_select: int = 4
) -> Column:
    """Winnowing document sketch (the MOSS plagiarism-detection
    selection rule): over the :func:`rolling_fingerprints` sequence,
    keep the minimum of every ``w_select`` consecutive fingerprints,
    deduplicated — guarantees any shared run of ``window + w_select − 1``
    tokens between two documents shares a sketch fingerprint, at
    ~1/w_select the storage of the full fingerprint stream.

    The sliding min is the :func:`ngrams` shifted-slice trick with
    ``least`` instead of concat — w_select−1 linear zip passes, no
    per-position slicing (``least`` ignores the NULL tail-padding).
    Returns array<long>, sorted for deterministic output."""
    fp = rolling_fingerprints(text, window)
    width = F.greatest(F.size(fp) - (w_select - 1), F.lit(1))
    acc = F.slice(fp, 1, width)
    for j in range(1, w_select):
        acc = F.zip_with(
            acc, F.slice(fp, 1 + j, width), lambda a, b: F.least(a, b)
        )
    return F.array_sort(F.array_distinct(acc))


# ---------------------------------------------------------------------------
# n-gram language-model perplexity (CCNet-style quality filtering)
# ---------------------------------------------------------------------------
#
# The classic web-corpus quality signal: train token-bigram statistics on
# a trusted reference corpus, score candidate documents by mean token
# log-probability, and keep the low-perplexity head. No reference
# analogue (the reference has no text corpus); additive scope per the
# brief. Everything is hash-keyed counts — training is two
# map-side-combinable shuffles of 8-byte keys, scoring is an equi-join
# against the (small, broadcastable) model tables.

LM_PARAMS_COL = "__lm_params"


def lm_fingerprint() -> str:
    """Canonical fingerprint of the LM token/hash layout, stamped into
    both model tables and validated at scoring time so a model persisted
    under a different tokenization can't silently score garbage."""
    return "bigram-lm/v1/ws-tokens/xxhash64"


def _doc_bigrams(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, prev_hash, w_hash) — one row per adjacent token pair of each
    document, token identity reduced to xxhash64 so neither training nor
    scoring ever shuffles token strings. Narrow (explode only); NULL
    text and single-token documents yield no rows."""
    toks = tokens(F.col(text_col))
    width = F.size(toks) - 1
    pairs = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda a, b: F.struct(
            F.xxhash64(a).alias("p"), F.xxhash64(b).alias("w")
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(pairs).alias("__bg"))
        .select(
            id_col,
            F.col("__bg.p").alias("prev_hash"),
            F.col("__bg.w").alias("w_hash"),
        )
    )


def bigram_lm_tables(
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    top_k_vocab: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train a token-bigram model on a reference corpus; returns the two
    persistable model tables:

    - bigrams:  (prev_hash, w_hash, n_pair) — adjacent-pair counts;
    - unigrams: (tok_hash, n_tok, n_prev, __vocab, __total) — per-token
      total occurrences and context occurrences (non-final positions),
      plus the training vocabulary size and total token count as
      constant columns (1-row crossJoin at plan time — no driver
      action).

    Both carry the :data:`LM_PARAMS_COL` stamp. Counts from disjoint
    document batches SUM (a token/pair occurrence lives in exactly one
    batch), so the model is maintainable incrementally the same way as
    :func:`~.dedup.line_count_table` partials — though ``__vocab``
    must then be recomputed over the union's distinct tokens.

    Scale shape: one narrow explode each side, then two hash shuffles
    over 8-byte keys with map-side partial aggregation; token text
    never shuffles.

    ``min_count`` > 1 / ``top_k_vocab`` apply :func:`prune_bigram_lm`
    to the freshly trained tables (V and N are computed over the FULL
    vocabulary first, then rare entries are dropped) — the knob that
    keeps model-table size bounded as the training corpus grows. For
    sharded training, prune after the merge instead.

    NOTE: the internal pair-count table is cut with a lazy
    ``checkpoint_cut`` (so both model tables share one materialization
    of the tokenize+explode, and a streaming batch composing this
    inside a ``cut_scope`` can free the blocks per-batch). Under AQE
    the cut means model CONSTRUCTION executes the counting stages
    eagerly at first use rather than fusing into the consumer's plan.
    """
    stamp = F.lit(lm_fingerprint())
    # ONE tokenize+explode pass over the training corpus feeds BOTH
    # model tables (r14 optimization; previously the bigram and unigram
    # sides each re-read and re-tokenized the corpus — two full text
    # passes). Every token occurrence becomes one (token, next-or-NULL)
    # row: the token at position i paired with the token at i+1, final
    # tokens paired with NULL. From the (pair → count) aggregate —
    # vocabulary²-bounded, NOT corpus-bounded — everything derives:
    #   n_pair(prev, w)  = count of the non-NULL pair row
    #   n_tok(w)         = Σ counts over rows with __p = w
    #   n_prev(w)        = the same Σ restricted to non-NULL __n
    # (identical integers to the old two-pass form). The pair-count
    # table is cut with a lazy localCheckpoint so the two derived
    # outputs share ONE materialization of the explode instead of
    # re-running it per output. Tokenize in a pre-projection: inlining
    # tokens(text) into the Generate re-evaluates the regex split per
    # subexpression reference (profiled 16x on the old posexplode form).
    pre = train.select(tokens(F.col(text_col)).alias("__ts"))
    pair_rows = pre.select(
        F.explode(
            F.transform(
                F.col("__ts"),
                lambda t, i: F.struct(
                    F.xxhash64(t).alias("p"),
                    F.when(
                        i < F.size(F.col("__ts")) - 1,
                        F.xxhash64(F.element_at(F.col("__ts"), i + F.lit(2))),
                    ).alias("n"),
                ),
            )
        ).alias("__pr")
    ).select(F.col("__pr.p").alias("__p"), F.col("__pr.n").alias("__n"))
    from .plancut import checkpoint_cut

    counts = checkpoint_cut(
        pair_rows.groupBy("__p", "__n")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    bigrams = counts.filter(F.col("__n").isNotNull()).select(
        F.col("__p").alias("prev_hash"),
        F.col("__n").alias("w_hash"),
        F.col("__c").alias("n_pair"),
        stamp.alias(LM_PARAMS_COL),
    )
    per_tok = counts.groupBy(F.col("__p").alias("tok_hash")).agg(
        F.sum("__c").alias("n_tok"),
        F.sum(
            F.when(F.col("__n").isNotNull(), F.col("__c")).otherwise(
                F.lit(0)
            )
        ).alias("n_prev"),
    )
    totals = per_tok.agg(
        F.count(F.lit(1)).alias("__vocab"),
        F.sum("n_tok").alias("__total"),
    )
    unigrams = (
        per_tok.crossJoin(totals)  # 1-row frame — bounded
        .withColumn(LM_PARAMS_COL, stamp)
    )
    if min_count > 1 or top_k_vocab is not None:
        return prune_bigram_lm(
            bigrams, unigrams, min_count=min_count, top_k_vocab=top_k_vocab
        )
    return bigrams, unigrams


def prune_bigram_lm(
    bigrams: DataFrame,
    unigrams: DataFrame,
    min_count: int = 2,
    top_k_vocab: int | None = None,
    pair_min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Count-prune a trained bigram model (the standard count-LM move —
    SRILM's ``-gtNmin`` family): drop vocabulary entries with fewer than
    ``min_count`` occurrences (and/or keep only the ``top_k_vocab`` most
    frequent), plus bigram rows below ``pair_min_count`` or with a
    pruned endpoint. This bounds the 100-TB pressure point the r9
    scaling audit named: Heaps' law grows raw vocabulary ~N^0.5-0.8 and
    the hapax tail dominates it, so the model tables — the only
    corpus-scale-dependent part of the scoring plan — stop tracking
    corpus size once pruned.

    OOV mass flows through the EXISTING backoff path, unchanged: a
    pruned token simply misses the scoring left-joins, so its counts
    coalesce to 0 and it scores the same smoothing floors
    (``k/(c(prev)+kV)`` / ``k/(N+kV)``) as a never-seen token.
    ``__vocab`` and ``__total`` are PRESERVED from the input model
    (V = the full training vocabulary as smoothing support, N = the
    full token count), so every surviving entry's probability is
    bit-identical to the unpruned model — pruning only changes scores
    of documents that actually contain rare tokens.

    Prune AFTER :func:`merge_bigram_lm_tables`, not per shard: a token
    below ``min_count`` in every shard can still clear it globally.
    ``top_k_vocab`` ranks by (n_tok desc, tok_hash asc) — deterministic
    — via TakeOrderedAndProject (bounded by the cap, no global sort
    shuffle). Returns (bigrams, unigrams) with stamps intact."""
    _validate_lm_stamp(bigrams, "bigram")
    _validate_lm_stamp(unigrams, "unigram")
    kept = unigrams.filter(F.col("n_tok") >= min_count)
    if top_k_vocab is not None:
        kept = kept.orderBy(
            F.col("n_tok").desc(), F.col("tok_hash").asc()
        ).limit(top_k_vocab)
    keys = kept.select("tok_hash")
    pruned_bg = (
        bigrams.filter(F.col("n_pair") >= pair_min_count)
        .join(
            keys.withColumnRenamed("tok_hash", "prev_hash"),
            "prev_hash", "left_semi",
        )
        .join(
            keys.withColumnRenamed("tok_hash", "w_hash"),
            "w_hash", "left_semi",
        )
    )
    return pruned_bg, kept


def merge_bigram_lm_tables(
    *models: tuple[DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """Merge per-shard :func:`bigram_lm_tables` outputs into one model:
    pair and per-token counts SUM (each occurrence lives in exactly one
    shard), while ``__vocab``/``__total`` are recomputed over the merged
    per-token table — vocabulary is a distinct count, which does NOT
    sum across shards that share tokens. This is how a reference LM is
    trained over data too large (or too incremental) for one pass:
    train per shard, merge, score."""
    if not models:
        raise ValueError("merge_bigram_lm_tables needs at least one model")
    for bg, uni in models:
        _validate_lm_stamp(bg, "bigram")
        _validate_lm_stamp(uni, "unigram")
    stamp = F.lit(lm_fingerprint())
    bg_all = models[0][0].drop(LM_PARAMS_COL)
    uni_all = models[0][1].drop(LM_PARAMS_COL)
    for bg, uni in models[1:]:
        bg_all = bg_all.unionByName(bg.drop(LM_PARAMS_COL))
        uni_all = uni_all.unionByName(uni.drop(LM_PARAMS_COL))
    bigrams = (
        bg_all.groupBy("prev_hash", "w_hash")
        .agg(F.sum("n_pair").alias("n_pair"))
        .withColumn(LM_PARAMS_COL, stamp)
    )
    per_tok = uni_all.drop("__vocab", "__total").groupBy("tok_hash").agg(
        F.sum("n_tok").alias("n_tok"), F.sum("n_prev").alias("n_prev")
    )
    totals = per_tok.agg(
        F.count(F.lit(1)).alias("__vocab"),
        F.sum("n_tok").alias("__total"),
    )
    unigrams = per_tok.crossJoin(totals).withColumn(LM_PARAMS_COL, stamp)
    return bigrams, unigrams


def _validate_lm_stamp(table: DataFrame, what: str) -> None:
    if LM_PARAMS_COL not in table.columns:
        return
    # memoize per DataFrame object (r14): session-cached model tables
    # (the _audit_lm_model / published-model pattern) are re-validated
    # on every scoring call, and each validation is a .first() driver
    # job — a constant column cannot change under the same object, so
    # one read per table instance suffices
    if getattr(table, "_lm_stamp_validated", False):
        return
    row = table.select(LM_PARAMS_COL).first()
    if row is not None and row[0] != lm_fingerprint():
        raise ValueError(
            f"{what} table was built under {row[0]!r} but this engine "
            f"scores under {lm_fingerprint()!r} — retrain the model"
        )
    table._lm_stamp_validated = True


def lm_perplexity(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.1,
    lam: float = 0.7,
) -> DataFrame:
    """Score documents under a trained bigram model
    (:func:`bigram_lm_tables`): appends ``avg_logp`` (mean over token
    positions of ``ln P(w|prev)``) and ``perplexity``
    (``exp(−avg_logp)``). Documents with fewer than two tokens (or NULL
    text) have no bigrams and score NULL in both columns.

    Probability is Jelinek-Mercer interpolation of the add-k bigram and
    add-k unigram estimates::

        P(w|prev) = λ·(c(prev,w)+k)/(c(prev)+k·V)
                  + (1−λ)·(c(w)+k)/(N+k·V)

    The unigram term is what penalizes out-of-vocabulary junk: pure
    add-k gives every unseen CONTEXT the uniform 1/V floor, which on
    small vocabularies scores gibberish "better" than in-vocabulary
    text with unseen continuations; interpolation floors unknown tokens
    at ~k/N instead.

    Scale shape: candidate bigrams (narrow explode) left-join the model
    tables on hash keys — model tables are usually dims relative to the
    corpus, so AQE broadcasts them; then one mean per document. Unseen
    pairs/tokens fall back to the smoothing floors via the left joins'
    NULLs."""
    _validate_lm_stamp(bigrams, "bigram")
    _validate_lm_stamp(unigrams, "unigram")
    # NOTE the unigram table feeds THREE references below (the
    # vocab/total frame, the context side, the current-token side): a
    # model trained in the SAME plan re-runs its training aggregation
    # per reference, because a lazy cut can't help inside one action.
    # Callers composing train-and-score in one query should eagerly
    # localCheckpoint the (tiny) model tables first — parquet-backed
    # models (the production shape) just re-scan a small file.
    bigrams = bigrams.drop(LM_PARAMS_COL)
    uni = unigrams.drop(LM_PARAMS_COL)
    v_frame = uni.agg(
        F.max("__vocab").alias("__V"), F.max("__total").alias("__N")
    )
    ctx = uni.select(
        F.col("tok_hash").alias("prev_hash"), "n_prev"
    )
    cur = uni.select(F.col("tok_hash").alias("w_hash"), "n_tok")
    k = F.lit(k_smooth)
    p_bigram = (F.coalesce(F.col("n_pair"), F.lit(0)) + k) / (
        F.coalesce(F.col("n_prev"), F.lit(0)) + k * F.col("__V")
    )
    p_unigram = (F.coalesce(F.col("n_tok"), F.lit(0)) + k) / (
        F.col("__N") + k * F.col("__V")
    )
    scored = (
        _doc_bigrams(docs, text_col, id_col)
        .join(bigrams, ["prev_hash", "w_hash"], "left")
        .join(ctx, ["prev_hash"], "left")
        .join(cur, ["w_hash"], "left")
        .crossJoin(v_frame)  # 1-row frame — bounded by construction
        .select(
            id_col,
            F.log(
                F.lit(lam) * p_bigram + F.lit(1.0 - lam) * p_unigram
            ).alias("__logp"),
        )
        .groupBy(id_col)
        .agg(F.avg("__logp").alias("avg_logp"))
    )
    return (
        docs.join(scored, id_col, "left")
        .withColumn("perplexity", F.exp(-F.col("avg_logp")))
    )


def perplexity_filter(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    max_perplexity: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.1,
    lam: float = 0.7,
    keep_unscored: bool = False,
) -> DataFrame:
    """Keep the low-perplexity head of a candidate corpus (the CCNet
    selection rule): documents scoring ``perplexity <= max_perplexity``
    under the reference model survive with the input schema.
    ``keep_unscored`` additionally keeps NULL-scored documents (fewer
    than two tokens), which the threshold alone would drop."""
    cols = docs.columns
    scored = lm_perplexity(
        docs, bigrams, unigrams, text_col, id_col, k_smooth, lam
    )
    cond = F.col("perplexity") <= max_perplexity
    if keep_unscored:
        cond = cond | F.col("perplexity").isNull()
    return scored.filter(cond).select(*cols)


# ------------------------------------------------------------------ BPE

BPE_PARAMS_COL = "__bpe_params"
BPE_EOW = "</w>"


def bpe_fingerprint(num_merges: int, max_words: int) -> str:
    """Canonical fingerprint of BPE training parameters — stamped into
    the persisted merges table and validated at encode time (same
    contract as :func:`~.dedup.lsh_fingerprint`)."""
    return f"bpe/v1/num_merges={num_merges}/max_words={max_words}"


def _bpe_learn(word_freqs: list, num_merges: int, to_symbols=None) -> list:
    """Classic byte-pair-encoding merge learning (Sennrich et al. 2016,
    arXiv:1508.07909) over a word-frequency histogram: each word is a
    symbol sequence (by default characters + end-of-word marker;
    ``to_symbols`` overrides — the byte-level variant passes its
    byte-alphabet mapping); repeatedly merge the most frequent adjacent
    symbol pair. Ties break lexicographically so training is
    deterministic. Driver-side by design — the histogram is bounded
    (``max_words`` rows), not data-scale."""
    from collections import Counter

    if to_symbols is None:
        def to_symbols(w):
            return tuple(w) + (BPE_EOW,)

    words = {w: (to_symbols(w), f) for w, f in word_freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, f in words.values():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        joined = best[0] + best[1]
        new_words = {}
        for w, (sym, f) in words.items():
            out = []
            i = 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(joined)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words[w] = (tuple(out), f)
        words = new_words
    return merges


def _word_histogram(train: DataFrame, text_col: str, max_words: int) -> list:
    """The bounded (word, freq) histogram both BPE trainers learn from:
    one narrow explode + hash aggregation, truncated to the
    ``max_words`` most frequent words (ties: token ascending) via
    TakeOrdered — the ONLY driver collect in BPE training, bounded by
    construction, which is what makes training corpus-size-independent.
    Writes no session conf, so it is safe alongside concurrent work in
    the same session."""
    rows = (
        train.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
        .orderBy(F.col("__f").desc(), F.col("__w").asc())
        .limit(max_words)
        .collect()
    )
    return [(r[0], r[1]) for r in rows]


def train_bpe(
    train: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
) -> DataFrame:
    """Train a BPE subword vocabulary on a corpus and return the
    persistable merges table: (rank, left, right, __bpe_params) — write
    it as parquet once, then :func:`bpe_encode` any number of batches
    against it (the :func:`~.dedup.band_table` build-once/probe-many
    contract, stamped and validated).

    Distributed shape: the corpus collapses to a WORD-frequency
    histogram first (one narrow explode + hash aggregation on the token
    — the standard trick that makes BPE training corpus-size-independent:
    merge counts depend only on (word, freq), so a 100-TB corpus and its
    histogram train identical merges). The histogram is truncated to the
    ``max_words`` most frequent words (ties: token ascending) via
    TakeOrdered — a bounded driver collect; the tail it drops is the
    long tail of rare words whose pair counts are dominated anyway.
    Merge learning itself (:func:`_bpe_learn`) is driver-side over that
    bounded histogram.

    Contract note: like the original character-level formulation, the
    end-of-word marker is a plain symbol — text whose words contain the
    literal string ``</w>`` can train merges that assemble a colliding
    symbol, making token→text reconstruction ambiguous for those words
    (encoding still round-trips deterministically). Corpora with such
    markup should strip it first or use :func:`train_bpe_bytes`, the
    collision-free byte-level variant."""
    hist = _word_histogram(train, text_col, max_words)
    return _merges_table(
        train.sparkSession, _bpe_learn(hist, num_merges),
        bpe_fingerprint(num_merges, max_words),
    )


def _merges_table(spark, merges: list, fp: str) -> DataFrame:
    """The persistable (rank, left, right, __bpe_params) table both
    trainers return."""
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).withColumn(BPE_PARAMS_COL, F.lit(fp))


def _collect_stamped(table: DataFrame, cols: list, expected: str) -> list:
    """Collect ``cols`` of a stamped BPE table (merges or vocab) in ONE
    job, with its ``__bpe_params`` stamp alongside, and check the stamp
    on the collected rows: a table built with other parameters silently
    produces a different segmentation, the failure the stamp exists to
    catch. A table without the stamp column passes unchecked."""
    stamped = BPE_PARAMS_COL in table.columns
    rows = table.select(
        *cols, *([BPE_PARAMS_COL] if stamped else [])
    ).collect()
    for r in rows if stamped else ():
        if r[-1] != expected:
            raise ValueError(
                f"BPE table parameter mismatch: table was built with "
                f"{r[-1]!r} but the encode uses {expected!r}"
            )
    return rows


def _bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    fp: str,
    *,
    byte_level: bool,
    emit: str,
    text_col: str,
    out_col: str,
    vocab: DataFrame | None = None,
    unk_id: int = -1,
) -> DataFrame:
    """The one BPE apply kernel behind every public encoder and counter.

    Input is the word array of the same JVM :func:`tokens` expression
    the trainers' histogram is built from, so encode-time word splitting
    cannot drift from training; only that array crosses into Python.
    The merge ranks (plus the vocab id map when ``emit="ids"``) are
    collected once per table with their stamp checked, and broadcast
    once. Each task keeps a word memo, so cost tracks the vocabulary of
    the task, not its token count; each new word runs the greedy
    lowest-rank-first pair merge (how GPT-2's encoder applies a merge
    list, provably equal to replaying merges in training order).

    Symbols are characters + ``</w>``, or with ``byte_level`` the
    mapped bytes of the space-prefixed word. ``emit`` picks the output:
    ``"tokens"`` appends ``array<string>``; ``"count"`` appends ``int``
    and drops ``text_col`` (the count is what the text becomes, so the
    text is not carried on); ``"ids"`` appends ``array<int>`` with
    ``unk_id`` for tokens outside the vocabulary. NULL text gives NULL,
    empty or whitespace-only text gives an empty array or 0."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StringType

    ranks = {
        (r[1], r[2]): r[0]
        for r in _collect_stamped(merges, ["rank", "left", "right"], fp)
    }
    ids = None
    if emit == "ids":
        ids = {
            r[0]: r[1]
            for r in _collect_stamped(vocab, ["token", "token_id"], fp)
        }
    b_model = safe_broadcast(df.sparkSession, (ranks, ids))
    eow = BPE_EOW
    # the bijection is tiny and deterministic: ship its items so the
    # worker needs no package import
    b2u_items = sorted(_bytes_to_unicode().items()) if byte_level else None
    rtype = {
        "tokens": ArrayType(StringType()),
        "count": IntegerType(),
        "ids": ArrayType(IntegerType()),
    }[emit]

    # nested and pickled BY VALUE: a module-level function would pickle
    # by name and need this package importable on the worker
    def bpe_apply(batches):
        R, id_map = b_model.value
        if b2u_items is None:
            def symbols(w):
                return list(w) + [eow]
        else:
            b2u = dict(b2u_items)

            def symbols(w):
                return [b2u[b] for b in (" " + w).encode("utf-8")]
        if emit == "count":
            finish = len
        elif emit == "ids":
            def finish(sym):
                return [id_map.get(t, unk_id) for t in sym]
        else:
            def finish(sym):
                return sym
        memo: dict = {}

        def encode(w):
            got = memo.get(w)
            if got is None:
                sym = symbols(w)
                while len(sym) > 1:
                    best_rank, best_i = None, None
                    for i in range(len(sym) - 1):
                        r = R.get((sym[i], sym[i + 1]))
                        if r is not None and (
                            best_rank is None or r < best_rank
                        ):
                            best_rank, best_i = r, i
                    if best_i is None:
                        break
                    sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
                got = memo[w] = finish(sym)
            return got

        for words in batches:
            out = []
            for ws in words:
                if ws is None:
                    out.append(None)
                elif emit == "count":
                    out.append(sum(encode(w) for w in ws if w))
                else:
                    toks: list = []
                    for w in ws:
                        if w:
                            toks.extend(encode(w))
                    out.append(toks)
            yield pd.Series(out, dtype="Int32" if emit == "count" else None)

    # real annotation objects: the module's `from __future__ import
    # annotations` would stringify inline hints (see _gopher_rep_counts_udf)
    bpe_apply.__annotations__ = {
        "batches": Iterator[pd.Series], "return": Iterator[pd.Series],
    }
    udf = F.pandas_udf(rtype)(bpe_apply)
    out = df.withColumn(out_col, udf(tokens(F.col(text_col))))
    return out.drop(text_col) if emit == "count" else out


def _check_out_col(df: DataFrame, out_col: str, fn: str) -> None:
    if out_col in df.columns:
        raise ValueError(
            f"{fn}: out_col {out_col!r} already exists on the input "
            "DataFrame — pick a different name"
        )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col`` (``array<string>`` of BPE subword tokens) by
    applying a trained merges table to every document's :func:`tokens`
    words (:func:`_bpe_apply`). NULL text encodes to NULL. The table's
    parameter stamp is validated against this call's."""
    _check_out_col(df, out_col, "bpe_encode")
    return _bpe_apply(
        df, merges, bpe_fingerprint(num_merges, max_words),
        byte_level=False, emit="tokens", text_col=text_col, out_col=out_col,
    )


def bpe_token_count(
    df: DataFrame,
    merges: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
    out_col: str = "bpe_token_count",
) -> DataFrame:
    """Per-document subword token count under a TRAINED vocabulary — the
    budget number a pre-training mix is planned against (contrast
    :func:`bpe_ish_token_count`, the model-free regex estimate).

    Output: the input's columns with ``text_col`` REPLACED by
    ``out_col`` — the count is what the text becomes, and only the
    count crosses back from Python. NULL text → NULL count;
    empty/whitespace-only text → 0."""
    _check_out_col(df, out_col, "bpe_token_count")
    return _bpe_apply(
        df, merges, bpe_fingerprint(num_merges, max_words),
        byte_level=False, emit="count", text_col=text_col, out_col=out_col,
    )


# --------------------------------------------------------- byte-level BPE


def _bytes_to_unicode() -> dict:
    """The byte ↔ printable-unicode bijection of GPT-2's byte-level BPE
    (Radford et al. 2019; the published encoder recipe): visible
    ASCII/Latin-1 bytes map to themselves, the remaining bytes to
    256+offset code points. Every byte becomes exactly ONE unicode
    character, so byte-level symbols stay plain strings and merges stay
    string concatenation — and because the base alphabet is exactly the
    256 bytes, no input text can collide with a marker symbol (the
    ``</w>`` caveat :func:`train_bpe` documents does not exist here)."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


def bpe_bytes_fingerprint(num_merges: int, max_words: int) -> str:
    """Stamp for byte-level merges tables — deliberately distinct from
    :func:`bpe_fingerprint` so character-level and byte-level tables
    can never be applied to each other."""
    return f"bpe-bytes/v1/num_merges={num_merges}/max_words={max_words}"


def train_bpe_bytes(
    train: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
) -> DataFrame:
    """Byte-level BPE training — the collision-free variant of
    :func:`train_bpe` (same bounded-histogram distributed shape, same
    persistable (rank, left, right) merges contract, distinct stamp).

    Every word trains in its SPACE-PREFIXED UTF-8 byte form (GPT-2's
    leading-space convention, uniformly applied): symbols are the
    mapped bytes of ``" " + word``, there is no end-of-word marker, and
    decoding is the exact inverse (:func:`bpe_decode_bytes`). Because
    the base alphabet is the 256 bytes themselves, ``decode(encode(
    text))`` equals the canonical text for EVERY input, including text
    containing the literal ``</w>`` that makes the character-level
    variant's reconstruction ambiguous. The canonical text is the
    non-empty :func:`tokens` words joined by one space: the words the
    histogram is built from and the encoders apply to."""
    b2u = _bytes_to_unicode()

    def to_sym(w):
        return tuple(b2u[b] for b in (" " + w).encode("utf-8"))

    hist = _word_histogram(train, text_col, max_words)
    return _merges_table(
        train.sparkSession, _bpe_learn(hist, num_merges, to_symbols=to_sym),
        bpe_bytes_fingerprint(num_merges, max_words),
    )


def bpe_encode_bytes(
    df: DataFrame,
    merges: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a :func:`train_bpe_bytes` merges table — the
    :func:`bpe_encode` kernel with byte-mapped space-prefixed symbols
    and no end-of-word marker. NULL text encodes to NULL; the stamp is
    validated."""
    _check_out_col(df, out_col, "bpe_encode_bytes")
    return _bpe_apply(
        df, merges, bpe_bytes_fingerprint(num_merges, max_words),
        byte_level=True, emit="tokens", text_col=text_col, out_col=out_col,
    )


def bpe_decode_bytes(tokens: list) -> str:
    """Exact inverse of :func:`bpe_encode_bytes` for one document's
    token list: unmap every symbol character back to its byte, UTF-8
    decode, drop the leading space the first word carried. The result
    is the document's canonical text, its non-empty :func:`tokens`
    words joined by one space. A pure driver/test helper — the
    round-trip it witnesses is the byte-level variant's
    collision-freedom claim."""
    u2b = {c: b for b, c in _bytes_to_unicode().items()}
    data = bytes(u2b[ch] for tok in tokens for ch in tok)
    return data.decode("utf-8")[1:]


def bpe_token_count_bytes(
    df: DataFrame,
    merges: DataFrame,
    num_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
    out_col: str = "bpe_token_count",
) -> DataFrame:
    """Per-document subword count under a byte-level vocabulary —
    :func:`bpe_token_count`'s twin for :func:`train_bpe_bytes` merges,
    with the same output contract (``text_col`` replaced by
    ``out_col``); the stamp keeps the two table kinds from crossing."""
    _check_out_col(df, out_col, "bpe_token_count_bytes")
    return _bpe_apply(
        df, merges, bpe_bytes_fingerprint(num_merges, max_words),
        byte_level=True, emit="count", text_col=text_col, out_col=out_col,
    )


# ------------------------------------------------------------- Gopher rules

#: the Gopher stop-word presence list (Rae et al. 2021, A1.1): a
#: document must contain at least 2 of these to count as prose.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: line prefixes treated as bullets by the formatting rule
GOPHER_BULLETS = ("•", "‣", "▶", "-", "*")

#: published repetition thresholds: fraction of characters in the most
#: frequent n-gram (n=2..4) / in all duplicated n-grams (n=5..10)
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11,
                        10: 0.10}


def gopher_quality_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append the cheap (per-row, shuffle-free) Gopher quality signals
    (Rae et al. 2021, arXiv:2112.11446 A1.1) in ONE fused projection:

    - ``n_words`` / ``mean_word_len`` — whitespace words of the
      normalized text;
    - ``symbol_word_ratio`` — '#'/ellipsis occurrences per word;
    - ``bullet_line_ratio`` / ``ellipsis_line_ratio`` — fraction of RAW
      lines starting with a bullet / ending with an ellipsis
      (formatting lives in the raw text, so these split pre-trim);
    - ``alpha_word_ratio`` — fraction of words containing a letter;
    - ``stopword_hits`` — how many DISTINCT entries of
      :data:`GOPHER_STOPWORDS` appear.

    All native column expressions; the repetition family needs
    per-document gram frequencies and lives in
    :func:`gopher_repetition_features`.

    The token and line arrays are materialized behind a projection
    boundary first: they are referenced by ~35 sub-expressions
    (including interpreted HOF islands and the per-stopword
    ``array_contains`` chain), and without the boundary the
    tokenization re-evaluates per reference — measured 1.3x slower at
    the 30x replica, identical values."""
    text = F.col(text_col)
    feats = ["n_words", "mean_word_len", "symbol_word_ratio",
             "bullet_line_ratio", "ellipsis_line_ratio",
             "alpha_word_ratio", "stopword_hits"]
    # replace-in-place semantics (r10 ADVICE): an input column already
    # named like an output feature is replaced rather than duplicated,
    # and the scratch columns are renamed until they cannot clobber a
    # real input column
    in_cols = [c for c in df.columns if c not in feats]
    tok_col, line_col = "__gq_toks", "__gq_lines"
    while tok_col in df.columns:
        tok_col += "_"
    while line_col in df.columns:
        line_col += "_"
    df = df.withColumns({
        tok_col: tokens(text),
        line_col: F.filter(
            F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
            lambda l: l != "",
        ),
    })
    toks = F.col(tok_col)
    lines = F.col(line_col)
    n_words = F.size(toks)
    n_lines = F.size(lines)
    bullet_starts = F.size(F.filter(
        lines,
        lambda l: F.substring(l, 1, 1).isin(*GOPHER_BULLETS),
    ))
    ellipsis_ends = F.size(F.filter(
        lines,
        lambda l: l.endswith("...") | l.endswith("…"),
    ))
    # one '#' or '…' char, or one literal '...' run, = one symbol
    n_symbols = (
        F.length(text) - F.length(F.regexp_replace(text, r"#|…", ""))
        + F.size(F.split(text, r"\.\.\.", -1)) - 1
    )
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    )
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        hit = F.array_contains(toks, s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    return df.withColumns({
        "n_words": n_words,
        "mean_word_len": F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
            / n_words, 6,
        ),
        "symbol_word_ratio": F.round(n_symbols / n_words, 6),
        "bullet_line_ratio": F.when(
            n_lines > 0, F.round(bullet_starts / n_lines, 6)
        ).otherwise(F.lit(0.0)),
        "ellipsis_line_ratio": F.when(
            n_lines > 0, F.round(ellipsis_ends / n_lines, 6)
        ).otherwise(F.lit(0.0)),
        "alpha_word_ratio": F.round(alpha_words / n_words, 6),
        "stopword_hits": stop_hits,
    }).select(*in_cols, *feats)


def gopher_repetition_features(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Append the Gopher REPETITION signals (per-document gram
    frequencies):

    - ``dup_line_ratio`` / ``dup_line_char_ratio`` — fraction of
      non-empty lines (/ their characters) that are repeats of an
      earlier identical line;
    - ``top_{n}gram_char_ratio`` (n in ``top_ns``) — characters covered
      by ALL occurrences of the single most frequent word n-gram, over
      the normalized text length;
    - ``dup_{n}gram_char_ratio`` (n in ``dup_ns``) — characters covered
      by every occurrence of every DUPLICATED n-gram. Like the open
      implementations of this rule, overlapping occurrences are counted
      per-occurrence (no interval union), so values can exceed 1 on
      degenerate text — consumers threshold low (≤ ~0.15) where the
      approximation is tight.

    The signals are PER-DOCUMENT, so no cross-row data is needed:
    tokenization and line-splitting stay native JVM expressions
    (:func:`tokens`, the tokenizer every text operator shares), and an
    Arrow-batched pandas UDF counts exact grams per row, returning
    INTEGER counts only — every ratio/rounding stays a native Spark
    expression, so there is no float-parity risk. ZERO shuffle,
    embarrassingly parallel, and counting is exact-string: the values
    equal the DuckDB ``gopher_quality`` oracle's (string grams) and the
    pure-Python reference in ``test_gopher.py``. NOTES "r10 continued"
    measures it against the former all-JVM window-and-shuffle plan
    (1.3s vs 9.8s at the 10x replica).

    Small-input caveat handled here: a tiny parquet scan can arrive as
    ONE partition, which would serialize the UDF onto a single Python
    worker — when the input has fewer partitions than the cluster's
    default parallelism, the text rows are repartitioned first (a
    narrow row-wise exchange of raw text)."""
    text = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    from .plancut import ensure_parallelism

    df = ensure_parallelism(df)
    rep_counts = _gopher_rep_counts_udf(tuple(top_ns), tuple(dup_ns))
    d = df.withColumns({
        "__c": rep_counts(tokens(text), lines),
        "__total": F.length(norm),
    })
    c = F.col("__c")
    total = F.col("__total")
    # a document with no lines or grams scores 0.0 on every ratio, as
    # in the oracle and the Python reference: NULL text has NULL
    # __total, so every `total > 0` gate falls to the 0.0 branch
    cols = {
        "dup_line_ratio": F.when(
            c["line_occ"] > 0, F.round(c["line_dup"] / c["line_occ"], 6)
        ).otherwise(0.0),
        "dup_line_char_ratio": F.when(
            (c["line_occ"] > 0) & (total > 0),
            F.round(c["line_dup_chars"] / total, 6),
        ).otherwise(0.0),
    }
    for n in top_ns:
        cols[f"top_{n}gram_char_ratio"] = F.when(
            (total > 0) & (c[f"top{n}_cnt"] > 1),
            F.round(c[f"top{n}_cov"] / total, 6),
        ).otherwise(0.0)
    for n in dup_ns:
        cols[f"dup_{n}gram_char_ratio"] = F.when(
            total > 0, F.round(c[f"dup{n}_chars"] / total, 6)
        ).otherwise(0.0)
    return d.withColumns(cols).drop("__c", "__total")


def _gopher_rep_counts_udf(top_ns: tuple, dup_ns: tuple):
    """Arrow-batched exact gram/line counters for one (top_ns, dup_ns)
    configuration. Input: the JVM-built token array and trimmed
    non-empty line array. Output: a struct of LONG counts — per
    ``top_ns`` size the winning gram's ``(count, count*chars)`` (max by
    that pair, matching the oracle's packed-BIGINT max), per ``dup_ns``
    size the characters covered by all occurrences of duplicated grams,
    plus the duplicate-line occurrence/char counts. Gram char length = summed
    token lengths + (n-1) separators == ``length(array_to_string)``,
    via one prefix-sum per doc so gram strings are never built.

    Cost model caveat (r10 ADVICE): counting is exact and per-document
    in pure Python — all ``len(top_ns) + len(dup_ns)`` gram sizes per
    row — so a pathological multi-megabyte document makes one Arrow
    batch slow and memory-heavy. Unbounded documents go through a
    word-count gate FIRST: ``gopher_filter`` applies its ``max_words``
    bound before these counts, and ``curation_run`` composes it that
    way."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    names = ["line_occ", "line_dup", "line_dup_chars"]
    names += [f"top{n}_{p}" for n in top_ns for p in ("cnt", "cov")]
    names += [f"dup{n}_chars" for n in dup_ns]
    schema = StructType([StructField(c, LongType()) for c in names])
    zeros = (0,) * len(names)

    def one(toks, lines) -> tuple:
        if toks is None:
            return zeros
        line_occ = line_dup = line_dup_chars = 0
        if lines is not None:
            line_occ = len(lines)
            cnt: dict = {}
            for ln in lines:
                cnt[ln] = cnt.get(ln, 0) + 1
            for ln, c in cnt.items():
                if c > 1:
                    line_dup += c - 1
                    line_dup_chars += (c - 1) * len(ln)
        # intern tokens to small ints: gram keys become int tuples
        seen: dict = {}
        tlen: list = []
        ids = []
        for t in toks:
            i = seen.get(t)
            if i is None:
                i = len(seen)
                seen[t] = i
                tlen.append(len(t))
            ids.append(i)
        T = len(ids)
        pref = [0] * (T + 1)
        for i, tid in enumerate(ids):
            pref[i + 1] = pref[i] + tlen[tid]
        out = [line_occ, line_dup, line_dup_chars]
        counters: dict = {}
        for n in sorted(set(top_ns) | set(dup_ns)):
            c: dict = {}
            for i in range(T - n + 1):
                k = tuple(ids[i:i + n])
                e = c.get(k)
                if e is None:
                    # glen piggybacks on first sight; value = [cnt, glen]
                    c[k] = [1, pref[i + n] - pref[i] + n - 1]
                else:
                    e[0] += 1
            counters[n] = c
        for n in top_ns:
            top_cnt = top_cov = 0
            for cc, glen in counters[n].values():
                cov = cc * glen
                if cc > top_cnt or (cc == top_cnt and cov > top_cov):
                    top_cnt, top_cov = cc, cov
            out += [top_cnt, top_cov]
        for n in dup_ns:
            out.append(sum(
                cc * glen for cc, glen in counters[n].values() if cc > 1
            ))
        return tuple(out)

    def rep_counts(toks, lines):
        return pd.DataFrame(
            [one(t, ln) for t, ln in zip(toks, lines)], columns=names
        )

    # real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints, and the local `pd`
    # import is invisible to pandas_udf's get_type_hints resolution)
    rep_counts.__annotations__ = {
        "toks": pd.Series, "lines": pd.Series, "return": pd.DataFrame,
    }
    return F.pandas_udf(schema)(rep_counts)


def _first_failing(rules) -> "F.Column":
    """First failing rule's name from ``[(name, fail_condition), ...]``
    — NULL when none fails. Shared by the gate's reason attribution
    (``collect_reasons``) so the reason column is derived from the
    SAME rule expressions that drop the document."""
    return F.coalesce(
        *[F.when(cond, F.lit(name)) for name, cond in rules]
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_ratio: float = 0.3,
    max_dup_line_char_ratio: float = 0.2,
    top_ngram_max: dict | None = None,
    dup_ngram_max: dict | None = None,
    collect_reasons: dict | None = None,
) -> DataFrame:
    """The full Gopher quality gate with the PUBLISHED thresholds as
    defaults (every one a parameter — curation policy belongs to the
    training run): word-count/word-length window, symbol and formatting
    rules, stop-word presence, and the complete repetition family.
    Returns surviving rows with the input schema. NULL text never
    survives. The cheap per-row rules filter FIRST — including the
    ``max_words`` bound the repetition counter's cost model relies
    on — so the repetition pass (:func:`gopher_repetition_features`)
    prices only their survivors.

    ``collect_reasons`` (optional, a dict the caller owns) is the
    diagnostic reason channel: the call stores a LAZY narrow
    ``(id_col, reason)`` frame under ``collect_reasons["gopher"]``
    holding, for every dropped document, the FIRST rule that fired
    (rule-parameter names: ``min_words``, ``max_symbol_word_ratio``,
    ``top_2gram_char_ratio``, ...; ``null_text`` for NULL text). The
    frame is built from the same rule expressions that drop the rows,
    so it cannot drift from the gate; executing it re-runs the gate's
    feature plans (diagnostic cost, pay only when actioned)."""
    top_ngram_max = dict(
        GOPHER_TOP_NGRAM_MAX if top_ngram_max is None else top_ngram_max
    )
    dup_ngram_max = dict(
        GOPHER_DUP_NGRAM_MAX if dup_ngram_max is None else dup_ngram_max
    )
    cols = df.columns
    cheap = gopher_quality_features(df, text_col)
    # fail-conditions, first-match order = the docstring's rule names.
    # NULL text fails every comparison NULL-ly (gate NULL -> dropped),
    # so it gets an explicit first rule instead of a missing reason.
    cheap_rules = [
        ("null_text", F.col(text_col).isNull()),
        ("min_words", F.col("n_words") < min_words),
        ("max_words", F.col("n_words") > max_words),
        ("min_mean_word_len", F.col("mean_word_len") < min_mean_word_len),
        ("max_mean_word_len", F.col("mean_word_len") > max_mean_word_len),
        ("max_symbol_word_ratio",
         F.col("symbol_word_ratio") > max_symbol_word_ratio),
        ("max_bullet_line_ratio",
         F.col("bullet_line_ratio") > max_bullet_line_ratio),
        ("max_ellipsis_line_ratio",
         F.col("ellipsis_line_ratio") > max_ellipsis_line_ratio),
        ("min_alpha_word_ratio",
         F.col("alpha_word_ratio") < min_alpha_word_ratio),
        ("min_stopword_hits", F.col("stopword_hits") < min_stopword_hits),
    ]
    gate = ~cheap_rules[0][1]
    for _, cond in cheap_rules[1:]:
        gate = gate & ~cond
    out = cheap.filter(gate).select(*cols)
    rep = gopher_repetition_features(
        out, text_col,
        top_ns=tuple(sorted(top_ngram_max)),
        dup_ns=tuple(sorted(dup_ngram_max)),
    )
    rep_rules = [
        ("max_dup_line_ratio", F.col("dup_line_ratio") > max_dup_line_ratio),
        ("max_dup_line_char_ratio",
         F.col("dup_line_char_ratio") > max_dup_line_char_ratio),
    ]
    for n, t in top_ngram_max.items():
        rep_rules.append(
            (f"top_{n}gram_char_ratio", F.col(f"top_{n}gram_char_ratio") > t)
        )
    for n, t in dup_ngram_max.items():
        rep_rules.append(
            (f"dup_{n}gram_char_ratio", F.col(f"dup_{n}gram_char_ratio") > t)
        )
    rep_gate = ~rep_rules[0][1]
    for _, cond in rep_rules[1:]:
        rep_gate = rep_gate & ~cond
    if collect_reasons is not None:
        # drops happen in two layers (repetition features are computed
        # on cheap-rule survivors only), so the reason frame is the
        # union of both layers' first-failing-rule rows. The
        # "unattributed" fallback covers rows dropped by a
        # NULL-evaluated comparison on non-NULL text (a NULL gate
        # conjunct drops the row but no fail-condition is TRUE) —
        # without it their NULL reason would read as "single-rule
        # stage" in the rejection log.
        def _layer(frame, rules, layer_gate):
            return frame.select(
                F.col(id_col),
                F.coalesce(
                    _first_failing(rules),
                    F.when(
                        ~layer_gate | layer_gate.isNull(),
                        F.lit("unattributed"),
                    ),
                ).alias("reason"),
            ).filter(F.col("reason").isNotNull())

        collect_reasons["gopher"] = _layer(
            cheap, cheap_rules, gate
        ).unionByName(_layer(rep, rep_rules, rep_gate))
    return rep.filter(rep_gate).select(*cols)


def corpus_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One-row corpus datasheet — the numbers a training-data release
    documents: document/NULL counts, token totals and distribution
    (exact percentiles via sort-free ``percentile``), character volume,
    mean quality signals (alpha ratio, stopword ratio, within-doc
    2-gram repetition), and per-language document counts (one pivoted
    map). ONE aggregation over one fused feature projection — the scan
    is the only pass, so the report costs what a count costs.

    Languages come from :func:`lang_id`; NULL-text documents count in
    ``n_docs``/``n_null_text`` and nothing else."""
    feats = quality_features(df, text_col=text_col)
    lang = lang_id(F.col(text_col))
    langs = sorted(LANG_MARKERS) + ["und"]
    # NULL-text guard: under spark.sql.legacy.sizeOfNull=true, size(NULL)
    # is -1 (not NULL), so an unguarded sum/avg/percentile over n_tokens
    # (and the ratios derived from it) would let NULL docs skew every
    # statistic — breaking the documented "NULL docs count in
    # n_docs/n_null_text and nothing else" contract. Gate each feature on
    # text IS NOT NULL, as tokenize_and_pack already does.
    has_text = F.col(text_col).isNotNull()

    def _t(c: str):
        return F.when(has_text, F.col(c))

    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col(text_col).isNull(), 1)).alias("n_null_text"),
        F.sum(_t("n_tokens")).alias("total_tokens"),
        F.sum(_t("n_chars")).alias("total_chars"),
        F.round(F.avg(_t("n_tokens")), 2).alias("mean_tokens"),
        F.percentile(_t("n_tokens"), F.lit(0.5)).alias("p50_tokens"),
        F.percentile(_t("n_tokens"), F.lit(0.95)).alias("p95_tokens"),
        F.round(F.avg(_t("alpha_ratio")), 6).alias("mean_alpha_ratio"),
        F.round(F.avg(_t("stopword_ratio")), 6).alias("mean_stopword_ratio"),
        F.round(
            F.avg(_t("dup_2gram_ratio")), 6
        ).alias("mean_dup_2gram_ratio"),
        F.map_from_arrays(
            F.array(*[F.lit(l) for l in langs]),
            F.array(*[
                F.count(
                    F.when(F.col(text_col).isNotNull() & (lang == l), 1)
                ) for l in langs
            ]),
        ).alias("lang_counts"),
    )


def source_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source datasheet rows — the distribution :func:`corpus_stats`
    deliberately collapses: one row per ``source_col`` value (NULL
    source is its own row, matching the admission quota's NULL-slice
    semantics) with document/NULL counts, token totals/means, and each
    source's share of the corpus. The monitoring companion to the
    per-source admission quota: a skewed ``doc_share`` is the signal to
    turn ``source_cap`` on, and a capped loop's shares should flatten
    toward ``cap / n_docs``.

    Scale shape: ONE partial+final hash aggregation over the fused
    feature projection; the grand total for the share is a sum over
    the already-aggregated GROUP rows (an unpartitioned window over
    #sources rows, never the corpus) — the corpus is scanned exactly
    once."""
    from pyspark.sql import Window

    if source_col not in df.columns:
        raise ValueError(f"source_stats needs a {source_col!r} column")
    feats = quality_features(df, text_col=text_col)
    has_text = F.col(text_col).isNotNull()
    per = feats.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col(text_col).isNull(), 1)).alias("n_null_text"),
        F.sum(F.when(has_text, F.col("n_tokens"))).alias("total_tokens"),
        F.round(
            F.avg(F.when(has_text, F.col("n_tokens"))), 2
        ).alias("mean_tokens"),
    )
    w_all = Window.partitionBy()
    return per.withColumn(
        "doc_share",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_all), 6),
    )


def bpe_vocab(
    train: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 50_000,
) -> DataFrame:
    """The trained vocabulary as a persistable id table: (token_id,
    token, __bpe_params) — base characters observed in the training
    corpus (sorted, ids first), the end-of-word marker, then each merge
    product in rank order. Deterministic for a fixed (corpus, merges),
    so shard exports across machines agree on ids.

    Scale shape: the character alphabet comes from ONE distinct over a
    per-character explode of the corpus (bounded output — alphabets are
    small); everything else derives from the ``num_merges``-row merges
    table."""
    fp = bpe_fingerprint(num_merges, max_words)
    m_rows = sorted(_collect_stamped(merges, ["rank", "left", "right"], fp))
    chars = sorted(
        r[0]
        for r in train.select(
            F.explode(
                F.split(F.array_join(tokens(F.col(text_col)), ""), "")
            ).alias("c")
        )
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    )
    toks = list(chars) + [BPE_EOW] + [r[1] + r[2] for r in m_rows]
    # merge products can collide with base symbols only when training
    # text contains the literal marker (documented train_bpe contract);
    # keep first occurrence's id
    seen, uniq = set(), []
    for t in toks:
        if t not in seen:
            seen.add(t)
            uniq.append(t)
    spark = train.sparkSession
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(uniq)],
        "token_id int, token string",
    ).withColumn(BPE_PARAMS_COL, F.lit(fp))


def bpe_encode_ids(
    df: DataFrame,
    merges: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_token_ids",
    num_merges: int = 200,
    max_words: int = 50_000,
    unk_id: int = -1,
) -> DataFrame:
    """Append ``out_col`` (``array<int>``) — the document's subword
    token IDS under a trained (merges, vocab) pair: what a shard export
    actually ships to a trainer. One pass of the :func:`bpe_encode`
    kernel that looks each token up in the broadcast vocab, so subword
    strings never leave the Python worker. Tokens outside the
    vocabulary (unseen characters at encode time) map to ``unk_id``.
    NULL text → NULL. Both tables' stamps are validated."""
    _check_out_col(df, out_col, "bpe_encode_ids")
    return _bpe_apply(
        df, merges, bpe_fingerprint(num_merges, max_words),
        byte_level=False, emit="ids", text_col=text_col, out_col=out_col,
        vocab=vocab, unk_id=unk_id,
    )
