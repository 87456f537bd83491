"""Gopher quality-rule family (Rae et al. 2021 A1.1): per-row signals
and repetition signals against a pure-python reference, and the full
published-threshold gate."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
    GOPHER_STOPWORDS,
    gopher_filter,
    gopher_quality_features,
    gopher_repetition_features,
)


def _norm(t):
    return re.sub(r"\s+", " ", t.strip().lower())


def _ref_repetition(t, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    norm = _norm(t)
    total = len(norm)
    toks = norm.split(" ")
    out = {}
    lines = [l.strip() for l in t.split("\n") if l.strip()]
    lc = Counter(lines)
    occ = len(lines)
    out["dup_line_ratio"] = round(
        sum(c - 1 for c in lc.values() if c > 1) / occ, 6
    )
    out["dup_line_char_ratio"] = round(
        sum((c - 1) * len(l) for l, c in lc.items() if c > 1) / total, 6
    )
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        gc = Counter(grams)
        if n in top_ns:
            key = f"top_{n}gram_char_ratio"
            if gc and max(gc.values()) > 1:
                mc = max(gc.values())
                cov = max(mc * len(g) for g, c in gc.items() if c == mc)
                out[key] = round(cov / total, 6)
            else:
                out[key] = 0.0
        if n in dup_ns:
            out[f"dup_{n}gram_char_ratio"] = round(
                sum(c * len(g) for g, c in gc.items() if c > 1) / total, 6
            )
    return out


GOOD = (
    "The quick brown fox jumps over the lazy dog and runs to the river "
    "with a friendly otter that swims along happily. They have spent "
    "many days exploring the forest paths, discovering hidden clearings "
    "and quiet streams that wind between ancient mossy stones. Each "
    "morning brings a new adventure for the pair of unlikely friends."
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_features_hand_computed(spark):
    rows = [
        (1, "The cat sat"),                         # 3 words
        (2, "# tag and more... text … done"),       # 1 '#', 1 '...', 1 '…'
                                                    # (7 ws-split words)
        (3, "• first\n- second\nplain\nends..."),    # bullets + ellipsis
        (4, "12 99 ++"),                            # no alpha words
    ]
    got = {
        r["doc_id"]: r
        for r in gopher_quality_features(_df(spark, rows)).collect()
    }
    assert got[1]["n_words"] == 3
    assert got[1]["mean_word_len"] == pytest.approx((3 + 3 + 3) / 3)
    assert got[1]["stopword_hits"] == 1          # 'the'
    assert got[2]["symbol_word_ratio"] == pytest.approx(3 / 7, abs=1e-5)
    assert got[2]["stopword_hits"] == 1          # 'and'
    assert got[3]["bullet_line_ratio"] == pytest.approx(2 / 4)
    assert got[3]["ellipsis_line_ratio"] == pytest.approx(1 / 4)
    assert got[4]["alpha_word_ratio"] == 0.0
    assert got[1]["alpha_word_ratio"] == 1.0


def test_repetition_features_match_python_reference(spark):
    rows = [
        (1, GOOD),
        (2, "repeat me now\nrepeat me now\nunique line here\n"
            "repeat me now"),
        (3, "spam ham " * 30 + "end"),
        (4, "all words here are completely distinct from one another "
            "making nothing repeat at any gram size whatsoever"),
        # repeated unicode-ellipsis lines: normalization is not ASCII-only
        (5, "line one…\nline one…\n padded \nx y x y x y x y x y x y"),
    ]
    # planted degenerate rows: NULL, empty, whitespace-only, one word
    degenerate = [(101, None), (102, ""), (103, "   "), (104, "word")]
    got = {
        r["doc_id"]: r
        for r in gopher_repetition_features(
            _df(spark, rows + degenerate)
        ).collect()
    }
    for i, t in rows:
        ref = _ref_repetition(t)
        for k, v in ref.items():
            assert got[i][k] == pytest.approx(v, abs=2e-6), (i, k)
    # sanity on magnitudes: the line-repeater and the 2-gram spammer
    assert got[2]["dup_line_ratio"] == pytest.approx(2 / 4)
    assert got[3]["top_2gram_char_ratio"] > 0.5
    assert got[4]["dup_5gram_char_ratio"] == 0.0
    # row 5 by hand: 50 normalized chars ("one…" is 4), 4 lines with
    # one 9-char repeat; 17 tokens ending in six "x y" pairs
    want5 = {
        "dup_line_ratio": 1 / 4,
        "dup_line_char_ratio": 9 / 50,
        "top_2gram_char_ratio": 6 * 3 / 50,    # "x y" x6
        "top_3gram_char_ratio": 5 * 5 / 50,    # "x y x" x5 (ties "y x y")
        "top_4gram_char_ratio": 5 * 7 / 50,    # "x y x y" x5
        "dup_5gram_char_ratio": (4 + 4) * 9 / 50,
        "dup_10gram_char_ratio": 2 * 19 / 50,  # only "x y ... y" recurs
    }
    for k, v in want5.items():
        assert got[5][k] == pytest.approx(v, abs=2e-6), k
    feats = [c for c in got[1].asDict() if c not in ("doc_id", "text")]
    for i, _ in degenerate:
        assert {k: got[i][k] for k in feats} == dict.fromkeys(feats, 0.0), i


def test_gopher_filter_each_rule_drops_its_violator(spark):
    long_tail = (
        " The meadow stays calm while seven curious travelers wander "
        "past old villages and tall hills, sharing stories that keep "
        "everyone smiling through the whole journey together again."
    )
    rows = [
        (1, GOOD),                                    # survives
        (2, "short text with the and of"),            # < min words
        (3, ("spam " * 60).strip() + long_tail),      # top-2gram blowout
        (4, "\n".join(["the same line of text here"] * 40)),  # dup lines
        (5, None),                                    # NULL
        (6, ("## " * 30) + GOOD),                     # symbol ratio
    ]
    out = sorted(
        r["doc_id"]
        for r in gopher_filter(_df(spark, rows), min_words=40).collect()
    )
    assert out == [1]

    # thresholds are policy: loosening the violated rules readmits docs
    loose = sorted(
        r["doc_id"]
        for r in gopher_filter(
            _df(spark, rows),
            min_words=4,
            max_symbol_word_ratio=1.0,
            max_dup_line_ratio=1.0,
            max_dup_line_char_ratio=2.0,
            # overlap-naive coverage can exceed 1.0 on degenerate text
            top_ngram_max={2: 99.0, 3: 99.0, 4: 99.0},
            dup_ngram_max={5: 99.0},
        ).collect()
    )
    assert 2 in loose and 3 in loose and 4 in loose
    assert 5 not in loose  # NULL text never survives
    assert gopher_filter(_df(spark, rows)).columns == ["doc_id", "text"]


def test_gopher_filter_on_real_documents(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    kept = gopher_filter(docs, min_words=10, min_stopword_hits=0)
    n, total = kept.count(), docs.count()
    assert 0 < n <= total
    # survivors are a subset of the input ids
    ids = {r["doc_id"] for r in docs.collect()}
    assert all(r["doc_id"] in ids for r in kept.collect())


@pytest.mark.slow
def test_curate_corpus_gopher_stage(spark):
    """curate_corpus(gopher_rules=...) applies the full rule family
    between the basic gates and the near-dup stage."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    rows = [
        (1, GOOD),
        (2, "\n".join(["the same line of text here"] * 40)),  # dup lines
    ]
    out = curate_corpus(
        _df(spark, rows),
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
        gopher_rules={"min_words": 40, "min_stopword_hits": 1},
    )
    assert [r["doc_id"] for r in out.collect()] == [1]

    # without the stage, the repeater passes the basic gates
    base = curate_corpus(
        _df(spark, rows),
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
    )
    assert sorted(r["doc_id"] for r in base.collect()) == [1, 2]


def test_cli_curate_gopher_flag(spark, tmp_path, capsys):
    """curate --gopher applies the full rule family at published
    thresholds."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    pool_path = str(tmp_path / "pool.parquet")
    _df(spark, [
        (1, GOOD),
        (2, "\n".join(["the same line of text here"] * 40)),
    ]).write.parquet(pool_path)
    out_path = str(tmp_path / "curated")
    assert main([
        "curate", "--input", pool_path, "--output", out_path,
        "--min-tokens", "5", "--gopher",
    ]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["kept"] == 1
    assert spark.read.parquet(out_path).first()["doc_id"] == 1


@pytest.mark.slow
def test_repetition_property_random_texts(spark):
    """Property: the repetition ratios equal the python reference on
    random multi-line texts drawn from a small word pool (repeats
    likely) — one createDataFrame per example."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["aa", "bb", "cc", "dd", "longerword"])
    line = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @given(st.lists(line, min_size=1, max_size=8))
    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(lines):
        text = "\n".join(lines)
        ref = _ref_repetition(text)
        got = gopher_repetition_features(
            _df(spark, [(1, text)])
        ).first().asDict()
        for k, v in ref.items():
            assert got[k] == pytest.approx(v, abs=2e-6), k

    run()


def test_corpus_stats_datasheet(spark):
    """corpus_stats: one-row report whose numbers match directly
    computed values."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        corpus_stats,
    )

    rows = [
        (1, "the cat and the dog"),        # en markers
        (2, "el perro y la casa de"),      # es markers
        (3, None),
        (4, "qq zz vv"),                   # no markers -> und
    ]
    r = corpus_stats(_df(spark, rows)).first()
    assert r["n_docs"] == 4
    assert r["n_null_text"] == 1
    assert r["total_tokens"] == 5 + 6 + 3
    assert r["mean_tokens"] == pytest.approx((5 + 6 + 3) / 3, abs=0.01)
    assert r["lang_counts"]["en"] == 1
    assert r["lang_counts"]["es"] == 1
    assert r["lang_counts"]["und"] == 1
    assert r["p50_tokens"] == 5.0

    # bounded plan: global one-row aggregation — at most the single-
    # partition exchange plus the sort-agg split the exact percentile
    # forces; never a text-wide shuffle
    plan = corpus_stats(_df(spark, rows))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") <= 2


def test_source_stats_per_source_rows(spark):
    """source_stats: one row per source (NULL slice included) with
    counts, token totals, and corpus shares summing to 1 — the
    quota-monitoring view corpus_stats collapses."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        source_stats,
    )
    import pytest as _pt

    rows = [
        (1, "the cat and the dog", "hot"),
        (2, "el perro y la casa de", "hot"),
        (3, None, "hot"),
        (4, "qq zz vv", "cold"),
        (5, "one two", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = {r["source"]: r.asDict() for r in source_stats(df).collect()}
    assert set(got) == {"hot", "cold", None}
    assert got["hot"]["n_docs"] == 3
    assert got["hot"]["n_null_text"] == 1
    assert got["hot"]["total_tokens"] == 5 + 6
    assert got["hot"]["mean_tokens"] == _pt.approx(5.5, abs=0.01)
    assert got["cold"]["n_docs"] == 1
    assert got[None]["n_docs"] == 1
    assert sum(v["doc_share"] for v in got.values()) == _pt.approx(1.0)

    with _pt.raises(ValueError, match="needs a 'source' column"):
        source_stats(df.drop("source"))


def test_corpus_stats_legacy_size_of_null(spark):
    """r5 advice: under spark.sql.legacy.sizeOfNull=true, size(NULL) is
    -1 — corpus_stats must still honor the 'NULL docs count in
    n_docs/n_null_text and nothing else' contract (no -1 leaking into
    totals, means, or percentiles)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        corpus_stats,
    )

    rows = [
        (1, "the cat and the dog"),
        (2, None),
        (3, "qq zz vv"),
    ]
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try:
        r = corpus_stats(_df(spark, rows)).first()
    finally:
        spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
    assert r["n_docs"] == 3
    assert r["n_null_text"] == 1
    assert r["total_tokens"] == 5 + 3
    assert r["mean_tokens"] == pytest.approx((5 + 3) / 2, abs=0.01)
    assert r["p50_tokens"] == 4.0  # median of {5, 3}, never of {-1,5,3}
    assert r["mean_stopword_ratio"] is not None
    # ratios stay in [0,1] — the -1/-1 == 1.0 legacy artifact would
    # still be in range, so pin the exact guarded value: doc1 has 3
    # stopword tokens ('the' ×2 + 'and') of 5, doc3 has 0 of 3
    assert r["mean_stopword_ratio"] == pytest.approx(
        (3 / 5 + 0 / 3) / 2, abs=2e-6
    )


def test_rejection_reasons_for_composite_gates(spark):
    """VERDICT r7 #4: the rejection audit attributes the RULE that
    fired, not just the stage — (doc_id, stage, reason) for planted
    violations of four distinct gopher rules (spanning both the cheap
    per-row layer and the repetition layer) and two distinct
    quality-gate rules; single-rule stages keep a NULL reason, and the
    reason frames derive from the same expressions that drop the rows
    so they cannot disagree with the funnel."""
    from pyspark.sql import functions as F

    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
        rejection_log,
    )

    long_words = (
        "extraordinarily magnificently unquestionably incomprehensibly "
        "characteristically overwhelmingly extraordinarily the"
    )
    rows = [
        (1, GOOD),                                      # survivor
        (2, "one two three"),                           # gopher: min_words
        (3, long_words),                                # gopher: max_mean_word_len
        (4, "zebra quokka wombat lemur gecko panda otter ferret"),
                                                        # gopher: min_stopword_hits
        (5, "the cat sat on the mat\n" * 3
            + "something else entirely here now"),      # gopher: max_dup_line_ratio
        (6, "hi"),                                      # quality: min_tokens
        (7, "el gato y el perro viven en la casa de la madre con una "
            "mesa y una silla"),                        # quality: lang_allow
    ]
    frames, reasons = {}, {}
    out = curate_corpus(
        _df(spark, rows),
        stage_frames=frames,
        reason_frames=reasons,
        # "und": the short/no-stopword planted docs have no language
        # markers — they must REACH the gopher stage, not die at lang
        lang_allow=("en", "und"),
        min_tokens=2, min_alpha_ratio=0.0, max_dup_2gram_ratio=1.0,
        gopher_rules={
            "min_words": 5, "min_mean_word_len": 1.0,
            "max_mean_word_len": 12.0, "min_alpha_word_ratio": 0.2,
            "min_stopword_hits": 1, "max_dup_line_ratio": 0.4,
        },
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1]
    got = {
        r["doc_id"]: (r["stage"], r["reason"])
        for r in rejection_log(frames, reason_frames=reasons).collect()
    }
    assert got == {
        2: ("gopher", "min_words"),
        3: ("gopher", "max_mean_word_len"),
        4: ("gopher", "min_stopword_hits"),
        5: ("gopher", "max_dup_line_ratio"),
        6: ("quality_gates", "min_tokens"),
        7: ("quality_gates", "lang_allow"),
    }

    # without reason_frames the log keeps its historical 2-col schema
    legacy = rejection_log(frames)
    assert legacy.columns == ["doc_id", "stage"]

    # a stage WITHOUT a reason frame gets a NULL reason: plant an
    # exact duplicate so exact_dedup (single-rule) drops it
    frames2, reasons2 = {}, {}
    curate_corpus(
        _df(spark, [(1, GOOD), (2, GOOD), (3, "hi")]),
        stage_frames=frames2, reason_frames=reasons2,
        min_tokens=2, min_alpha_ratio=0.0, max_dup_2gram_ratio=1.0,
    )
    got2 = {
        r["doc_id"]: (r["stage"], r["reason"])
        for r in rejection_log(
            frames2, reason_frames=reasons2
        ).collect()
    }
    assert got2 == {
        2: ("exact_dedup", None),
        3: ("quality_gates", "min_tokens"),
    }

    # reason_frames without stage_frames is rejected up front
    with pytest.raises(ValueError, match="stage_frames"):
        curate_corpus(_df(spark, rows), reason_frames={})

    # NULL text is attributed explicitly, not left unexplained
    frames3, reasons3 = {}, {}
    curate_corpus(
        spark.createDataFrame(
            [(1, GOOD), (2, None)], "doc_id long, text string"
        ),
        stage_frames=frames3, reason_frames=reasons3,
        min_tokens=2, min_alpha_ratio=0.0, max_dup_2gram_ratio=1.0,
    )
    got3 = {
        r["doc_id"]: (r["stage"], r["reason"])
        for r in rejection_log(
            frames3, reason_frames=reasons3
        ).collect()
    }
    assert got3 == {2: ("quality_gates", "null_text")}


def test_rejection_log_max_per_stage(spark):
    """VERDICT r7 #8b: rejection_log(max_per_stage=) bounds the audit
    per stage with the DETERMINISTIC lowest-id subset (replay-stable),
    composes with reasons, validates its argument, and leaves the
    funnel totals untouched."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
        rejection_log,
        stage_counts,
    )

    # five DISTINCT quality-gate rejects (too short — distinct text so
    # exact_dedup doesn't claim them first) + one survivor
    rows = [(i, f"hi {i}") for i in range(1, 6)] + [(9, GOOD)]
    frames, reasons = {}, {}
    curate_corpus(
        _df(spark, rows),
        stage_frames=frames, reason_frames=reasons,
        min_tokens=3, min_alpha_ratio=0.0, max_dup_2gram_ratio=1.0,
    )
    capped = rejection_log(
        frames, reason_frames=reasons, max_per_stage=2
    ).collect()
    assert sorted((r["doc_id"], r["stage"], r["reason"]) for r in capped) \
        == [(1, "quality_gates", "min_tokens"),
            (2, "quality_gates", "min_tokens")]
    # second evaluation picks the SAME rows (deterministic, not limit's
    # arbitrary-N)
    again = rejection_log(frames, max_per_stage=2).collect()
    assert sorted(r["doc_id"] for r in again) == [1, 2]
    # the funnel keeps exact totals regardless of the audit cap
    assert stage_counts(frames)["quality_gates"] == 1

    with pytest.raises(ValueError, match="max_per_stage"):
        rejection_log(frames, max_per_stage=0)


def test_rejection_reason_unattributed_fallback(spark):
    """A document dropped by a NULL-evaluated comparison on NON-null
    text (empty string: alpha_ratio = 0/0 = NULL kills the gate while
    no fail-condition is TRUE) is attributed "unattributed", not left
    with a NULL reason that would read as 'single-rule stage'."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
        rejection_log,
    )

    frames, reasons = {}, {}
    curate_corpus(
        _df(spark, [(1, GOOD), (2, "")]),
        stage_frames=frames, reason_frames=reasons,
        min_tokens=0, min_alpha_ratio=0.5, max_dup_2gram_ratio=1.0,
    )
    got = {
        r["doc_id"]: (r["stage"], r["reason"])
        for r in rejection_log(frames, reason_frames=reasons).collect()
    }
    assert got == {2: ("quality_gates", "unattributed")}


def test_cli_rejection_flag_validation(spark, tmp_path):
    """--rejections-cap fails fast with a clean SystemExit on both an
    invalid value and a cap without an audit — before any run/stream
    work happens (review finding: it used to surface as a ValueError
    deep inside the run)."""
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "pool.parquet")
    _df(spark, [(1, GOOD)]).write.parquet(src)
    base = ["curate", "--input", src,
            "--output", str(tmp_path / "out"), "--min-tokens", "1"]
    with pytest.raises(SystemExit, match="rejections-cap must be"):
        main(base + ["--rejections", str(tmp_path / "rej"),
                     "--rejections-cap", "0"])
    with pytest.raises(SystemExit, match="needs --rejections"):
        main(base + ["--rejections-cap", "5"])
    # the stream verb validates up front too (before the stream starts)
    with pytest.raises(SystemExit, match="rejections-cap must be"):
        main(["curate-stream", "--src", src,
              "--corpus", str(tmp_path / "c"),
              "--bands", str(tmp_path / "b"),
              "--hashes", str(tmp_path / "h"),
              "--checkpoint", str(tmp_path / "ck"), "--min-tokens", "1",
              "--rejections", str(tmp_path / "rej"),
              "--rejections-cap", "-3"])
    # sibling flag, same contract (r9 ADVICE): an opt-out the run would
    # silently ignore is rejected up front
    with pytest.raises(SystemExit, match="needs --rejections"):
        main(base + ["--no-rejection-reasons"])
    with pytest.raises(SystemExit, match="applies to curate only"):
        main(["curate-stream", "--src", src,
              "--corpus", str(tmp_path / "c"),
              "--bands", str(tmp_path / "b"),
              "--hashes", str(tmp_path / "h"),
              "--checkpoint", str(tmp_path / "ck"), "--min-tokens", "1",
              "--rejections", str(tmp_path / "rej"),
              "--no-rejection-reasons"])


def test_cli_no_rejection_reasons_keeps_cheap_schema(spark, tmp_path):
    """--no-rejection-reasons opts out of reason attribution: the
    audit reverts to (doc_id, stage) and no composite-gate feature
    plan is re-executed at audit-write time."""
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "pool.parquet")
    _df(spark, [(1, GOOD), (2, "too short")]).write.parquet(src)
    rej = str(tmp_path / "rej")
    assert main([
        "curate", "--input", src, "--output", str(tmp_path / "out"),
        "--min-tokens", "5", "--rejections", rej,
        "--no-rejection-reasons",
    ]) == 0
    audit = spark.read.parquet(rej)
    assert audit.columns == ["doc_id", "stage"]
    assert [(r["doc_id"], r["stage"]) for r in audit.collect()] == [
        (2, "quality_gates")
    ]


def test_feature_appenders_replace_colliding_columns(spark):
    """r10 ADVICE: the fused-projection rewrite ended with
    ``select(*in_cols, <features>)`` — an input column already named
    like an output feature produced DUPLICATE column names (the old
    ``withColumns`` replaced in place), and a pre-existing scratch
    column (``__qf_toks``/``__gq_toks``) was silently clobbered. Pin
    the replace semantics: colliding inputs are replaced with the
    computed feature, scratch names never leak or clobber, and no
    duplicate names appear."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        quality_features,
    )

    base = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog", 999, "keepme")],
        "doc_id long, text string, n_tokens long, __qf_toks string",
    )
    out = quality_features(base)
    assert len(out.columns) == len(set(out.columns)), out.columns
    row = out.collect()[0]
    assert row["n_tokens"] == 8          # computed, not the stale 999
    assert row["__qf_toks"] == "keepme"  # input scratch-named col intact

    base2 = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog here now", 123.0)],
        "doc_id long, text string, n_words double",
    )
    out2 = gopher_quality_features(base2)
    assert len(out2.columns) == len(set(out2.columns)), out2.columns
    assert out2.collect()[0]["n_words"] == 10
