"""Bigram-LM perplexity scoring/filtering (the CCNet-style quality
signal): exact parity with a pure-Python reference, ranking sanity
(in-distribution text scores better than scrambled text), short-doc
NULL semantics, the stamp contract, and count mergeability."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
    LM_PARAMS_COL,
    bigram_lm_tables,
    lm_perplexity,
    perplexity_filter,
)

TRAIN = [
    (100, "the cat sat on the mat"),
    (101, "the dog sat on the rug"),
    (102, "a cat and a dog sat together"),
    (103, "the cat and the dog ran home"),
]

DOCS = [
    (1, "the cat sat on the rug"),        # fluent, in-distribution
    (2, "rug the on sat cat the"),        # same tokens, scrambled
    (3, "zz qq vv ww pp"),                # out-of-vocabulary junk
    (4, "single"),                        # 1 token -> unscored
    (5, None),                            # NULL -> unscored
]


def _toks(t):
    if t is None:
        return []
    return re.sub(r"\s+", " ", t.strip().lower()).split(" ")


def _py_lm(train, docs, k=0.1, lam=0.7):
    pair, prev, tok = Counter(), Counter(), Counter()
    for _, t in train:
        ts = _toks(t)
        tok.update(ts)
        for a, b in zip(ts, ts[1:]):
            pair[(a, b)] += 1
            prev[a] += 1
    V, N = len(tok), sum(tok.values())
    out = {}
    for i, t in docs:
        ts = _toks(t)
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            out[i] = (None, None)
            continue
        lp = sum(
            math.log(
                lam * (pair[bg] + k) / (prev[bg[0]] + k * V)
                + (1.0 - lam) * (tok[bg[1]] + k) / (N + k * V)
            )
            for bg in bgs
        ) / len(bgs)
        out[i] = (lp, math.exp(-lp))
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def model(spark):
    return bigram_lm_tables(_df(spark, TRAIN))


def test_matches_python_reference(spark, model):
    got = {
        r["doc_id"]: (r["avg_logp"], r["perplexity"])
        for r in lm_perplexity(_df(spark, DOCS), *model).collect()
    }
    want = _py_lm(TRAIN, DOCS)
    assert got.keys() == want.keys()
    for i in want:
        if want[i][0] is None:
            assert got[i] == (None, None)
        else:
            assert got[i][0] == pytest.approx(want[i][0], abs=1e-9)
            assert got[i][1] == pytest.approx(want[i][1], rel=1e-9)


def test_ranking_fluent_beats_scrambled_beats_junk(spark, model):
    ppl = {
        r["doc_id"]: r["perplexity"]
        for r in lm_perplexity(_df(spark, DOCS), *model).collect()
    }
    assert ppl[1] < ppl[2] < ppl[3]


def test_filter_keeps_low_perplexity_head(spark, model):
    ppl = _py_lm(TRAIN, DOCS)
    cut = (ppl[1][1] + ppl[2][1]) / 2  # between fluent and scrambled
    kept = sorted(
        r["doc_id"]
        for r in perplexity_filter(_df(spark, DOCS), *model, cut).collect()
    )
    assert kept == [1]
    with_null = sorted(
        r["doc_id"]
        for r in perplexity_filter(
            _df(spark, DOCS), *model, cut, keep_unscored=True
        ).collect()
    )
    assert with_null == [1, 4, 5]
    # schema preserved
    out = perplexity_filter(_df(spark, DOCS), *model, cut)
    assert out.columns == ["doc_id", "text"]


def test_stamp_mismatch_raises(spark, model):
    bigrams, unigrams = model
    stale = bigrams.withColumn(LM_PARAMS_COL, F.lit("bigram-lm/v0"))
    with pytest.raises(ValueError, match="retrain"):
        lm_perplexity(_df(spark, DOCS), stale, unigrams)


def test_counts_merge_across_batches(spark):
    """Pair/context counts from disjoint batches sum to the full-train
    counts (the incremental-maintenance property)."""
    full_bg, _ = bigram_lm_tables(_df(spark, TRAIN))
    a_bg, _ = bigram_lm_tables(_df(spark, TRAIN[:2]))
    b_bg, _ = bigram_lm_tables(_df(spark, TRAIN[2:]))
    merged = (
        a_bg.drop(LM_PARAMS_COL)
        .unionByName(b_bg.drop(LM_PARAMS_COL))
        .groupBy("prev_hash", "w_hash")
        .agg(F.sum("n_pair").alias("n_pair"))
    )
    want = {
        (r["prev_hash"], r["w_hash"]): r["n_pair"]
        for r in full_bg.collect()
    }
    got = {
        (r["prev_hash"], r["w_hash"]): r["n_pair"]
        for r in merged.collect()
    }
    assert got == want


def test_curate_corpus_perplexity_gate(spark, model):
    """curate_corpus(lm_model=..., max_perplexity=...) drops the
    out-of-distribution document before near-dup; half-configuration
    raises."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    docs = _df(spark, [
        (1, "the cat sat on the rug and the dog sat on the mat"),
        (2, "zz qq vv ww pp rr ss tt uu yy"),
    ])
    ppl = {
        r["doc_id"]: r["perplexity"]
        for r in lm_perplexity(docs, *model).collect()
    }
    cut = (ppl[1] + ppl[2]) / 2
    kept = sorted(
        r["doc_id"]
        for r in curate_corpus(
            docs, min_tokens=5, lm_model=model, max_perplexity=cut
        ).collect()
    )
    assert kept == [1]
    with pytest.raises(ValueError, match="together"):
        curate_corpus(docs, lm_model=model)


def test_merged_shard_models_score_identically(spark):
    """merge_bigram_lm_tables over per-shard models reproduces the
    full-train model exactly (pair/token counts sum; vocab and total
    recomputed over the merged token table)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        merge_bigram_lm_tables,
    )

    full = bigram_lm_tables(_df(spark, TRAIN))
    merged = merge_bigram_lm_tables(
        bigram_lm_tables(_df(spark, TRAIN[:1])),
        bigram_lm_tables(_df(spark, TRAIN[1:3])),
        bigram_lm_tables(_df(spark, TRAIN[3:])),
    )
    want = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, DOCS), *full).collect()
    }
    got = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, DOCS), *merged).collect()
    }
    assert got.keys() == want.keys()
    for i in want:
        if want[i] is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(want[i], abs=1e-12)


def test_cli_lm_train_and_curate_gate(spark, tmp_path, capsys):
    """lm-train persists the model tables; the curate verb consumes
    them as the perplexity gate."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark import compat
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    ref_path = str(tmp_path / "ref")
    _df(spark, TRAIN).write.parquet(ref_path)
    bg_path = str(tmp_path / "bg")
    uni_path = str(tmp_path / "uni")
    blocks_before = compat.persistent_rdd_ids(spark)
    rc = main([
        "lm-train", "--input", ref_path,
        "--lm-bigrams", bg_path, "--lm-unigrams", uni_path,
    ])
    assert rc == 0
    # the verb frees its own pair-count checkpoint
    assert compat.persistent_rdd_ids(spark) == blocks_before
    counts = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["bigrams"] > 0 and counts["unigrams"] > 0

    docs = _df(spark, [
        (1, "the cat sat on the rug and the dog sat on the mat"),
        (2, "zz qq vv ww pp rr ss tt uu yy"),
    ])
    docs_path = str(tmp_path / "docs")
    docs.write.parquet(docs_path)
    ppl = {
        r["doc_id"]: r["perplexity"]
        for r in lm_perplexity(
            docs,
            spark.read.parquet(bg_path),
            spark.read.parquet(uni_path),
        ).collect()
    }
    cut = (ppl[1] + ppl[2]) / 2
    out_path = str(tmp_path / "curated")
    rc = main([
        "curate", "--input", docs_path, "--output", out_path,
        "--min-tokens", "5",
        "--lm-bigrams", bg_path, "--lm-unigrams", uni_path,
        "--max-perplexity", str(cut),
    ])
    assert rc == 0
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out_path).collect()
    )
    assert kept == [1]


# ------------------------------------------------------------- pruning


def _py_lm_pruned(train, docs, min_count=2, k=0.1, lam=0.7):
    """Reference for the pruned model: V and N stay the FULL training
    vocabulary/total (the smoothing support is preserved), but counts of
    tokens below min_count — and of pairs touching them — read as 0
    (the scoring joins miss)."""
    pair, prev, tok = Counter(), Counter(), Counter()
    for _, t in train:
        ts = _toks(t)
        tok.update(ts)
        for a, b in zip(ts, ts[1:]):
            pair[(a, b)] += 1
            prev[a] += 1
    V, N = len(tok), sum(tok.values())
    kept = {t for t, c in tok.items() if c >= min_count}
    out = {}
    for i, t in docs:
        ts = _toks(t)
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            out[i] = None
            continue
        lp = 0.0
        for a, b in bgs:
            c_pair = pair[(a, b)] if (a in kept and b in kept) else 0
            c_prev = prev[a] if a in kept else 0
            c_tok = tok[b] if b in kept else 0
            lp += math.log(
                lam * (c_pair + k) / (c_prev + k * V)
                + (1.0 - lam) * (c_tok + k) / (N + k * V)
            )
        out[i] = lp / len(bgs)
    return out


def test_pruned_model_matches_python_reference(spark):
    """min_count pruning (r9 verdict #3): OOV mass flows through the
    existing backoff floors — the pruned model's scores match a pure-
    Python reference exactly, docs made of kept tokens score
    BIT-IDENTICAL to the unpruned model, and the quality ranking
    (fluent < scrambled < junk) survives pruning."""
    full = bigram_lm_tables(_df(spark, TRAIN))
    pruned = bigram_lm_tables(_df(spark, TRAIN), min_count=2)

    # the hapax tail is really gone, V/N really preserved
    uni_full = full[1].collect()
    uni_pruned = pruned[1].collect()
    assert len(uni_pruned) < len(uni_full)
    assert all(r["n_tok"] >= 2 for r in uni_pruned)
    assert uni_pruned[0]["__vocab"] == uni_full[0]["__vocab"]
    assert uni_pruned[0]["__total"] == uni_full[0]["__total"]

    docs = DOCS + [(6, "the cat sat on the dog")]  # all-kept tokens
    got = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, docs), *pruned).collect()
    }
    want = _py_lm_pruned(TRAIN, docs, min_count=2)
    for i in want:
        if want[i] is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(want[i], abs=1e-9)

    # all-kept-token doc: bit-identical to the unpruned model
    full_scores = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, docs), *full).collect()
    }
    assert got[6] == pytest.approx(full_scores[6], abs=1e-12)

    ppl = {i: math.exp(-v) for i, v in got.items() if v is not None}
    assert ppl[1] < ppl[2] < ppl[3]


def test_top_k_vocab_cap_bounds_model(spark):
    """top_k_vocab keeps exactly the k most frequent tokens
    (deterministic tie-break on tok_hash) and prunes bigrams to pairs
    inside the cap."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        prune_bigram_lm,
    )

    full_bg, full_uni = bigram_lm_tables(_df(spark, TRAIN))
    bg, uni = prune_bigram_lm(
        full_bg, full_uni, min_count=1, top_k_vocab=3
    )
    rows = uni.collect()
    assert len(rows) == 3
    kept_hashes = {r["tok_hash"] for r in rows}
    # the 3 most frequent by (n_tok desc, tok_hash asc)
    ranked = sorted(
        full_uni.collect(), key=lambda r: (-r["n_tok"], r["tok_hash"])
    )
    assert kept_hashes == {r["tok_hash"] for r in ranked[:3]}
    for r in bg.collect():
        assert r["prev_hash"] in kept_hashes
        assert r["w_hash"] in kept_hashes
    # stamps survive pruning — scoring still validates
    out = lm_perplexity(_df(spark, DOCS), bg, uni).collect()
    assert len(out) == len(DOCS)


def test_prune_after_merge_equals_prune_of_full(spark):
    """The documented order (merge shards, THEN prune) reproduces
    pruning of the full-train model exactly."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        merge_bigram_lm_tables,
        prune_bigram_lm,
    )

    full = bigram_lm_tables(_df(spark, TRAIN), min_count=2)
    merged = prune_bigram_lm(
        *merge_bigram_lm_tables(
            bigram_lm_tables(_df(spark, TRAIN[:2])),
            bigram_lm_tables(_df(spark, TRAIN[2:])),
        ),
        min_count=2,
    )
    want = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, DOCS), *full).collect()
    }
    got = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(_df(spark, DOCS), *merged).collect()
    }
    assert got.keys() == want.keys()
    for i in want:
        if want[i] is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(want[i], abs=1e-12)


def test_dsir_accepts_pruned_models(spark):
    """dsir_log_weights over pruned target/raw models: stamps validate,
    target-like text still outweighs junk."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        dsir_log_weights,
    )

    target = bigram_lm_tables(_df(spark, TRAIN), min_count=2)
    raw = bigram_lm_tables(_df(spark, TRAIN + RAW_EXTRA), min_count=2)
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(_df(spark, DOCS), target, raw).collect()
    }
    assert got[1] > got[3]


# ---------------------------------------------------------------- DSIR

RAW_EXTRA = [
    (200, "zz qq vv ww pp zz qq vv"),
    (201, "qq pp ww zz vv pp qq ww"),
    (202, "lorem ipsum dolor sit amet zz"),
]


@pytest.fixture(scope="module")
def dsir_models(spark):
    """Target LM = the fluent TRAIN corpus; raw LM = TRAIN + junk."""
    target = bigram_lm_tables(_df(spark, TRAIN))
    raw = bigram_lm_tables(_df(spark, TRAIN + RAW_EXTRA))
    return target, raw


def test_dsir_weights_match_perplexity_reconstruction(spark, dsir_models):
    """log_weight == (avg_logp_target − avg_logp_raw) × (n_tokens − 1),
    reconstructed from lm_perplexity's own (python-verified) outputs;
    unscorable docs get NULL."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        dsir_log_weights,
    )

    docs = _df(spark, DOCS)
    target, raw = dsir_models
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(docs, target, raw).collect()
    }
    t_avg = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(docs, *target).collect()
    }
    r_avg = {
        r["doc_id"]: r["avg_logp"]
        for r in lm_perplexity(docs, *raw).collect()
    }
    for i, t in DOCS:
        n_pos = len(_toks(t)) - 1
        if n_pos < 1:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(
                (t_avg[i] - r_avg[i]) * n_pos, abs=1e-5
            )
    # target-like text must outweigh junk the raw pool contains
    assert got[1] > got[3]


def test_dsir_resample_determinism_and_temperature(spark, dsir_models):
    """Same seed → same sample; near-zero temperature → hard top-n by
    weight; NULL-weight docs never selected; schema preserved."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        dsir_log_weights,
        dsir_resample,
    )

    target, raw = dsir_models
    docs = _df(spark, DOCS)
    s1 = dsir_resample(docs, target, raw, n=2, seed=7)
    s2 = dsir_resample(docs, target, raw, n=2, seed=7)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2
    assert len(ids1) == 2
    assert s1.columns == docs.columns
    assert 4 not in ids1 and 5 not in ids1  # unscorable excluded

    # t → 0: selection is exactly the top-2 by log_weight
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(docs, target, raw).collect()
        if r["log_weight"] is not None
    }
    top2 = sorted(sorted(w, key=lambda i: (-w[i], i))[:2])
    hard = sorted(
        r["doc_id"]
        for r in dsir_resample(
            docs, target, raw, n=2, seed=7, temperature=1e-6
        ).collect()
    )
    assert hard == top2

    with pytest.raises(ValueError, match="temperature"):
        dsir_resample(docs, target, raw, n=2, temperature=0.0)


def test_dsir_reserved_column_raises(spark, dsir_models):
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        dsir_log_weights,
    )

    target, raw = dsir_models
    docs = _df(spark, DOCS).withColumn("log_weight", F.lit(1.0))
    with pytest.raises(ValueError, match="log_weight"):
        dsir_log_weights(docs, target, raw)


def test_curate_corpus_dsir_budget_selection(spark, dsir_models):
    """curate_corpus's final DSIR stage selects the top-n most
    target-like survivors (near-argmax at tiny temperature); half a
    configuration raises."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    target, raw = dsir_models
    # pool: target-like docs + junk, all long enough to pass the gates
    pool = _df(spark, [
        (1, "the cat sat on the mat and the dog sat on the rug"),
        (2, "the dog sat on the rug and the cat ran home today"),
        (3, "zz qq vv ww pp zz qq vv ww pp zz qq"),
        (4, "qq pp ww zz vv pp qq ww zz vv pp qq"),
    ])
    out = curate_corpus(
        pool,
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
        dsir_target_model=target,
        dsir_raw_model=raw,
        dsir_top_n=2,
        dsir_temperature=1e-6,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    assert out.columns == pool.columns

    with pytest.raises(ValueError, match="dsir"):
        curate_corpus(pool, dsir_top_n=2)

    # raw model defaults to one trained on the input pool itself
    auto = curate_corpus(
        pool,
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
        dsir_target_model=target,
        dsir_top_n=2,
        dsir_temperature=1e-6,
    )
    assert sorted(r["doc_id"] for r in auto.collect()) == [1, 2]


def test_cli_curate_dsir(spark, tmp_path, capsys):
    """End-to-end: lm-train the target model, then curate with the DSIR
    flags selects the budgeted subset."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    target_path = str(tmp_path / "target.parquet")
    _df(spark, TRAIN).write.parquet(target_path)
    bg, uni = str(tmp_path / "bg"), str(tmp_path / "uni")
    assert main([
        "lm-train", "--input", target_path,
        "--lm-bigrams", bg, "--lm-unigrams", uni,
    ]) == 0
    capsys.readouterr()

    pool_path = str(tmp_path / "pool.parquet")
    _df(spark, [
        (1, "the cat sat on the mat and the dog sat on the rug"),
        (2, "the dog sat on the rug and the cat ran home today"),
        (3, "zz qq vv ww pp zz qq vv ww pp zz qq"),
    ]).write.parquet(pool_path)
    out_path = str(tmp_path / "curated")
    assert main([
        "curate", "--input", pool_path, "--output", out_path,
        "--min-tokens", "5",
        "--dsir-bigrams", bg, "--dsir-unigrams", uni,
        "--dsir-top-n", "1", "--dsir-temperature", "1e-6",
    ]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["kept"] == 1
    kept = spark.read.parquet(out_path).collect()
    assert len(kept) == 1 and kept[0]["doc_id"] in (1, 2)


@pytest.mark.parametrize("path,pinned", [
    ("q_lm_perplexity", 2),
    ("q_lm_perplexity_pruned", 2),
    ("q_dsir_log_weights_pruned", 4),
])
def test_registry_lm_training_frees_its_pair_count_cut(
    spark, sf_dir, path, pinned
):
    """The LM/DSIR registry paths train inside a cut scope: after
    building and sinking, only the eagerly pinned model tables stay
    held, not the training's internal pair-count cut."""
    from datawarehouse_vehicule_insurance_spark import compat
    from datawarehouse_vehicule_insurance_spark import queries as Q

    before = compat.persistent_rdd_ids(spark)
    out = getattr(Q, path)(spark, sf_dir)
    out.write.format("noop").mode("overwrite").save()
    assert len(compat.persistent_rdd_ids(spark) - before) == pinned
    if path == "q_lm_perplexity":
        bigrams, unigrams = Q._AUDIT_LM_MODELS[(sf_dir, 1)]
        assert bigrams.count() > 0 and unigrams.count() > 0
