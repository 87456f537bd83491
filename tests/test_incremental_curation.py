"""Round-5 surface: persisted-index maintenance (parameter fingerprint,
delete, compaction), index-fed incremental dedup, and the streaming
incremental curation loop (availableNow batches vs a growing corpus).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.operators import dedup as D
from datawarehouse_vehicule_insurance_spark.streaming import curation as SC

WORDS = [f"tok{i}" for i in range(60)]
BASE = " ".join(WORDS)


def _near(i: int, repl: str = "CHANGED", base: list[str] | None = None) -> str:
    words = list(base or WORDS)
    words[i] = repl
    return " ".join(words)


def _fresh(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(60))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# band-table parameter fingerprint
# ---------------------------------------------------------------------------

def test_band_table_param_mismatch_raises(spark, tmp_path):
    """A persisted band_table stamps its banding parameters; probing it
    with different k/bands/shingle_n/seed raises instead of silently
    joining meaningless band hashes (r4 advice #3)."""
    corpus = _docs(spark, [(1000, BASE), (1001, _fresh("held"))])
    batch = _docs(spark, [(1, _near(30))])

    idx_path = str(tmp_path / "idx")
    D.band_table(corpus, k=32, bands=8).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    assert D.LSH_PARAMS_COL in idx.columns

    # matching params: validation passes, candidates flow
    ok = D.cross_corpus_lsh_candidates(
        batch, corpus_bands=idx, k=32, bands=8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in ok} == {(1, 1000)}

    # each mismatched parameter raises loudly
    for kwargs in (
        dict(k=64, bands=8),
        dict(k=32, bands=4),
        dict(k=32, bands=8, shingle_n=5),
        dict(k=32, bands=8, seed=99),
    ):
        with pytest.raises(ValueError, match="parameter mismatch"):
            D.cross_corpus_lsh_candidates(batch, corpus_bands=idx, **kwargs)

    # a pre-fingerprint (legacy) index skips validation — old contract
    legacy = idx.drop(D.LSH_PARAMS_COL)
    got = D.cross_corpus_lsh_candidates(
        batch, corpus_bands=legacy, k=32, bands=8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 1000)}


def test_band_table_remove_then_probe(spark):
    """Delete semantics: after removing a retracted document's band rows
    the probe no longer pairs against it, while other corpus docs keep
    matching."""
    corpus = _docs(
        spark, [(1000, BASE), (1001, _fresh("held"))]
    )
    idx = D.band_table(corpus, k=32, bands=8)
    batch = _docs(
        spark,
        [(1, _near(30)),                               # near-dup of 1000
         (2, _near(30, base=_fresh("held").split()))]  # near-dup of 1001
    )

    before = {
        (r["id_a"], r["id_b"])
        for r in D.cross_corpus_lsh_candidates(
            batch, corpus_bands=idx, k=32, bands=8
        ).collect()
    }
    assert before == {(1, 1000), (2, 1001)}

    retracted = spark.createDataFrame([(1000,)], "doc_id long")
    pruned = D.band_table_remove(idx, retracted)
    assert pruned.filter(F.col("doc_id") == 1000).count() == 0
    after = {
        (r["id_a"], r["id_b"])
        for r in D.cross_corpus_lsh_candidates(
            batch, corpus_bands=pruned, k=32, bands=8
        ).collect()
    }
    assert after == {(2, 1001)}


def test_compact_band_table(spark):
    """Compaction drops duplicate rows from re-ingested appends and
    refuses an index whose appends were stamped with different
    parameters (their band hashes cannot match each other)."""
    corpus = _docs(spark, [(1000, BASE), (1001, _fresh("held"))])
    idx = D.band_table(corpus, k=32, bands=8)
    doubled = idx.union(idx)
    compacted = D.compact_band_table(doubled, num_partitions=4)
    assert compacted.count() == idx.count()
    assert sorted(compacted.columns) == sorted(idx.columns)

    mixed = idx.union(D.band_table(corpus, k=32, bands=8, seed=99))
    with pytest.raises(ValueError, match="mixed LSH parameters"):
        D.compact_band_table(mixed)


# ---------------------------------------------------------------------------
# index-fed incremental dedup
# ---------------------------------------------------------------------------

def test_incremental_dedup_with_persisted_indexes(spark, tmp_path):
    """incremental_dedup fed from persisted band/content-hash indexes
    gives exactly the direct (corpus-recompute) answer, and the corpus
    side pays no signature computation — every _banded_signatures call
    sees only new-batch documents."""
    corpus = _docs(
        spark, [(1000, BASE), (1001, _fresh("held"))]
    )
    batch = _docs(
        spark,
        [
            (1, BASE),           # exact clone of corpus -> drop
            (2, _near(30)),      # near-dup of corpus    -> drop
            (3, _fresh("new")),  # fresh                 -> keep
            (4, _fresh("new")),  # within-batch exact    -> drop
        ],
    )
    idx_path = str(tmp_path / "bands")
    hash_path = str(tmp_path / "hashes")
    D.band_table(corpus).write.parquet(idx_path)
    D.content_hash_table(corpus).write.parquet(hash_path)
    idx = spark.read.parquet(idx_path)
    hashes = spark.read.parquet(hash_path)

    seen_ids: list[set] = []
    real = D._banded_signatures

    def spy(df, text_col, id_col, *a, **kw):
        seen_ids.append(
            {r[0] for r in df.select(id_col).distinct().collect()}
        )
        return real(df, text_col, id_col, *a, **kw)

    try:
        D._banded_signatures = spy
        kept = sorted(
            r["doc_id"]
            for r in D.incremental_dedup(
                batch, corpus, corpus_bands=idx, corpus_hashes=hashes
            ).collect()
        )
    finally:
        D._banded_signatures = real
    assert kept == [3]
    # the probe: signatures were computed, but never over corpus ids
    assert seen_ids, "banding never ran"
    for ids in seen_ids:
        assert ids <= {1, 2, 3, 4}, f"corpus-side recompute: {ids}"


def test_curate_corpus_accepts_persisted_indexes(spark):
    """curate_corpus(existing_corpus=..., existing_bands=...,
    existing_hashes=...) matches the recompute path."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    corpus = _docs(spark, [(1000, BASE)])
    batch = _docs(
        spark,
        [(1, BASE), (2, _near(30)), (3, _fresh("new"))],
    )
    direct = sorted(
        r["doc_id"]
        for r in curate_corpus(batch, existing_corpus=corpus).collect()
    )
    indexed = sorted(
        r["doc_id"]
        for r in curate_corpus(
            batch,
            existing_corpus=corpus,
            existing_bands=D.band_table(corpus),
            existing_hashes=D.content_hash_table(corpus),
        ).collect()
    )
    assert indexed == direct == [3]


# ---------------------------------------------------------------------------
# streaming incremental curation loop
# ---------------------------------------------------------------------------

BETA = _fresh("beta")

BATCH_1 = [
    (1, BASE),            # keep (first seen)
    (2, _fresh("alpha")), # keep
    (3, BASE),            # within-batch exact dup of 1 -> drop
]
BATCH_2 = [
    (11, BASE),           # exact clone of corpus        -> drop
    (12, _near(30)),      # near-dup of corpus BASE      -> drop
    (13, BETA),           # fresh                        -> keep
]
BATCH_3 = [
    (21, _near(5, base=BETA.split())),  # near-dup of batch-2 survivor -> drop
    (22, _fresh("gamma")),              # fresh                        -> keep
    (23, _fresh("alpha")),              # exact clone of batch-1 doc   -> drop
]


def _paths(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "corpus"),
        str(tmp_path / "bands"),
        str(tmp_path / "hashes"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, tmp_path, **kw):
    src, corpus, bands, hashes, ckpt = _paths(tmp_path)
    q = SC.run_incremental_curation(
        spark, src, corpus, bands, hashes, ckpt, **kw
    )
    q.awaitTermination()


def _corpus_ids(spark, tmp_path):
    df = SC.read_corpus(spark, _paths(tmp_path)[1])
    return sorted(r["doc_id"] for r in df.collect()) if df is not None else []


@pytest.mark.slow
def test_streaming_incremental_curation_grows_corpus(spark, tmp_path):
    """The recurring-crawl loop: three planted batches arrive across
    three availableNow runs sharing one checkpoint. Each batch is
    deduped against the corpus grown so far (exact clones and
    near-duplicates die, fresh docs survive); the persisted band/hash
    indexes track the corpus exactly; a no-new-files run is a no-op;
    and the final corpus equals the batch-mode oracle (chained
    curate_batch_incremental calls)."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    b1 = _docs(spark, BATCH_1)
    b2 = _docs(spark, BATCH_2)
    b3 = _docs(spark, BATCH_3)

    b1.coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    # stop/append/restart: only the new file is processed
    b2.coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]

    b3.coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22]

    # the indexes track the corpus exactly, fingerprint stamped
    idx = spark.read.parquet(bands_path)
    assert D.LSH_PARAMS_COL in idx.columns
    assert sorted(
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 13, 22]
    hashes = spark.read.parquet(hashes_path)
    assert sorted(r["doc_id"] for r in hashes.select("doc_id").collect()) \
        == [1, 2, 13, 22]

    # nothing new -> nothing changes
    _run(spark, tmp_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22]

    # batch-mode oracle: the same three batches chained through
    # curate_batch_incremental give the same corpus
    acc = None
    for b in (b1, b2, b3):
        surv = SC.curate_batch_incremental(
            b, acc,
            None if acc is None else D.band_table(acc),
            None if acc is None else D.content_hash_table(acc),
        )
        acc = surv if acc is None else acc.unionByName(surv)
    oracle = sorted(r["doc_id"] for r in acc.collect())
    assert oracle == [1, 2, 13, 22]


@pytest.mark.slow
def test_loop_per_batch_stage_funnel(spark, tmp_path, capsys):
    """on_batch_stats receives each batch's exact per-stage survivor
    funnel (the loop's existing stage cuts double as the boundaries):
    batch 1 loses its within-batch exact dup, batch 2 loses a
    within-batch near-dup and then its corpus clone at the incremental
    boundary. The CLI surface (`curate-stream --stage-counts`) prints
    one JSON line per batch with the same payload."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    got: dict[int, dict] = {}

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, on_batch_stats=lambda b, st: got.update({b: st}))
    # no transform -> no separate received boundary (it would be a
    # duplicate cut of the identical raw batch)
    assert got == {0: {"input": 3, "exact_dedup": 2, "near_dup": 2}}

    got.clear()
    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, on_batch_stats=lambda b, st: got.update({b: st}))
    # 12 is a within-batch near-dup of 11; 11 then dies as an exact
    # corpus clone at the incremental boundary
    assert got == {1: {
        "input": 3, "exact_dedup": 3, "near_dup": 2,
        "incremental_dedup": 1,
    }}
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]

    # CLI: batch 3 through the curate-stream verb with --stage-counts
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    _docs(spark, BATCH_3).coalesce(1).write.mode("append").parquet(src)
    assert main([
        "curate-stream", "--src", src, "--corpus", corpus_path,
        "--bands", bands_path, "--hashes", hashes_path,
        "--checkpoint", ckpt, "--stage-counts",
    ]) == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    batch_lines = [ln for ln in lines if "batch" in ln]
    # 21 near-dups corpus doc 13, 23 exactly clones corpus doc 2 —
    # both die at the incremental boundary, after surviving the
    # within-batch stages
    assert batch_lines == [{"batch": 2, "stages": {
        "received": 3, "input": 3, "exact_dedup": 3, "near_dup": 3,
        "incremental_dedup": 1,
    }}]
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22]

    # the received->input gap is the CLI transform's quality-gate
    # rejections: a batch with one too-short doc reports it in no
    # later stage but visibly at the first boundary
    _docs(spark, [(31, "tiny doc"), (32, _fresh("delta"))]).coalesce(
        1).write.mode("append").parquet(src)
    assert main([
        "curate-stream", "--src", src, "--corpus", corpus_path,
        "--bands", bands_path, "--hashes", hashes_path,
        "--checkpoint", ckpt, "--stage-counts",
    ]) == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert [ln for ln in lines if "batch" in ln] == [
        {"batch": 3, "stages": {
            "received": 2, "input": 1, "exact_dedup": 1, "near_dup": 1,
            "incremental_dedup": 1,
        }}
    ]
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22, 32]

    # with line dedup on, a re-submission of stored corpus content is
    # attributed to the dedicated corpus_exact boundary (curate_corpus
    # parity), not folded into line_dedup; rejections_path appends the
    # per-document audit under the batch's partition
    got.clear()
    rej_path = str(tmp_path / "rej")
    _docs(spark, [(41, BASE), (42, _fresh("eps"))]).coalesce(
        1).write.mode("append").parquet(src)
    _run(spark, tmp_path, line_dedup_min_freq=2,
         line_counts_path=str(tmp_path / "lc"),
         on_batch_stats=lambda b, st: got.update({b: st}),
         rejections_path=rej_path)
    assert got == {4: {
        "input": 2, "exact_dedup": 2, "corpus_exact": 1,
        "line_dedup": 1, "near_dup": 1, "incremental_dedup": 1,
    }}
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22, 32, 42]
    rej = spark.read.parquet(rej_path)
    assert [(r["doc_id"], r["stage"], r[SC.BATCH_COL])
            for r in rej.collect()] == [(41, "corpus_exact", 4)]

    # a clean batch (nothing dropped) writes NO audit partition — a
    # zero-row partitioned write would otherwise leave an unreadable
    # husk directory; and a run that never rejects never creates the
    # directory at all
    got.clear()
    _docs(spark, [(51, _fresh("zeta"))]).coalesce(1).write.mode(
        "append").parquet(src)
    _run(spark, tmp_path, rejections_path=rej_path,
         on_batch_stats=lambda b, st: got.update({b: st}))
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22, 32, 42, 51]
    assert [(r["doc_id"], r["stage"], r[SC.BATCH_COL])
            for r in spark.read.parquet(rej_path).collect()
            ] == [(41, "corpus_exact", 4)]  # batch 5 added nothing
    fresh_rej = str(tmp_path / "never_rejects")
    _docs(spark, [(61, _fresh("eta"))]).coalesce(1).write.mode(
        "append").parquet(src)
    _run(spark, tmp_path, rejections_path=fresh_rej)
    import os

    assert not os.path.exists(fresh_rej)

    # rejections_cap bounds the per-stage audit per batch with the
    # deterministic lowest-id subset: two corpus re-submissions both
    # die at corpus_exact, the cap of 1 keeps only id 71; the funnel
    # totals stay exact (both drops counted)
    got.clear()
    _docs(spark, [(71, BASE), (72, _fresh("eps")), (73, _fresh("theta"))
                  ]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, line_dedup_min_freq=2,
         line_counts_path=str(tmp_path / "lc"),
         on_batch_stats=lambda b, st: got.update({b: st}),
         rejections_path=rej_path, rejections_cap=1)
    assert _corpus_ids(spark, tmp_path) == [
        1, 2, 13, 22, 32, 42, 51, 61, 73]
    batch7 = got[max(got)]
    assert batch7["input"] == 3 and batch7["corpus_exact"] == 1
    new_rows = [
        (r["doc_id"], r["stage"])
        for r in spark.read.parquet(rej_path).collect()
        if r[SC.BATCH_COL] == max(got)
    ]
    assert new_rows == [(71, "corpus_exact")]  # 72 capped out, 71 = min id


def test_streaming_curation_no_corpus_side_recompute(spark, tmp_path):
    """Job probe for the production contract: once the corpus exists,
    a new batch's run computes MinHash signatures ONLY over new-batch
    documents — the corpus side is served entirely by the persisted
    band table (and the exact stage by the persisted hash table)."""
    src, *_ = _paths(tmp_path)
    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    seen_ids: list[set] = []
    real = D._banded_signatures

    def spy(df, text_col, id_col, *a, **kw):
        seen_ids.append(
            {r[0] for r in df.select(id_col).distinct().collect()}
        )
        return real(df, text_col, id_col, *a, **kw)

    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    try:
        D._banded_signatures = spy
        _run(spark, tmp_path)
    finally:
        D._banded_signatures = real
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]

    batch2_ids = {i for i, _ in BATCH_2}
    survivor_ids = {13}
    assert seen_ids, "banding never ran"
    for ids in seen_ids:
        # batch banding + survivor index append only — never {1, 2}
        assert ids <= batch2_ids | survivor_ids, \
            f"corpus-side recompute: {ids}"


# ---------------------------------------------------------------------------
# streaming incremental embedding ingest (ANN-tier probe loop)
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit_row(base_axis: int, dim: int = 8, eps_axis: int | None = None,
              eps: float = 0.0):
    v = [0.0] * dim
    v[base_axis] = 1.0
    if eps_axis is not None:
        v[eps_axis] = eps
    return v


def test_streaming_embedding_ingest_grows_corpus(spark, tmp_path):
    """Three planted vector batches through the IVF-probe ingest loop:
    near-duplicates of corpus vectors (cosine ~0.999) die against the
    persisted index, fresh directions survive, centroids train exactly
    once (training is poisoned after the first run), and assignments
    track the corpus."""
    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )
    from datawarehouse_vehicule_insurance_spark.streaming import (
        curation as SC,
    )

    src = str(tmp_path / "src")
    corpus_path = str(tmp_path / "corpus")
    cent_path = str(tmp_path / "centroids")
    asg_path = str(tmp_path / "assignments")
    ckpt = str(tmp_path / "ckpt")

    funnels: dict[int, dict] = {}

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, corpus_path, cent_path, asg_path, ckpt,
            neardup_threshold=0.95, n_probe=4, n_cells=4,
            on_batch_stats=lambda b, st: funnels.update({b: st}),
        )
        q.awaitTermination()

    def corpus_ids():
        df = SC._try_read_parquet(spark, corpus_path)
        return sorted(r["vec_id"] for r in df.collect()) if df is not None \
            else []

    b1 = _vecs(spark, [
        (1, _unit_row(0)),                      # keep
        (2, _unit_row(1)),                      # keep
    ])
    b2 = _vecs(spark, [
        (11, _unit_row(0, eps_axis=3, eps=0.02)),  # near-dup of 1 -> drop
        (12, _unit_row(2)),                        # fresh axis    -> keep
    ])
    b3 = _vecs(spark, [
        (21, _unit_row(2, eps_axis=4, eps=0.02)),  # near-dup of 12 -> drop
        (22, _unit_row(3)),                        # fresh axis     -> keep
    ])

    b1.coalesce(1).write.mode("append").parquet(src)
    run()
    assert corpus_ids() == [1, 2]
    assert spark.read.parquet(cent_path).count() > 0
    # per-batch funnel (document-loop contract): batch 1 trains the
    # index, nothing to dedup against yet
    assert funnels == {0: {"received": 2, "id_dedup": 2}}
    funnels.clear()

    real = S._train_ivf

    def _poisoned(*a, **k):
        raise AssertionError("centroids retrained after first batch")

    try:
        S._train_ivf = _poisoned
        b2.coalesce(1).write.mode("append").parquet(src)
        run()
        assert corpus_ids() == [1, 2, 12]
        # 11 dies against the persisted IVF index
        assert funnels == {1: {
            "received": 2, "id_dedup": 2, "ivf_neardup": 1,
        }}
        funnels.clear()
        b3.coalesce(1).write.mode("append").parquet(src)
        run()
        assert corpus_ids() == [1, 2, 12, 22]
        run()  # nothing new -> no-op
        assert corpus_ids() == [1, 2, 12, 22]
    finally:
        S._train_ivf = real

    asg = spark.read.parquet(asg_path)
    assert sorted(r["vec_id"] for r in asg.collect()) == [1, 2, 12, 22]
    assert S.ANN_PARAMS_COL in asg.columns


# ---------------------------------------------------------------------------
# CLI verbs
# ---------------------------------------------------------------------------

def test_cli_curate_stream_and_index_maintain(spark, tmp_path, capsys):
    """curate-stream runs the availableNow loop end-to-end (gates + vs-
    corpus dedup, only new files per run); index-maintain rewrites the
    band table (retraction + compaction)."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    hashes = str(tmp_path / "hashes")
    ckpt = str(tmp_path / "ckpt")
    cli = [
        "curate-stream", "--src", src, "--corpus", corpus,
        "--bands", bands, "--hashes", hashes, "--checkpoint", ckpt,
        "--min-tokens", "5",
    ]

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["corpus_rows"] == 2  # ids 1, 2

    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["corpus_rows"] == 3  # + id 13

    # retraction via the maintenance verb: drop doc 1's band rows and
    # compact; the rewritten index no longer references it
    retract = str(tmp_path / "retract.parquet")
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(retract)
    out = str(tmp_path / "bands_rewritten")
    assert main([
        "index-maintain", "--bands", bands, "--out", out,
        "--remove", retract, "--compact",
    ]) == 0
    mstats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert mstats["rows_after"] < mstats["rows_before"]
    rewritten = spark.read.parquet(out)
    assert rewritten.filter(F.col("doc_id") == 1).count() == 0
    assert sorted(
        r["doc_id"] for r in rewritten.select("doc_id").distinct().collect()
    ) == [2, 13]


def test_streaming_curation_real_documents_and_index_loss_fallback(
    spark, tmp_path
):
    """Integration pin on real testdata: the loop over two halves of the
    sf0.001 documents table (full document schema, real text) equals
    the chained batch oracle; deleting the band index between runs
    exercises the documented degradation path (fall back to corpus-text
    recompute — same answer, no crash) and the index is reseeded from
    the next batch."""
    import shutil

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half1 = docs.filter(F.col("doc_id") < 250)
    half2 = docs.filter(F.col("doc_id") >= 250)

    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    half1.coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    got1 = set(_corpus_ids(spark, tmp_path))

    # oracle for batch 1: within-batch curate only
    s1 = SC.curate_batch_incremental(half1, None, None, None)
    want1 = {r["doc_id"] for r in s1.collect()}
    assert got1 == want1

    # simulate index loss: the loop must fall back to recompute
    shutil.rmtree(bands_path)
    half2.coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path)
    got2 = set(_corpus_ids(spark, tmp_path))

    s2 = SC.curate_batch_incremental(half2, s1, None, None)
    want2 = want1 | {r["doc_id"] for r in s2.collect()}
    assert got2 == want2

    # the band index was reseeded from batch 2's survivors
    idx = spark.read.parquet(bands_path)
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} \
        == want2 - want1


def test_streaming_embedding_ingest_pq_artifacts(spark, tmp_path):
    """With codebooks/codes paths, the embedding loop also maintains the
    PQ tier: consumers run pq_topk straight off the persisted artifacts
    and get exactly the encode-on-the-fly answer."""
    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )
    from datawarehouse_vehicule_insurance_spark.streaming import (
        curation as SC,
    )

    src = str(tmp_path / "src")
    paths = {
        k: str(tmp_path / k)
        for k in ("corpus", "cents", "asg", "books", "codes", "ckpt")
    }

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, paths["corpus"], paths["cents"], paths["asg"],
            paths["ckpt"], neardup_threshold=0.95, n_probe=4, n_cells=4,
            codebooks_path=paths["books"], codes_path=paths["codes"],
        )
        q.awaitTermination()

    emb = spark.read.parquet(f"/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(F.col("vec_id") < 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    # batches 2 and 3 run with TRAINING poisoned: centroids and
    # codebooks are index-lifetime geometry trained exactly once (batch
    # 1) — any later batch that retrains would silently mis-pair codes
    # against drifted geometry (r5 verdict #3's done-criterion)
    def _poisoned(*a, **k):
        raise AssertionError("train ran after batch 1")

    real_ivf, real_pq = S._train_ivf, S._train_pq
    try:
        S._train_ivf = _poisoned
        S._train_pq = _poisoned
        emb.filter(
            (F.col("vec_id") >= 60) & (F.col("vec_id") < 80)
        ).coalesce(1).write.mode("append").parquet(src)
        run()
        emb.filter(F.col("vec_id") >= 80).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()
    finally:
        S._train_ivf, S._train_pq = real_ivf, real_pq

    corpus = spark.read.parquet(paths["corpus"]).drop(SC.BATCH_COL)
    books = spark.read.parquet(paths["books"])
    codes = spark.read.parquet(paths["codes"]).drop(SC.BATCH_COL)
    assert codes.count() == corpus.count()

    qs = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    direct = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
              for r in S.pq_topk(qs, corpus, codebooks=books).collect()}
    loaded = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
              for r in S.pq_topk(
                  qs, corpus, codebooks=books, codes=codes
              ).collect()}
    assert loaded == direct


def test_streaming_embedding_ingest_clustered_artifact(spark, tmp_path):
    """r13: with clustered_path the embedding loop also maintains the
    cell-partitioned CLUSTERED corpus (FAISS inverted-list layout):
    consumers run ivf_topk(clustered=) straight off the loop artifact —
    vector read partition-pruned to probed cells — and get exactly the
    assignments-path answer. Enabling it on an existing corpus requires
    a rebuild backfill (PQ-tier rule); retraction and compaction both
    preserve the cell layout."""
    import glob
    import shutil

    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )

    src = str(tmp_path / "src")
    p = {k: str(tmp_path / k)
         for k in ("corpus", "cents", "asg", "clustered", "ckpt")}

    def run(clustered=True):
        q = SC.run_incremental_embedding_ingest(
            spark, src, p["corpus"], p["cents"], p["asg"], p["ckpt"],
            neardup_threshold=0.95, n_probe=2, n_cells=4,
            clustered_path=p["clustered"] if clustered else None,
        )
        q.awaitTermination()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(F.col("vec_id") < 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    def _poisoned(*a, **k):
        raise AssertionError("train ran after batch 1")

    real = S._train_ivf
    try:
        S._train_ivf = _poisoned
        emb.filter(F.col("vec_id") >= 60).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()
    finally:
        S._train_ivf = real

    corpus = spark.read.parquet(p["corpus"]).drop(SC.BATCH_COL)
    cents = spark.read.parquet(p["cents"])
    asg = spark.read.parquet(p["asg"])
    clustered = spark.read.parquet(p["clustered"])
    assert clustered.count() == corpus.count()
    # the cell layout is real partition directories under each batch
    assert glob.glob(f"{p['clustered']}/{SC.BATCH_COL}=*/cell=*")

    qs = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    kw = dict(k=5, n_cells=4, n_probe=2)

    def _probe(**extra):
        out = S.ivf_topk(qs, corpus, centroids=cents, **kw, **extra)
        return out, {(r["query_id"], r["vec_id"], r["cosine_sim"],
                      r["rank"]) for r in out.collect()}

    _, base = _probe(assignments=asg)
    clu_df, clu = _probe(clustered=clustered)
    assert clu == base and base
    plan = clu_df._jdf.queryExecution().executedPlan().toString()
    sections = [
        c.split("]")[0] for c in plan.split("PartitionFilters: [")[1:]
    ]
    assert any("cell" in s and "IN" in s.upper() for s in sections)

    # enable-later rule: a lost/never-built clustered table with a
    # corpus present fails the batch and points at the backfill
    shutil.rmtree(p["clustered"])
    emb.filter(F.col("vec_id") < 30).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(Exception, match="clustered_path"):
        run()
    counts = SC.rebuild_embedding_indexes(
        spark, p["corpus"], p["cents"], p["asg"],
        clustered_path=p["clustered"], n_cells=4,
    )
    assert counts[p["clustered"]] == corpus.count()
    run()  # resumes on the backfilled artifact

    # retraction removes from the clustered table too, keeping cells
    gone = corpus.limit(3).select("vec_id")
    n_before = spark.read.parquet(p["clustered"]).count()
    SC.retract_vectors(
        spark, gone, p["corpus"], assignments_path=p["asg"],
        clustered_path=p["clustered"],
    )
    after = spark.read.parquet(p["clustered"])
    assert after.count() == n_before - 3
    assert glob.glob(f"{p['clustered']}/{SC.BATCH_COL}=-1/cell=*")

    # compaction folds batches, keeps the cell layout, probe unchanged
    SC.compact_embedding_indexes(
        spark, corpus_path=p["corpus"], assignments_path=p["asg"],
        clustered_path=p["clustered"],
    )
    assert glob.glob(f"{p['clustered']}/{SC.BATCH_COL}=-1/cell=*")
    corpus2 = spark.read.parquet(p["corpus"]).drop(SC.BATCH_COL)
    qs2 = corpus2.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    a = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
         for r in S.ivf_topk(
             qs2, corpus2, centroids=cents,
             assignments=spark.read.parquet(p["asg"]), **kw
         ).collect()}
    c = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
         for r in S.ivf_topk(
             qs2, corpus2, centroids=cents,
             clustered=spark.read.parquet(p["clustered"]), **kw
         ).collect()}
    assert c == a and a


def test_embedding_loop_clustered_by_default(spark, tmp_path, caplog):
    """r13 verdict #2: NEW loops get the clustered layout without
    opting in — clustered_path defaults to "auto", deriving
    {corpus}_clustered and maintaining it from batch 1; retraction and
    compaction under their own "auto" defaults keep the derived table
    consistent. A PRE-EXISTING assignments-only corpus resumed under
    the default does NOT raise: it logs the deprecated-layout warning
    and continues assignments-only (back-compat)."""
    import glob
    import logging

    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )

    src = str(tmp_path / "src")
    p = {k: str(tmp_path / k) for k in ("corpus", "cents", "asg", "ckpt")}
    derived = p["corpus"] + "_clustered"

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, p["corpus"], p["cents"], p["asg"], p["ckpt"],
            neardup_threshold=0.95, n_probe=2, n_cells=4,
        )
        q.awaitTermination()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(F.col("vec_id") < 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    emb.filter(F.col("vec_id") >= 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    corpus = spark.read.parquet(p["corpus"]).drop(SC.BATCH_COL)
    clustered = spark.read.parquet(derived)
    assert clustered.count() == corpus.count()
    assert glob.glob(f"{derived}/{SC.BATCH_COL}=*/cell=*")

    # probe parity straight off the default artifact
    cents = spark.read.parquet(p["cents"])
    qs = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    kw = dict(k=5, n_cells=4, n_probe=2)
    base = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in S.ivf_topk(
                qs, corpus, centroids=cents,
                assignments=spark.read.parquet(p["asg"]), **kw
            ).collect()}
    got = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
           for r in S.ivf_topk(
               qs, centroids=cents, clustered=clustered, **kw
           ).collect()}
    assert got == base and got

    # retract/compact under THEIR "auto" defaults see the derived table
    gone = corpus.limit(2).select("vec_id")
    n_before = clustered.count()
    out = SC.retract_vectors(
        spark, gone, p["corpus"], assignments_path=p["asg"]
    )
    assert derived in out
    assert spark.read.parquet(derived).count() == n_before - 2
    out = SC.compact_embedding_indexes(
        spark, corpus_path=p["corpus"], assignments_path=p["asg"]
    )
    assert derived in out
    assert glob.glob(f"{derived}/{SC.BATCH_COL}=-1/cell=*")

    # back-compat: pre-existing assignments-only corpus + the default →
    # warning, not a failed batch, and still no clustered table
    src2 = str(tmp_path / "src2")
    p2 = {k: str(tmp_path / f"old_{k}")
          for k in ("corpus", "cents", "asg", "ckpt")}
    emb.filter(F.col("vec_id") < 40).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    q = SC.run_incremental_embedding_ingest(
        spark, src2, p2["corpus"], p2["cents"], p2["asg"], p2["ckpt"],
        neardup_threshold=0.95, n_probe=2, n_cells=4,
        clustered_path=None,
    )
    q.awaitTermination()
    assert not glob.glob(p2["corpus"] + "_clustered")
    emb.filter(F.col("vec_id") >= 90).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    with caplog.at_level(
        logging.WARNING,
        logger="datawarehouse_vehicule_insurance_spark.curation",
    ):
        q = SC.run_incremental_embedding_ingest(
            spark, src2, p2["corpus"], p2["cents"], p2["asg"],
            p2["ckpt"], neardup_threshold=0.95, n_probe=2, n_cells=4,
        )
        q.awaitTermination()
    assert any("deprecated layout" in r.message for r in caplog.records)
    assert spark.read.parquet(p2["corpus"]).count() > 40 - 1
    assert not glob.glob(p2["corpus"] + "_clustered")


def test_incremental_dedup_text_free_with_all_three_indexes(spark, tmp_path):
    """With bands + hashes + shingles persisted, incremental_dedup needs
    no corpus DataFrame at all and its plan references the corpus
    parquet NOWHERE — per-batch corpus IO is exactly the three index
    reads. Results equal the full-recompute path."""
    corpus_rows = [(1000, BASE), (1001, _fresh("held"))]
    batch = _docs(
        spark,
        [(1, BASE), (2, _near(30)), (3, _fresh("new")), (4, _fresh("new"))],
    )
    corpus_dir = str(tmp_path / "corpus")
    _docs(spark, corpus_rows).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)

    paths = {k: str(tmp_path / k) for k in ("bands", "hashes", "shingles")}
    D.band_table(corpus).write.parquet(paths["bands"])
    D.content_hash_table(corpus).write.parquet(paths["hashes"])
    D.shingle_table(corpus).write.parquet(paths["shingles"])
    idx = {k: spark.read.parquet(p) for k, p in paths.items()}

    out = D.incremental_dedup(
        batch, None,
        corpus_bands=idx["bands"], corpus_hashes=idx["hashes"],
        corpus_shingles=idx["shingles"],
    )
    # plan probes BEFORE execution (collect would materialize the lazy
    # localCheckpoint); metadata strings are truncated at 100 chars by
    # default, hiding the scan paths. The candidate stage is probed
    # separately — inside incremental_dedup it sits behind a
    # localCheckpoint whose subtree the outer plan doesn't display.
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        cand_plan = D.cross_corpus_lsh_candidates(
            batch, corpus_bands=idx["bands"]
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert corpus_dir not in plan
    assert paths["hashes"] in plan and paths["shingles"] in plan
    assert corpus_dir not in cand_plan
    assert paths["bands"] in cand_plan
    assert sorted(r["doc_id"] for r in out.collect()) == [3]

    direct = D.incremental_dedup(batch, corpus)
    assert sorted(r["doc_id"] for r in direct.collect()) == [3]

    # contract errors: missing indexes with corpus_docs=None; stale
    # shingle params
    with pytest.raises(ValueError, match="all three"):
        D.incremental_dedup(batch, None, corpus_bands=idx["bands"])
    with pytest.raises(ValueError, match="shingle-table parameter"):
        D.ngram_jaccard(
            spark.createDataFrame([(1, 1000)], "id_a long, id_b long"),
            batch, n=5, precomputed=idx["shingles"],
        )


def test_streaming_curation_with_shingle_index(spark, tmp_path):
    """shingles_path maintains the verify index in the loop: results
    unchanged vs the planted expectations and the shingle table tracks
    the corpus."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    shingles_path = str(tmp_path / "shingles")

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
            shingles_path=shingles_path,
        )
        q.awaitTermination()

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    run()
    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]
    sh = spark.read.parquet(shingles_path)
    assert D.SHINGLE_PARAMS_COL in sh.columns
    assert sorted(r["doc_id"] for r in sh.select("doc_id").collect()) \
        == [1, 2, 13]


def test_rebuild_corpus_indexes_restores_loop(spark, tmp_path):
    """After losing every index, rebuild_corpus_indexes restores them
    from the corpus and the loop resumes index-fed (signature spy sees
    only new-batch ids again)."""
    import shutil

    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    shingles_path = str(tmp_path / "shingles")

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path,
            _paths(tmp_path)[4], shingles_path=shingles_path,
        )
        q.awaitTermination()

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    run()
    for p in (bands_path, hashes_path, shingles_path):
        shutil.rmtree(p)

    counts = SC.rebuild_corpus_indexes(
        spark, corpus_path, bands_path, hashes_path, shingles_path
    )
    assert counts[hashes_path] == 2   # ids 1, 2
    assert counts[bands_path] == 2 * 16
    rebuilt = spark.read.parquet(bands_path)
    assert sorted(
        r["doc_id"] for r in rebuilt.select("doc_id").distinct().collect()
    ) == [1, 2]

    seen_ids: list[set] = []
    real = D._banded_signatures

    def spy(df, text_col, id_col, *a, **kw):
        seen_ids.append(
            {r[0] for r in df.select(id_col).distinct().collect()}
        )
        return real(df, text_col, id_col, *a, **kw)

    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    try:
        D._banded_signatures = spy
        run()
    finally:
        D._banded_signatures = real
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]
    for ids in seen_ids:
        assert ids <= {11, 12, 13}, f"corpus-side recompute: {ids}"


# ---------------------------------------------------------------------------
# review fixes: replay/crash semantics, embedding index-loss contract
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_replay_after_partial_write_is_idempotent(spark, tmp_path):
    """A batch whose crash landed only SOME of its appends must replay
    to the correct final state: the loop excludes the in-flight batch
    id from every artifact read, so the replay dedups against the true
    pre-batch state instead of the batch's own half-committed copies.
    Simulated organically: the hash-table builder is patched to raise
    DURING the second batch, so the corpus and band appends land but
    the hash/shingle appends (and the checkpoint commit) do not — the
    next run replays that batch through the real recovery machinery."""
    import os

    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    shingles_path = str(tmp_path / "shingles")

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
            shingles_path=shingles_path,
        )
        q.awaitTermination()

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    run()
    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)

    real = SC.content_hash_table

    def _crash(*a, **kw):
        raise RuntimeError("simulated crash between appends")

    try:
        SC.content_hash_table = _crash
        with pytest.raises(Exception, match="simulated crash"):
            run()
    finally:
        SC.content_hash_table = real

    # the crash state: batch-2 partition exists in corpus + bands only
    batch_part = f"{SC.BATCH_COL}=1"
    assert os.path.isdir(os.path.join(corpus_path, batch_part))
    assert os.path.isdir(os.path.join(bands_path, batch_part))
    assert not os.path.isdir(os.path.join(hashes_path, batch_part))
    assert not os.path.isdir(os.path.join(shingles_path, batch_part))

    run()  # replays the batch
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]
    hashes = spark.read.parquet(hashes_path)
    assert sorted(r["doc_id"] for r in hashes.select("doc_id").collect()) \
        == [1, 2, 13]
    sh = spark.read.parquet(shingles_path)
    assert sorted(
        r["doc_id"] for r in sh.select("doc_id").distinct().collect()
    ) == [1, 2, 13]

    # and an exact duplicate of a batch-2 doc is still caught afterwards
    _docs(spark, [(31, BETA)]).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]


def test_embedding_loop_raises_on_index_loss_and_rebuild_recovers(
    spark, tmp_path
):
    """Deleting the centroids (or assignments) while a corpus exists
    must FAIL the batch — a silent retrain would stamp the same
    fingerprint over a different cell geometry — and
    rebuild_embedding_indexes restores a consistent index set the loop
    resumes on. With codebooks/codes paths it also backfills the whole
    corpus's PQ codes (the enable-PQ-later path)."""
    import shutil

    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )

    src = str(tmp_path / "src")
    p = {k: str(tmp_path / k)
         for k in ("corpus", "cents", "asg", "books", "codes", "ckpt")}

    def run(pq=False):
        q = SC.run_incremental_embedding_ingest(
            spark, src, p["corpus"], p["cents"], p["asg"], p["ckpt"],
            neardup_threshold=0.95, n_probe=4, n_cells=4,
            codebooks_path=p["books"] if pq else None,
            codes_path=p["codes"] if pq else None,
        )
        q.awaitTermination()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(F.col("vec_id") < 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    n0 = spark.read.parquet(p["corpus"]).count()
    assert n0 > 0

    shutil.rmtree(p["cents"])
    emb.filter(F.col("vec_id") >= 60).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(Exception, match="rebuild_embedding_indexes"):
        run()

    # recovery: rebuild (retrains centroids — they were lost), then the
    # loop resumes; PQ tier enabled in the same rebuild backfills codes
    counts = SC.rebuild_embedding_indexes(
        spark, p["corpus"], p["cents"], p["asg"],
        codebooks_path=p["books"], codes_path=p["codes"], n_cells=4,
    )
    assert counts[p["codes"]] == n0  # whole corpus backfilled
    run(pq=True)
    corpus = spark.read.parquet(p["corpus"]).drop(SC.BATCH_COL)
    codes = spark.read.parquet(p["codes"]).drop(SC.BATCH_COL)
    assert codes.count() == corpus.count()
    asg = spark.read.parquet(p["asg"]).drop(SC.BATCH_COL)
    assert asg.count() == corpus.count()


def test_curate_corpus_text_free_and_partial_index_error(spark):
    """curate_corpus runs the incremental stage from the three persisted
    indexes alone (no corpus DataFrame), and partial indexes without a
    corpus raise instead of silently skipping dedup."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    corpus = _docs(spark, [(1000, BASE)])
    batch = _docs(
        spark, [(1, BASE), (2, _near(30)), (3, _fresh("new"))]
    )
    kept = sorted(
        r["doc_id"]
        for r in curate_corpus(
            batch,
            existing_bands=D.band_table(corpus),
            existing_hashes=D.content_hash_table(corpus),
            existing_shingles=D.shingle_table(corpus),
        ).collect()
    )
    assert kept == [3]
    with pytest.raises(ValueError, match="ALL"):
        curate_corpus(batch, existing_bands=D.band_table(corpus))


# ---------------------------------------------------------------------------
# line-level boilerplate removal in the curation surfaces
# ---------------------------------------------------------------------------

BOILER = "subscribe to the newsletter today"


def _lined(tag: str, with_boiler: bool = True, n: int = 12) -> str:
    abc = "abcdefghijklmnopqrstuvwxyz"
    lines = [
        " ".join(f"{tag}w{abc[i]}r{abc[j]}" for j in range(8))
        for i in range(n)
    ]
    if with_boiler:
        lines.insert(1, BOILER)
    return "\n".join(lines)


def test_curate_corpus_line_dedup_stage(spark):
    """curate_corpus(line_dedup_min_freq=2) removes the cross-document
    boilerplate line from every survivor while the rest of the pipeline
    (exact dedup, gates, near-dup) behaves as before; passing an index
    without enabling the stage raises."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    docs = _docs(spark, [
        (1, _lined("a")),
        (2, _lined("b")),
        (3, _lined("c", with_boiler=False)),
        (4, _lined("a")),        # exact dup of 1 -> dropped, must not
                                 # inflate line counts
    ])
    out = {
        r["doc_id"]: r["text"]
        for r in curate_corpus(docs, line_dedup_min_freq=2).collect()
    }
    assert sorted(out) == [1, 2, 3]
    assert BOILER not in out[1] and BOILER not in out[2]
    assert out[3] == _lined("c", with_boiler=False)
    # exact-dup doc 4 did not push any "a" content line to freq 2
    assert out[1] == _lined("a", with_boiler=False)

    with pytest.raises(ValueError, match="line_dedup_min_freq"):
        curate_corpus(
            docs, existing_line_counts=D.line_count_table(docs)
        )


@pytest.mark.slow
def test_streaming_curation_line_index(spark, tmp_path):
    """The loop's fourth persisted index: batch partials of the CLEANED
    survivors sum to corpus totals, a line crosses the threshold from
    corpus+batch occurrences combined, and the append-only asymmetry
    (earlier docs keep a line that only later became frequent) holds."""
    src, corpus_path, *_ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    kw = dict(line_counts_path=lc_path, line_dedup_min_freq=2)

    # batch 1: boilerplate appears once -> under threshold, stored as-is
    _docs(spark, [(1, _lined("a"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out1 = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(spark, corpus_path).collect()}
    assert BOILER in out1[1]

    # batch 2: corpus count (1) + batch count (1) reaches 2 -> the line
    # is removed from the NEW doc; the already-stored doc keeps it
    _docs(spark, [(11, _lined("b"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out2 = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(spark, corpus_path).collect()}
    assert sorted(out2) == [1, 11]
    assert BOILER in out2[1]          # append-only asymmetry
    assert BOILER not in out2[11]
    assert out2[11] == _lined("b", with_boiler=False)

    # batch 3: a line repeated WITHIN one batch crosses the threshold
    # on its own (batch partial merged in)
    inner = "shared inner template line"
    b3 = [
        (21, _lined("c", with_boiler=False) + "\n" + inner),
        (22, inner + "\n" + _lined("d", with_boiler=False)),
    ]
    _docs(spark, b3).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out3 = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(spark, corpus_path).collect()}
    assert sorted(out3) == [1, 11, 21, 22]
    assert inner not in out3[21] and inner not in out3[22]

    # the persisted index equals the line_count_table of the stored
    # corpus (merged across batch partitions)
    stored = SC.read_corpus(spark, corpus_path)
    expect = {
        (r["line_hash"], r["n_docs"])
        for r in D.line_count_table(stored).collect()
    }
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        _read_artifact,
    )
    merged = D.merge_line_counts(_read_artifact(spark, lc_path))
    got = {
        (r["line_hash"], r["n_docs"]) for r in merged.collect()
    }
    assert got == expect

    # half-configured loop raises
    with pytest.raises(ValueError, match="together"):
        SC.run_incremental_curation(
            spark, src, corpus_path, str(tmp_path / "b"),
            str(tmp_path / "h"), str(tmp_path / "ck2"),
            line_counts_path=lc_path,
        )


def test_rebuild_includes_line_counts(spark, tmp_path):
    """rebuild_corpus_indexes(line_counts_path=...) regenerates the
    line index from the stored corpus under the reserved partition."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    _docs(spark, [(1, _lined("a")), (2, _lined("b"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path)  # loop WITHOUT line cleaning

    counts = SC.rebuild_corpus_indexes(
        spark, corpus_path, bands_path, hashes_path,
        line_counts_path=lc_path,
    )
    assert counts[lc_path] > 0
    rebuilt = D.merge_line_counts(
        spark.read.parquet(lc_path).drop(SC.BATCH_COL)
    )
    stored = SC.read_corpus(spark, corpus_path)
    expect = {
        (r["line_hash"], r["n_docs"])
        for r in D.line_count_table(stored).collect()
    }
    assert {
        (r["line_hash"], r["n_docs"]) for r in rebuilt.collect()
    } == expect
    # BOILER is at freq 2 in the rebuilt index: the next batch's doc
    # with it gets cleaned immediately
    boiler_hash = D.line_count_table(stored).filter(
        F.col("n_docs") >= 2
    ).count()
    assert boiler_hash >= 1


# ---------------------------------------------------------------------------
# document takedown (retract across corpus + all indexes)
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_retract_documents_full_takedown(spark, tmp_path):
    """retract_documents removes a document from the corpus and every
    persisted index consistently: ids vanish from band/hash/shingle
    artifacts, the line-frequency index is exactly the count table of
    the remaining corpus (subtraction, incl. a shared line 2→1 and
    unique lines 1→0), and a re-submission of the retracted content is
    ACCEPTED by the next loop run."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    shingles_path = str(tmp_path / "shingles")
    kw = dict(
        line_counts_path=lc_path, line_dedup_min_freq=3,
        shingles_path=shingles_path,
    )
    shared = "every page carries this shared line"
    doc1 = _lined("a", with_boiler=False) + "\n" + shared
    doc2 = shared + "\n" + _lined("b", with_boiler=False)

    _docs(spark, [(1, doc1), (2, doc2)]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    # an exact clone of doc 1 is rejected while doc 1 is in the corpus
    _docs(spark, [(3, doc1)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    ids = spark.createDataFrame([(1,)], "doc_id long")
    out = SC.retract_documents(
        spark, ids, corpus_path,
        index_path=bands_path, hash_path=hashes_path,
        shingles_path=shingles_path, line_counts_path=lc_path,
    )
    assert out[corpus_path] == 1
    assert _corpus_ids(spark, tmp_path) == [2]
    for path in (bands_path, hashes_path, shingles_path):
        remaining = {
            r["doc_id"]
            for r in spark.read.parquet(path).select("doc_id").collect()
        }
        assert remaining == {2}, path
    # line index == count table of the remaining corpus (shared 2→1,
    # doc-1-unique lines dropped at 0)
    stored = SC.read_corpus(spark, corpus_path)
    expect = {
        (r["line_hash"], r["n_docs"])
        for r in D.line_count_table(stored).collect()
    }
    got = {
        (r["line_hash"], r["n_docs"])
        for r in D.merge_line_counts(
            spark.read.parquet(lc_path).drop(SC.BATCH_COL)
        ).collect()
    }
    assert got == expect

    # the same content is accepted again after the takedown
    _docs(spark, [(4, doc1)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [2, 4]


def test_cli_retract(spark, tmp_path, capsys):
    """The retract CLI verb drives retract_documents end-to-end."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    _docs(spark, [(1, _fresh("kept")), (2, _fresh("gone"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path)
    ids_path = str(tmp_path / "ids")
    spark.createDataFrame([(2,)], "doc_id long").write.parquet(ids_path)

    rc = main([
        "retract", "--remove", ids_path, "--corpus", corpus_path,
        "--bands", bands_path, "--hashes", hashes_path,
    ])
    assert rc == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows_after"][corpus_path] == 1
    assert _corpus_ids(spark, tmp_path) == [1]


def test_retract_vectors_and_resubmission(spark, tmp_path):
    """retract_vectors removes vectors from the embedding corpus and its
    persisted IVF assignments consistently; a near-identical vector of
    a retracted one is accepted by the next ingest run (before the
    takedown it was rejected)."""
    src = str(tmp_path / "src")
    corpus_path = str(tmp_path / "corpus")
    cent_path = str(tmp_path / "centroids")
    asg_path = str(tmp_path / "assignments")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, corpus_path, cent_path, asg_path, ckpt,
            neardup_threshold=0.95, n_probe=4, n_cells=4,
        )
        q.awaitTermination()

    def ids_of(path):
        df = SC._try_read_parquet(spark, path)
        return sorted(r["vec_id"] for r in df.collect())

    _vecs(spark, [(1, _unit_row(0)), (2, _unit_row(1))]).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    # a near-dup of vector 1 dies while 1 is in the corpus
    _vecs(spark, [(11, _unit_row(0, eps_axis=3, eps=0.02))]).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    assert ids_of(corpus_path) == [1, 2]

    out = SC.retract_vectors(
        spark, spark.createDataFrame([(1,)], "vec_id long"),
        corpus_path, assignments_path=asg_path,
    )
    assert out[corpus_path] == 1 and out[asg_path] == 1
    assert ids_of(corpus_path) == [2] and ids_of(asg_path) == [2]
    # centroids (index-lifetime geometry) untouched
    assert spark.read.parquet(cent_path).count() > 0

    # the same direction is accepted again after the takedown
    _vecs(spark, [(21, _unit_row(0, eps_axis=3, eps=0.02))]).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    assert ids_of(corpus_path) == [2, 21]
    assert ids_of(asg_path) == [2, 21]


def test_retract_rerun_is_idempotent(spark, tmp_path):
    """Re-running the same takedown command converges: every artifact's
    final state is a function of (current corpus, ids) alone — the
    crash-recovery contract (partial rewrite -> re-run -> consistent)."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    kw = dict(line_counts_path=lc_path, line_dedup_min_freq=3)
    shared = "all docs carry this shared line"
    _docs(spark, [
        (1, _lined("a", with_boiler=False) + "\n" + shared),
        (2, shared + "\n" + _lined("b", with_boiler=False)),
    ]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)

    ids = spark.createDataFrame([(1,)], "doc_id long")
    args = dict(
        index_path=bands_path, hash_path=hashes_path,
        line_counts_path=lc_path,
    )
    first = SC.retract_documents(spark, ids, corpus_path, **args)
    # a second run (as after a crash between rewrites) changes nothing
    second = SC.retract_documents(spark, ids, corpus_path, **args)
    assert second == first
    stored = SC.read_corpus(spark, corpus_path)
    expect = {
        (r["line_hash"], r["n_docs"])
        for r in D.line_count_table(stored).collect()
    }
    got = {
        (r["line_hash"], r["n_docs"])
        for r in D.merge_line_counts(
            spark.read.parquet(lc_path).drop(SC.BATCH_COL)
        ).collect()
    }
    assert got == expect


def test_resubmission_rejected_after_threshold_crossing(spark, tmp_path):
    """A stored document whose boilerplate line only LATER crossed the
    removal threshold is still rejected on exact re-submission: the
    raw-text hash check runs BEFORE line cleaning, so cleaning cannot
    rewrite the re-submission past it (short docs would also evade the
    near-dup verify)."""
    src, corpus_path, *_ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    kw = dict(line_counts_path=lc_path, line_dedup_min_freq=2,
              within_batch_neardup=False)
    boiler = "subscribe to this very newsletter"
    doc1 = "\n".join([_fresh("aa"), boiler, _fresh("ab")])
    doc11 = "\n".join([_fresh("ba"), boiler, _fresh("bb")])

    _docs(spark, [(1, doc1)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out1 = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(spark, corpus_path).collect()}
    assert boiler in out1[1]  # stored WITH the line (count 1 < 2)

    # second doc pushes the line over the threshold
    _docs(spark, [(11, doc11)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out2 = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(spark, corpus_path).collect()}
    assert boiler not in out2[11]

    # exact re-submission of doc 1's raw text is rejected
    _docs(spark, [(21, doc1)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [1, 11]


def test_corpus_copies_do_not_inflate_line_counts(spark, tmp_path):
    """A batch doc that exactly copies a corpus doc is dropped BEFORE
    the line-frequency partial is counted, so it cannot push a line
    over the threshold that the stored corpus doesn't justify."""
    src, corpus_path, *_ = _paths(tmp_path)
    lc_path = str(tmp_path / "linecounts")
    kw = dict(line_counts_path=lc_path, line_dedup_min_freq=3,
              within_batch_neardup=False)
    line = "boilerplate candidate line here"
    doc_a = "\n".join([_fresh("aa"), line])
    doc_c = "\n".join([_fresh("ca"), line])

    _docs(spark, [(1, doc_a)]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)

    # batch: exact copy of A (rejected) + fresh C sharing the line.
    # true stored-corpus frequency after the batch is 2 < 3 -> C keeps
    # the line; an inflated count (1 corpus + 2 batch docs) would have
    # stripped it
    _docs(spark, [(11, doc_a), (12, doc_c)]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    out = {r["doc_id"]: r["text"]
           for r in SC.read_corpus(spark, corpus_path).collect()}
    assert sorted(out) == [1, 12]
    assert line in out[12]


def test_retract_scoped_line_index(spark, tmp_path):
    """retract_documents handles a per-scope line index: matching
    parameters rebuild it from survivors; mismatched parameters raise
    BEFORE any artifact is rewritten."""
    corpus_path = str(tmp_path / "corpus")
    lc_path = str(tmp_path / "lc")
    docs = spark.createDataFrame(
        [(1, "x\ny", "s1"), (2, "y\nz", "s1"), (3, "y\nw", "s2")],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(corpus_path)
    D.line_count_table(docs, min_chars=1, scope_col="source") \
        .write.parquet(lc_path)

    ids = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="parameter mismatch"):
        SC.retract_documents(
            spark, ids, corpus_path, line_counts_path=lc_path
        )
    # nothing was rewritten by the failed call
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    ) == [1, 2, 3]

    out = SC.retract_documents(
        spark, ids, corpus_path, line_counts_path=lc_path,
        line_scope_col="source",
    )
    assert out[corpus_path] == 2
    survivors = SC.read_corpus(spark, corpus_path)
    expect = {
        (r["source"], r["line_hash"], r["n_docs"])
        for r in D.line_count_table(
            survivors, scope_col="source"
        ).collect()
    }
    got = {
        (r["source"], r["line_hash"], r["n_docs"])
        for r in spark.read.parquet(lc_path).drop(SC.BATCH_COL).collect()
    }
    assert got == expect


def test_streaming_curation_winnow_index(spark, tmp_path):
    """The loop's fifth persisted index: a later batch quoting a long
    verbatim run of a corpus document is rejected even though its
    overall Jaccard is far below the near-dup threshold; the winnow
    index tracks survivors; no corpus-side resketch (probe); retract
    removes the winnow rows too."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    win_path = str(tmp_path / "winnow")
    kw = dict(winnow_path=win_path, span_min_shared=1)

    a_toks = [f"alpha{i}" for i in range(60)]
    _docs(spark, [(1, " ".join(a_toks)), (2, _fresh("other"))]) \
        .coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    # batch 2: doc 11 quotes 15 tokens of doc 1 inside fresh text
    # (shingle overlap ~5% — invisible to jaccard>=0.8); doc 12 fresh
    quoter = [f"beta{i}" for i in range(25)] + a_toks[20:35] \
        + [f"gamma{i}" for i in range(25)]
    b2 = [(11, " ".join(quoter)), (12, _fresh("fresh"))]

    seen: list[set] = []
    real = D._winnow_fingerprint_rows

    def spy(df, text_col, id_col, *a, **k):
        seen.append({r[0] for r in df.select(id_col).distinct().collect()})
        return real(df, text_col, id_col, *a, **k)

    _docs(spark, b2).coalesce(1).write.mode("append").parquet(src)
    try:
        D._winnow_fingerprint_rows = spy
        _run(spark, tmp_path, **kw)
    finally:
        D._winnow_fingerprint_rows = real
    assert _corpus_ids(spark, tmp_path) == [1, 2, 12]
    # sketching ran over batch ids / the survivor append only — never
    # the corpus docs
    assert seen, "winnow sketch never ran"
    for ids in seen:
        assert ids <= {11, 12}, f"corpus-side resketch: {ids}"

    idx = spark.read.parquet(win_path)
    assert sorted(
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 12]

    out = SC.retract_documents(
        spark, spark.createDataFrame([(1,)], "doc_id long"),
        corpus_path, index_path=bands_path, hash_path=hashes_path,
        winnow_path=win_path,
    )
    assert out[corpus_path] == 2
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(win_path)
        .select("doc_id").distinct().collect()
    ) == [2, 12]

    # half-configured loop raises
    with pytest.raises(ValueError, match="together"):
        SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path,
            str(tmp_path / "ck2"), winnow_path=win_path,
        )


def test_rebuild_includes_winnow(spark, tmp_path):
    """rebuild_corpus_indexes(winnow_path=...) regenerates the span
    index from the stored corpus."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    win_path = str(tmp_path / "winnow")
    _docs(spark, [(1, _fresh("aa")), (2, _fresh("bb"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path)
    counts = SC.rebuild_corpus_indexes(
        spark, corpus_path, bands_path, hashes_path, winnow_path=win_path,
    )
    assert counts[win_path] > 0
    stored = SC.read_corpus(spark, corpus_path)
    want = {
        (r["doc_id"], r["fp"])
        for r in D.winnow_table(stored).select("doc_id", "fp").collect()
    }
    got = {
        (r["doc_id"], r["fp"])
        for r in spark.read.parquet(win_path)
        .select("doc_id", "fp").collect()
    }
    assert got == want


@pytest.mark.slow
def test_compact_loop_indexes_preserves_probes(spark, tmp_path):
    """Scheduled compaction folds every loop artifact's per-batch append
    partitions into one, collapses replay-duplicated rows, and changes
    NO probe result: the next incremental batch dedups identically
    against the compacted indexes."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    shingles_path = str(tmp_path / "shingles")

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, shingles_path=shingles_path)
    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, shingles_path=shingles_path)

    assert SC.loop_batch_partitions(spark, bands_path) == 2
    # simulate an at-least-once replay artifact: duplicate batch-0's
    # band rows under a fresh partition
    dup = spark.read.parquet(bands_path).filter(F.col(SC.BATCH_COL) == 0)
    dup.withColumn(SC.BATCH_COL, F.lit(7)).write.mode(
        "append"
    ).partitionBy(SC.BATCH_COL).parquet(bands_path)

    before_probe = sorted(
        (r["id_a"], r["id_b"])
        for r in D.cross_corpus_lsh_candidates(
            _docs(spark, [(40, _near(31)), (41, _fresh("delta"))]),
            corpus_bands=spark.read.parquet(bands_path).drop(SC.BATCH_COL),
        ).collect()
    )

    stats = SC.compact_loop_indexes(
        spark,
        index_path=bands_path,
        hash_path=hashes_path,
        shingles_path=shingles_path,
    )
    assert stats[bands_path]["after"] < stats[bands_path]["before"]
    assert stats[hashes_path]["after"] == stats[hashes_path]["before"]
    # compacted: only the reserved -1 partition remains, which
    # the scheduling signal does not count
    assert SC.loop_batch_partitions(spark, bands_path) == 0

    after_probe = sorted(
        (r["id_a"], r["id_b"])
        for r in D.cross_corpus_lsh_candidates(
            _docs(spark, [(40, _near(31)), (41, _fresh("delta"))]),
            corpus_bands=spark.read.parquet(bands_path).drop(SC.BATCH_COL),
        ).collect()
    )
    assert after_probe == before_probe and (40, 1) in after_probe

    # the loop keeps running against the compacted indexes
    _docs(spark, BATCH_3).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, shingles_path=shingles_path)
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13, 22]

    with pytest.raises(ValueError, match="no index"):
        SC.compact_loop_indexes(spark, index_path=str(tmp_path / "nope"))


def test_cli_curate_stream_compact_every(spark, tmp_path, capsys):
    """--compact-every N: the verb compacts the supplied indexes after
    the run once N batch partitions accumulated, and skips below N."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    hashes = str(tmp_path / "hashes")
    ckpt = str(tmp_path / "ckpt")
    cli = [
        "curate-stream", "--src", src, "--corpus", corpus,
        "--bands", bands, "--hashes", hashes, "--checkpoint", ckpt,
        "--min-tokens", "5", "--compact-every", "2",
    ]

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["compacted"] is None  # 1 partition < 2

    _docs(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["compacted"] is not None
    assert set(stats["compacted"]) == {bands, hashes}
    assert SC.loop_batch_partitions(spark, bands) == 0
    assert stats["corpus_rows"] == 3


def test_embedding_loop_semantic_dedup_within_batch(spark, tmp_path):
    """semantic_threshold prunes each batch within itself against the
    loop's persisted centroids: two near-identical fresh vectors in one
    batch admit only the first, on top of the vs-corpus rejection."""
    from datawarehouse_vehicule_insurance_spark.streaming import (
        curation as SC,
    )

    src = str(tmp_path / "src")
    corpus_path = str(tmp_path / "corpus")
    cent_path = str(tmp_path / "centroids")
    asg_path = str(tmp_path / "assignments")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, corpus_path, cent_path, asg_path, ckpt,
            neardup_threshold=0.95, n_probe=2, n_cells=2,
            semantic_threshold=0.9,
        )
        q.awaitTermination()

    def corpus_ids():
        df = SC._try_read_parquet(spark, corpus_path)
        return sorted(r["vec_id"] for r in df.collect()) \
            if df is not None else []

    # batch 1: centroids bootstrap from the two lowest ids (distinct
    # axes); 3 and 4 then land in 1's cell as semantic near-dups of it
    # — the greedy admits only the earliest member of the group
    b1 = _vecs(spark, [
        (1, _unit_row(0)),
        (2, _unit_row(1)),
        (3, _unit_row(0, eps_axis=3, eps=0.05)),
        (4, _unit_row(0, eps_axis=3, eps=0.09)),
    ])
    b1.coalesce(1).write.mode("append").parquet(src)
    run()
    assert corpus_ids() == [1, 2]

    # batch 2: 11 near-dups the CORPUS (dropped by the IVF probe), 12
    # and 13 are fresh but near-dup each other (semantic prune keeps
    # 12), 14 is fresh and distinct from both
    b2 = _vecs(spark, [
        (11, _unit_row(0, eps_axis=4, eps=0.02)),
        (12, _unit_row(2, eps_axis=5, eps=0.05)),
        (13, _unit_row(2, eps_axis=5, eps=0.08)),
        (14, _unit_row(3)),
    ])
    b2.coalesce(1).write.mode("append").parquet(src)
    run()
    assert corpus_ids() == [1, 2, 12, 14]

    # assignments track exactly the accepted corpus
    asg = spark.read.parquet(asg_path)
    assert sorted(r["vec_id"] for r in asg.collect()) == [1, 2, 12, 14]


@pytest.mark.slow
def test_curate_corpus_all_stages_composed(spark):
    """Kitchen-sink integration: EVERY optional curate stage enabled at
    once — exact dedup, line dedup, basic gates, Gopher rules, LM
    perplexity gate, quality-keyed near-dup, span overlap,
    decontamination, incremental dedup against a corpus, and final DSIR
    budget selection — each planted violator dies at its own stage and
    the survivors come out in input schema. (Also the regression pin
    for the composed-plan Catalyst OOM: without curate_corpus's
    stage-boundary localCheckpoint cuts this test dies building the
    plan, before any data moves.)"""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bigram_lm_tables,
        lm_perplexity,
    )

    def prose(tag, n=60):
        return " ".join(
            f"the {tag}{i} and some of that text have with more".split()[
                i % 9
            ] + f"{tag}{i}"
            for i in range(n)
        )

    boiler = "subscribe to our newsletter today please"
    good1 = prose("alpha")
    good2 = prose("beta")
    corpus_doc = prose("stored")
    bench_doc = "unique benchmark secret passage of eight tokens exactly"
    junk = " ".join(f"qx{i}zz" for i in range(40))
    scrambled = " ".join(reversed(good1.split()))

    rows = [
        (1, good1 + "\n" + boiler),        # keep (boiler line cleaned)
        (2, good2 + "\n" + boiler),        # near-dup loser of (2, 7)
        (3, good1 + "\n" + boiler),        # exact dup of 1
        (4, "short text"),                 # basic gate (min tokens)
        (5, "\n".join(["the dup line here again ok"] * 40)),  # gopher
        (6, junk),                         # perplexity gate (OOV junk)
        # same line as 2 plus appended words: high Jaccard near-dup,
        # but NOT an identical line (the C4 rule must not fire on it)
        (7, good2 + " extra1 extra2 extra3"),
        (8, prose("fresh") + " " + bench_doc),   # decontamination
        (9, corpus_doc + "\ntrailing new words here"),  # vs-corpus dup
        (10, scrambled),                   # keep: in-vocab, scrambled
    ]
    docs = _docs(spark, rows)
    lm = bigram_lm_tables(
        _docs(spark, [(100, good1), (101, good2), (102, corpus_doc)])
    )
    # threshold between the OOV junk's perplexity and the scrambled
    # in-vocab doc's (robust to smoothing-constant drift)
    ppl = {
        r["doc_id"]: r["perplexity"]
        for r in lm_perplexity(
            _docs(spark, [(6, junk), (10, scrambled)]), *lm
        ).collect()
    }
    assert ppl[10] < ppl[6], "fixture: scrambled must beat junk"
    max_ppl = float((ppl[6] * ppl[10]) ** 0.5)

    existing = _docs(spark, [(1000, corpus_doc)])
    benchmark = _docs(spark, [(2000, bench_doc)])

    out = curate_corpus(
        docs,
        benchmark=benchmark,
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
        jaccard_threshold=0.6,
        line_dedup_min_freq=2,
        gopher_rules={
            "min_words": 20, "min_stopword_hits": 0,
            "min_mean_word_len": 0.0, "max_mean_word_len": 99.0,
            "min_alpha_word_ratio": 0.0,
        },
        lm_model=lm,
        max_perplexity=max_ppl,
        near_dup_keep_by=F.length("text"),
        span_dedup_min_shared=30,
        existing_corpus=existing,
        dsir_target_model=lm,
        dsir_top_n=3,
        dsir_temperature=1e-6,
    )
    result = {r["doc_id"]: r["text"] for r in out.collect()}
    assert out.columns == ["doc_id", "text"]
    # clean pool after every gate/dedup = {1, 7, 10}: the (2, 7)
    # near-dup collapsed to 7 (keep_by=length keeps the longer member);
    # DSIR's top-3 then takes the whole pool
    assert set(result) == {1, 7, 10}
    # line cleaning really ran on the stored survivors
    assert all(boiler not in t for t in result.values())
    assert good1 in result[1]  # unique lines untouched


def test_compact_embedding_indexes(spark, tmp_path):
    """Embedding-artifact compaction folds batch partitions, collapses
    replay duplicates, and leaves persisted-index probes identical."""
    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )

    src = str(tmp_path / "src")
    corpus_path = str(tmp_path / "corpus")
    cent_path = str(tmp_path / "centroids")
    asg_path = str(tmp_path / "assignments")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = SC.run_incremental_embedding_ingest(
            spark, src, corpus_path, cent_path, asg_path, ckpt,
            neardup_threshold=0.95, n_probe=2, n_cells=2,
        )
        q.awaitTermination()

    _vecs(spark, [(1, _unit_row(0)), (2, _unit_row(1))]).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    _vecs(spark, [(11, _unit_row(2)), (12, _unit_row(3))]).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    # replay artifact: duplicate batch-0's assignment rows
    dup = spark.read.parquet(asg_path).filter(F.col(SC.BATCH_COL) == 0)
    dup.withColumn(SC.BATCH_COL, F.lit(9)).write.mode("append") \
        .partitionBy(SC.BATCH_COL).parquet(asg_path)

    queries = _vecs(spark, [(100, _unit_row(0, eps_axis=1, eps=0.3))]) \
        .withColumnRenamed("vec_id", "query_id") \
        .withColumnRenamed("embedding", "qvec")

    def topk():
        return sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in S.ivf_topk(
                queries,
                SC._read_artifact(spark, corpus_path),
                k=2, n_cells=2, n_probe=2,
                centroids=spark.read.parquet(cent_path),
                assignments=SC._read_artifact(spark, asg_path)
                .dropDuplicates(["vec_id"]),
            ).collect()
        )

    before = topk()
    stats = SC.compact_embedding_indexes(
        spark, corpus_path, asg_path
    )
    assert stats[asg_path]["after"] < stats[asg_path]["before"]
    assert stats[corpus_path]["after"] == stats[corpus_path]["before"]
    assert SC.loop_batch_partitions(spark, asg_path) == 0
    assert topk() == before

    with pytest.raises(ValueError, match="no index"):
        SC.compact_embedding_indexes(spark, str(tmp_path / "missing"))


def test_cli_embed_stream(spark, tmp_path, capsys):
    """embed-stream runs the vector ingest loop end-to-end: corpus
    near-dups rejected, in-batch semantic prune applied, only new files
    per run."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "src")
    cli = [
        "embed-stream", "--src", src,
        "--corpus", str(tmp_path / "corpus"),
        "--centroids", str(tmp_path / "cents"),
        "--assignments", str(tmp_path / "asg"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--clustered", str(tmp_path / "clustered"),
        "--n-cells", "2", "--n-probe", "2",
        "--semantic-threshold", "0.9",
    ]
    _vecs(spark, [
        (1, _unit_row(0)),
        (2, _unit_row(1)),
        (3, _unit_row(0, eps_axis=3, eps=0.05)),   # semantic dup of 1
    ]).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["corpus_rows"] == 2

    _vecs(spark, [
        (11, _unit_row(0, eps_axis=4, eps=0.02)),  # corpus near-dup
        (12, _unit_row(2)),                        # fresh
    ]).coalesce(1).write.mode("append").parquet(src)
    assert main(cli + ["--stage-counts"]) == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert lines[-1]["corpus_rows"] == 3
    # --stage-counts: one funnel line for the batch — 11 dies against
    # the persisted IVF index, 12 survives the semantic prune
    assert [ln for ln in lines if "batch" in ln] == [
        {"batch": 1, "stages": {
            "received": 2, "id_dedup": 2, "ivf_neardup": 1,
            "semantic_dedup": 1,
        }}
    ]
    # --clustered: the cell-partitioned clustered corpus tracked the
    # loop (one row per accepted vector, cell dirs on disk)
    import glob as _glob

    clustered = spark.read.parquet(str(tmp_path / "clustered"))
    assert clustered.count() == 3
    assert _glob.glob(str(tmp_path / "clustered" / "__batch_id=*") + "/cell=*")


def test_cli_compact_every_ignores_missing_artifacts(spark, tmp_path,
                                                     capsys):
    """Regression: --compact-every must not fail the run when a newly
    configured artifact directory was never created (e.g. --winnow
    added but no batch with survivors landed yet)."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "src")
    shingles = str(tmp_path / "never_created_shingles")
    cli = [
        "curate-stream", "--src", src,
        "--corpus", str(tmp_path / "corpus"),
        "--bands", str(tmp_path / "bands"),
        "--hashes", str(tmp_path / "hashes"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--min-tokens", "5",
    ]

    _docs(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0
    capsys.readouterr()

    # second run: no new files (empty batch -> shingles never written),
    # compaction due from run 1's append, shingles configured but absent
    assert main(
        cli + ["--compact-every", "1", "--shingles", shingles]
    ) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["compacted"] is not None
    assert stats["compacted"][shingles] is None  # skipped, not fatal
    assert stats["compacted"][str(tmp_path / "bands")] is not None


@pytest.mark.slow
def test_streaming_curation_span_gram_index(spark, tmp_path):
    """The loop's sixth persisted index (exact-substring trim): with
    span_grams_path a later batch quoting a stored passage is trimmed
    with NO corpus-side tokenization (spy probe), the per-batch index
    partials merge to exactly span_gram_table of the stored corpus,
    compaction preserves that equality, and retraction rebuilds the
    index from survivors."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    sg_path = str(tmp_path / "spangrams")
    kw = dict(trim_min_span=12, span_grams_path=sg_path)

    passage = " ".join(f"quote{i}" for i in range(14))
    b1 = [(1, _fresh("alpha") + " " + passage), (2, _fresh("other"))]
    b2 = [(11, _fresh("beta") + " " + passage + " " + _fresh("gamma")),
          (12, _fresh("fresh"))]

    _docs(spark, b1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    assert _corpus_ids(spark, tmp_path) == [1, 2]

    seen: list[set] = []
    real = D._span_grams_per_row

    def spy(df, side, text_col, id_col, min_span):
        seen.append({r[0] for r in df.select(id_col).distinct().collect()})
        return real(df, side, text_col, id_col, min_span)

    _docs(spark, b2).coalesce(1).write.mode("append").parquet(src)
    try:
        D._span_grams_per_row = spy
        _run(spark, tmp_path, **kw)
    finally:
        D._span_grams_per_row = real
    got = {r["doc_id"]: r["text"]
           for r in SC.read_corpus(spark, corpus_path).collect()}
    assert sorted(got) == [1, 2, 11, 12]
    assert passage in got[1]        # first occurrence keeps the passage
    assert passage not in got[11]   # the quote is cut, the doc kept
    # tokenization ran over batch frames / survivor appends only —
    # never the stored corpus docs
    assert seen, "span tokenizer never ran"
    for ids in seen:
        assert ids <= {11, 12}, f"corpus-side token re-scan: {ids}"

    # the text-scan twin loop (no index) stores the identical corpus
    src2 = str(tmp_path / "src2")
    for b in (b1, b2):
        _docs(spark, b).coalesce(1).write.mode("append").parquet(src2)
    q = SC.run_incremental_curation(
        spark, src2, str(tmp_path / "corpus2"), str(tmp_path / "bands2"),
        str(tmp_path / "hashes2"), str(tmp_path / "ckpt2"),
        trim_min_span=12,
    )
    q.awaitTermination()
    twin = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(
                spark, str(tmp_path / "corpus2")).collect()}
    assert twin == got

    # loop invariant: merged per-batch partials == span_gram_table of
    # the corpus as stored
    def _index_rows():
        merged = D.merge_span_gram_tables(
            spark.read.parquet(sg_path).drop(SC.BATCH_COL)
        )
        return sorted(map(tuple, merged.select(
            "gram_hash", "n_occ", "first_id", "first_pos").collect()))

    def _direct_rows():
        stored = SC.read_corpus(spark, corpus_path)
        return sorted(map(tuple, D.span_gram_table(
            stored, min_span=12).select(
            "gram_hash", "n_occ", "first_id", "first_pos").collect()))

    assert _index_rows() == _direct_rows()

    # compaction folds partials without changing the merged stats
    res = SC.compact_loop_indexes(spark, span_grams_path=sg_path)
    assert res[sg_path]["after"] <= res[sg_path]["before"]
    assert SC.loop_batch_partitions(spark, sg_path) == 0
    assert _index_rows() == _direct_rows()

    # retraction rebuilds the span index from the survivors
    SC.retract_documents(
        spark, spark.createDataFrame([(1,)], "doc_id long"),
        corpus_path, index_path=bands_path, hash_path=hashes_path,
        span_grams_path=sg_path, trim_min_span=12,
    )
    assert _corpus_ids(spark, tmp_path) == [2, 11, 12]
    assert _index_rows() == _direct_rows()

    # misconfiguration: an index nothing probes raises; retract without
    # the span length raises before touching anything
    with pytest.raises(ValueError, match="trim_min_span"):
        SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path,
            str(tmp_path / "ck3"), span_grams_path=sg_path,
        )
    with pytest.raises(ValueError, match="trim_min_span"):
        SC.retract_documents(
            spark, spark.createDataFrame([(2,)], "doc_id long"),
            corpus_path, span_grams_path=sg_path,
        )


def test_rebuild_includes_span_grams(spark, tmp_path):
    """rebuild_corpus_indexes(span_grams_path=...) regenerates the trim
    index from the stored corpus (bootstrap/recovery path)."""
    src, corpus_path, bands_path, hashes_path, _ = _paths(tmp_path)
    sg_path = str(tmp_path / "spangrams")
    _docs(spark, [(1, _fresh("aa")), (2, _fresh("bb"))]).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, tmp_path)
    counts = SC.rebuild_corpus_indexes(
        spark, corpus_path, bands_path, hashes_path,
        span_grams_path=sg_path, trim_min_span=12,
    )
    assert counts[sg_path] > 0
    stored = SC.read_corpus(spark, corpus_path)
    want = sorted(map(tuple, D.span_gram_table(
        stored, min_span=12).select(
        "gram_hash", "n_occ", "first_id", "first_pos").collect()))
    got = sorted(map(tuple, spark.read.parquet(sg_path)
                 .select("gram_hash", "n_occ", "first_id", "first_pos")
                 .collect()))
    assert got == want


def test_curation_run_releases_checkpoint_blocks(spark):
    """The NOTES kitchen-sink gotcha: back-to-back composed runs in ONE
    session used to accumulate localCheckpoint blocks until OOM. The
    curation_run context manager releases each run's blocks after the
    sink action, so the session's persistent-RDD set returns exactly
    to baseline — twice in a row."""
    from datawarehouse_vehicule_insurance_spark.compat import (
        persistent_rdd_ids,
    )
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curation_run,
    )

    boiler = "subscribe to our newsletter today please"
    passage = " ".join(f"quote{i}" for i in range(14))
    rows = [
        (1, _fresh("alpha") + "\n" + boiler),
        (2, _fresh("beta") + "\n" + boiler),
        (3, _fresh("alpha") + "\n" + boiler),      # exact dup of 1
        (4, _fresh("gamma") + " " + passage),      # passage source
        (5, _fresh("delta") + " " + passage),      # quote gets trimmed
    ]
    docs = _docs(spark, rows)
    kwargs = dict(
        min_tokens=5, min_alpha_ratio=0.0, max_dup_2gram_ratio=1.0,
        line_dedup_min_freq=2, span_trim_min_span=12,
        gopher_rules={
            "min_words": 10, "min_stopword_hits": 0,
            "min_mean_word_len": 0.0, "max_mean_word_len": 99.0,
            "min_alpha_word_ratio": 0.0,
        },
    )
    # compare via set DIFFERENCE, not equality: Spark's async
    # ContextCleaner may GC an earlier test's lingering RDD mid-run,
    # shrinking the baseline set — the invariant under test is "no NEW
    # blocks survive the context manager", not "the session's exact
    # RDD set is frozen"
    base = persistent_rdd_ids(spark)
    for _ in range(2):
        with curation_run(docs, **kwargs) as out:
            got = {r["doc_id"]: r["text"] for r in out.collect()}  # sink
            # the run held checkpoint blocks while alive
            assert persistent_rdd_ids(spark) - base
        # ...and released every one of them on exit
        assert persistent_rdd_ids(spark) - base == set()
    assert sorted(got) == [1, 2, 4, 5]
    assert passage in got[4] and passage not in got[5]
    assert all(boiler not in t for t in got.values())


def test_materialize_cuts_side_branch_last(spark):
    """curation_run's fused-materialization sweep must not depend on
    the registry's LAST entry being the most-downstream cut (VERDICT
    r7 'What's wrong' 3b): with a side-branch cut registered last, the
    reversed count loop still materializes EVERY cut's blocks."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        _materialize_cuts,
    )
    from datawarehouse_vehicule_insurance_spark.operators.plancut import (
        checkpoint_cut,
        cut_scope,
    )

    base = spark.range(100).withColumnRenamed("id", "k")
    with cut_scope() as cuts:
        trunk = checkpoint_cut(base.filter("k % 2 = 0"))
        downstream = checkpoint_cut(
            trunk.groupBy((F.col("k") % 5).alias("g")).count()
        )
        # side branch off the trunk, registered AFTER the most-
        # downstream cut — insertion order no longer = pipeline order
        side = checkpoint_cut(trunk.filter("k > 50"))
        assert cuts == [trunk, downstream, side]

        _materialize_cuts(cuts)
        # every cut's checkpoint RDD holds blocks — including the
        # downstream cut that is NOT in the (reversed-)first cut's
        # lineage
        stored = {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }
        for name, frame in [
            ("trunk", trunk), ("downstream", downstream), ("side", side)
        ]:
            leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
            assert leaves.length() == 1, name
            rdd_id = leaves.apply(0).rdd().id()
            assert rdd_id in stored, f"{name} cut never materialized"


def test_checkpoint_cut_eager_failure_stays_freeable(spark):
    """An eager cut registers its lazy frame BEFORE counting it, so a
    cut whose materialization raises is still in the ambient registry
    and the scope's release frees its persistent RDD (an eager
    ``localCheckpoint`` raises before anything can register it, and
    its RDD leaks until the session ends)."""
    from datawarehouse_vehicule_insurance_spark.compat import (
        persistent_rdd_ids,
    )
    from datawarehouse_vehicule_insurance_spark.operators.plancut import (
        checkpoint_cut,
        cut_scope,
    )

    bad = spark.range(8).withColumn(
        "boom",
        F.when(F.col("id") == 5, F.raise_error(F.lit("planted failure")))
        .otherwise(F.lit(1)),
    )
    base = persistent_rdd_ids(spark)
    with cut_scope() as cuts:
        with pytest.raises(Exception, match="planted failure"):
            checkpoint_cut(bad, eager=True)
        assert len(cuts) == 1
        assert persistent_rdd_ids(spark) - base  # the failed cut's RDD
    assert persistent_rdd_ids(spark) - base == set()


@pytest.mark.parametrize("surface", ["curation_run", "document_loop"])
def test_build_fault_propagates_once_and_frees_cuts(
    spark, tmp_path, monkeypatch, surface
):
    """A build that takes cuts and then fails propagates after exactly
    one build call, on both surfaces that share the cut scope. The
    failure carries the upstream "Can't zip RDDs" text on purpose: no
    message is special-cased, so nothing retries the build or writes
    session conf, and no persistent RDD the run created survives."""
    from pyspark.sql.conf import RuntimeConfig

    from datawarehouse_vehicule_insurance_spark.compat import (
        persistent_rdd_ids,
    )
    from datawarehouse_vehicule_insurance_spark.operators import curate as C

    conf_sets = []
    real_set = RuntimeConfig.set

    def spy_set(self, key, value):
        conf_sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    calls = []
    held = []

    def failing(real):
        def wrapped(*a, **kw):
            calls.append(1)
            out = real(*a, **kw)
            out.count()  # the run's cuts hold blocks
            held.append(persistent_rdd_ids(spark) - base)
            raise RuntimeError(
                "Can't zip RDDs with unequal numbers of partitions: "
                "List(32, 64)"
            )
        return wrapped

    docs = _docs(spark, [(1, _fresh("a")), (2, _fresh("b")), (3, _fresh("a"))])
    if surface == "curation_run":
        monkeypatch.setattr(C, "curate_corpus", failing(C.curate_corpus))

        def run():
            with C.curation_run(
                docs, min_tokens=1, min_alpha_ratio=0.0,
                max_dup_2gram_ratio=1.0,
            ):
                pass
    else:
        monkeypatch.setattr(
            SC, "curate_batch_incremental",
            failing(SC.curate_batch_incremental),
        )
        src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
        docs.coalesce(1).write.mode("append").parquet(src)

        def run():
            SC.run_incremental_curation(
                spark, src, corpus_path, bands_path, hashes_path, ckpt,
            ).awaitTermination()

    base = persistent_rdd_ids(spark)
    with pytest.raises(Exception, match="zip RDDs"):
        run()
    assert len(calls) == 1
    assert conf_sets == []
    assert held and held[0]  # the failed build did take cuts
    assert persistent_rdd_ids(spark) - base == set()


@pytest.mark.slow
def test_trim_min_keep_drops_all_quote_husks(spark, tmp_path):
    """A batch doc assembled ENTIRELY from quotes of two different
    stored documents sits below the near-dup threshold against each of
    them individually, trims to (near-)nothing, and — without the
    floor — would be stored as a husk. trim_min_keep drops it; a doc
    with enough original text survives trimmed."""
    src, corpus_path, _, _, _ = _paths(tmp_path)
    kw = dict(trim_min_span=10, trim_min_keep=5)

    quote_a = " ".join(f"alpha{i}" for i in range(14))
    quote_b = " ".join(f"beta{i}" for i in range(14))
    b1 = [(1, _fresh("one") + " " + quote_a),
          (2, _fresh("two") + " " + quote_b)]
    # 11 = pure collage of the two stored passages; 12 = quote + enough
    # of its own words
    own = "completely original reporting with plenty of its own words"
    b2 = [(11, quote_a + " " + quote_b),
          (12, quote_a + " " + own)]

    _docs(spark, b1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)
    _docs(spark, b2).coalesce(1).write.mode("append").parquet(src)
    _run(spark, tmp_path, **kw)

    got = {r["doc_id"]: r["text"]
           for r in SC.read_corpus(spark, corpus_path).collect()}
    assert sorted(got) == [1, 2, 12]      # the collage husk is GONE
    assert quote_a not in got[12]
    assert own in got[12]

    # without the floor, the husk would be stored (possibly empty)
    src2 = str(tmp_path / "src2")
    for b in (b1, b2):
        _docs(spark, b).coalesce(1).write.mode("append").parquet(src2)
    q = SC.run_incremental_curation(
        spark, src2, str(tmp_path / "corpus2"), str(tmp_path / "bands2"),
        str(tmp_path / "hashes2"), str(tmp_path / "ckpt2"),
        trim_min_span=10,
    )
    q.awaitTermination()
    twin = {r["doc_id"]: r["text"]
            for r in SC.read_corpus(
                spark, str(tmp_path / "corpus2")).collect()}
    assert 11 in twin and quote_a not in twin[11] and quote_b not in twin[11]

    # misconfiguration: the floor without trimming raises
    with pytest.raises(ValueError, match="trim_min_keep"):
        SC.run_incremental_curation(
            spark, src, corpus_path, str(tmp_path / "b3"),
            str(tmp_path / "h3"), str(tmp_path / "ck3"),
            trim_min_keep=5,
        )


def test_loop_block_release_is_scoped_to_its_own_cuts(spark, tmp_path):
    """Per-batch cleanup frees the loop's OWN checkpoint blocks but
    never a frame some other code in the same session checkpointed
    mid-batch (the concurrent-jobs hazard of a session-wide
    persistent-RDD delta)."""
    src, corpus_path, _, _, _ = _paths(tmp_path)

    def rdd_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    stash = {}

    def transform(df):
        # simulates a CONCURRENT job persisting state while a batch is
        # in flight — a session-wide delta release would destroy it
        if "probe" not in stash:
            stash["probe"] = spark.range(10).localCheckpoint()
        return df

    base = rdd_ids()
    for i, batch in enumerate([[(1, _fresh("a")), (2, _fresh("b"))],
                               [(11, _fresh("c")), (12, _fresh("d"))]]):
        _docs(spark, batch).coalesce(1).write.mode("append").parquet(src)
        q = SC.run_incremental_curation(
            spark, src, corpus_path, str(tmp_path / "bands"),
            str(tmp_path / "hashes"), str(tmp_path / "ckpt"),
            transform=transform,
            shingles_path=str(tmp_path / "shingles"),
            line_dedup_min_freq=5,
            line_counts_path=str(tmp_path / "lines"),
            winnow_path=str(tmp_path / "winnow"), span_min_shared=8,
            trim_min_span=10,
            span_grams_path=str(tmp_path / "spangrams"),
        )
        q.awaitTermination()

    # the bystander survived both batches' releases and still works
    assert stash["probe"].count() == 10
    # ...and is the ONLY block the run left behind (every loop cut
    # from both batches was freed)
    leftover = rdd_ids() - base
    assert len(leftover) <= 1, leftover
    assert _corpus_ids(spark, tmp_path) == [1, 2, 11, 12]


def test_loop_near_dup_keep_by_quality(spark, tmp_path):
    """Within-batch near-dup in the loop keeps the caller's preferred
    survivor (here: longest text) instead of min-id — curate_corpus's
    near_dup_keep_by parity."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    base = _fresh("pair")
    longer = base + " extra trailing detail words here"
    batch = [(1, base), (2, longer), (3, _fresh("other"))]
    _docs(spark, batch).coalesce(1).write.mode("append").parquet(src)
    q = SC.run_incremental_curation(
        spark, src, corpus_path, bands_path, hashes_path, ckpt,
        jaccard_threshold=0.6,
        near_dup_keep_by=F.length("text"),
    )
    q.awaitTermination()
    assert _corpus_ids(spark, tmp_path) == [2, 3]   # 2 beats 1 on length


def test_loop_source_quota_vs_growing_corpus(spark, tmp_path):
    """source_cap enforces a per-source quota against the STORED corpus:
    batch admissions stop once a source reaches N across batches
    (id-ascending retention within a batch; append-only — a full
    source admits nothing more)."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)

    def docs3(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
            source_cap=2,
        )
        q.awaitTermination()

    b1 = [(1, _fresh("h1"), "hot"), (2, _fresh("h2"), "hot"),
          (3, _fresh("h3"), "hot"), (4, _fresh("c1"), "cold")]
    docs3(b1).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 4]   # hot capped at 2

    b2 = [(11, _fresh("h4"), "hot"), (12, _fresh("c2"), "cold"),
          (13, _fresh("c3"), "cold")]
    docs3(b2).coalesce(1).write.mode("append").parquet(src)
    run()
    # hot already at quota -> 11 rejected; cold had 1 stored -> one of
    # (12, 13) admitted, id-ascending picks 12
    assert _corpus_ids(spark, tmp_path) == [1, 2, 4, 12]

    # a batch without the source column raises
    src2 = str(tmp_path / "src2")
    _docs(spark, [(21, _fresh("x"))]).coalesce(1).write.mode(
        "append").parquet(src2)
    import pyspark.errors

    q = SC.run_incremental_curation(
        spark, src2, str(tmp_path / "c2d"), str(tmp_path / "b2d"),
        str(tmp_path / "h2d"), str(tmp_path / "ck2d"), source_cap=2,
    )
    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException,
                       match="source"):
        q.awaitTermination()


@pytest.mark.slow
def test_loop_source_quota_null_source_charged(spark, tmp_path):
    """The NULL-source slice is one quota group like any other: stored
    NULL-source docs charge the budget across batches (NULL-safe join —
    a plain equality join would reset it every batch). Also: cap < 1
    raises eagerly, and reserved working columns raise."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)

    def docs3(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
            source_cap=2,
        )
        q.awaitTermination()

    docs3([(1, _fresh("a"), None), (2, _fresh("b"), None),
           (3, _fresh("c"), None)]).coalesce(1).write.mode(
        "append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2]
    docs3([(11, _fresh("d"), None), (12, _fresh("e"), "named")]
          ).coalesce(1).write.mode("append").parquet(src)
    run()
    # NULL slice already at quota -> 11 rejected; the named source fine
    assert _corpus_ids(spark, tmp_path) == [1, 2, 12]

    with pytest.raises(ValueError, match="source_cap must be >= 1"):
        SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path,
            str(tmp_path / "ckx"), source_cap=0,
        )
    bad = spark.createDataFrame(
        [(1, "t", "s", 1)],
        "doc_id long, text string, source string, __rk int",
    )
    with pytest.raises(ValueError, match="__rk"):
        SC.curate_batch_incremental(
            bad, None, None, None, source_cap=2,
        ).collect()


# ---------------------------------------------------------------------------
# seventh artifact: per-source count index (index-only admission quota)
# ---------------------------------------------------------------------------

def _docs3(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_source_count_table_contract(spark):
    """The source_count_table building blocks: partials sum to totals
    (merge), the NULL-source group counts like any other, the stamp
    guards the grouping column, and subtraction (remove) frees budget
    exactly — the same mergeable-partial contract as the line index."""
    b1 = _docs3(spark, [(1, _fresh("a"), "hot"), (2, _fresh("b"), "hot"),
                        (3, _fresh("c"), None)])
    b2 = _docs3(spark, [(4, _fresh("d"), "hot"), (5, _fresh("e"), "cold"),
                        (6, _fresh("f"), None)])

    def as_map(df):
        return {r["source"]: r["n_docs"] for r in df.collect()}

    t1, t2 = D.source_count_table(b1), D.source_count_table(b2)
    assert as_map(t1) == {"hot": 2, None: 1}
    merged = D.merge_source_counts(t1, t2)
    assert as_map(merged) == {"hot": 3, "cold": 1, None: 2}
    # merged == built-from-union (the partial property)
    direct = D.source_count_table(b1.unionByName(b2))
    assert as_map(direct) == as_map(merged)
    assert D.SOURCE_PARAMS_COL in merged.columns

    # stamp: a table grouped by a different column must not feed a
    # quota keyed on "source"
    with pytest.raises(ValueError, match="parameter mismatch"):
        D.validate_source_params(
            D.source_count_table(
                b1.withColumnRenamed("source", "site"), source_col="site"
            ),
            "source",
        )
    with pytest.raises(ValueError, match="mixed parameters"):
        D.merge_source_counts(
            t1,
            D.source_count_table(
                b2.withColumnRenamed("source", "site"), source_col="site"
            ).withColumnRenamed("site", "source"),
        )
    with pytest.raises(ValueError, match="needs a 'source' column"):
        D.source_count_table(_docs(spark, [(1, "t")]))

    # a stray column (a directly-read loop artifact's partition column)
    # raises instead of silently multiplying downstream budget joins
    with pytest.raises(ValueError, match="unexpected columns"):
        D.merge_source_counts(t1.withColumn("__batch_id", F.lit(0)))

    # exact subtraction, NULL-safe; zero-count sources drop
    after = D.source_count_table_remove(
        merged, b1.filter(F.col("doc_id").isin(1, 3))
    )
    assert as_map(after) == {"hot": 2, "cold": 1, None: 1}

    # remove on UNMERGED per-batch partials (the on-disk artifact's
    # shape) must subtract from the TOTAL once, not from every partial
    # row — review fix: merge-first inside remove
    partials = t1.unionByName(t2)          # hot rows: 2 and 1
    after2 = D.source_count_table_remove(
        partials, b1.filter(F.col("doc_id") == 1)   # retract 1 hot doc
    )
    assert as_map(after2) == {"hot": 2, "cold": 1, None: 2}


@pytest.mark.slow
def test_compact_loop_indexes_when_signal(spark, tmp_path):
    """Signal-driven compaction: compact_loop_indexes_when is a no-op
    below the partition threshold, fires once the band index's append
    partitions cross it, and the loop's behavior is probe-identical
    afterwards (a post-compaction batch still dedups correctly)."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
        )
        q.awaitTermination()

    _docs(spark, [(1, BASE)]).coalesce(1).write.mode("append").parquet(src)
    run()
    res = SC.compact_loop_indexes_when(
        spark, 2, index_path=bands_path, hash_path=hashes_path,
    )
    assert res == {"partitions": 1, "compacted": None}   # below signal

    _docs(spark, [(2, _fresh("b"))]).coalesce(1).write.mode(
        "append").parquet(src)
    run()
    res = SC.compact_loop_indexes_when(
        spark, 2, index_path=bands_path, hash_path=hashes_path,
    )
    assert res["partitions"] == 2 and res["compacted"] is not None
    assert SC.loop_batch_partitions(spark, bands_path) == 0  # folded

    # probe-identical afterwards: a clone of doc 1 and a near-dup of
    # doc 2 still die against the compacted indexes, fresh text lands
    _docs(spark, [(11, BASE), (12, _near(5, base=_fresh("b").split())),
                  (13, _fresh("c"))]).coalesce(1).write.mode(
        "append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 13]

    with pytest.raises(ValueError, match="threshold"):
        SC.compact_loop_indexes_when(spark, 0, index_path=bands_path)

    # CLI: a 0 threshold is rejected up front (clean SystemExit per
    # the verb's argument-error convention) BEFORE the stream drains —
    # the falsy-`or` merge used to silently skip the whole compaction
    # block instead
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    with pytest.raises(SystemExit, match="threshold"):
        main([
            "curate-stream", "--src", src, "--corpus", corpus_path,
            "--bands", bands_path, "--hashes", hashes_path,
            "--checkpoint", ckpt, "--min-tokens", "1",
            "--compact-when-partitions", "0",
        ])

    # supplying BOTH threshold flags is ambiguous and rejected up
    # front too (ADVICE r7: the new flag used to silently win)
    with pytest.raises(SystemExit, match="not both"):
        main([
            "curate-stream", "--src", src, "--corpus", corpus_path,
            "--bands", bands_path, "--hashes", hashes_path,
            "--checkpoint", ckpt, "--min-tokens", "1",
            "--compact-every", "3", "--compact-when-partitions", "3",
        ])


def test_cli_source_counts_missing_path_is_clear_error(spark, tmp_path):
    """curate --source-counts pointing at a path with no readable
    parquet raises a clean SystemExit naming the flag and path (ADVICE
    r7: it used to surface a raw AnalysisException stack). The user
    explicitly pointed at an index, so missing-as-None would silently
    charge a zero budget instead."""
    from datawarehouse_vehicule_insurance_spark.__main__ import main

    src = str(tmp_path / "in")
    _docs3(spark, [(1, _fresh("a"), "s1")]).write.parquet(src)
    missing = str(tmp_path / "no_such_index")
    with pytest.raises(SystemExit, match="--source-counts.*no_such_index"):
        main([
            "curate", "--input", src,
            "--output", str(tmp_path / "out"),
            "--min-tokens", "1", "--source-cap", "5",
            "--source-counts", missing,
        ])


def test_quota_salted_ranking_equals_single_window(spark):
    """The quota's within-batch retention is skew-guarded (cap_per_key
    phase-1 salted pre-cut before the admission window); results are
    EXACTLY the naive single-window form on a skewed batch — a
    mega-source, small sources, and the NULL slice, with per-source
    stored budgets (the 10x-audit equality pattern)."""
    from pyspark.sql import Window

    rows = (
        [(i, _fresh(f"m{i}"), "mega") for i in range(1, 61)]
        + [(i, _fresh(f"s{i}"), "small") for i in range(300, 306)]
        + [(i, _fresh(f"n{i}"), None) for i in range(400, 403)]
    )
    batch = _docs3(spark, rows)
    counts = D.source_count_table(
        _docs3(
            spark,
            [(900 + i, _fresh(f"c{i}"), "mega") for i in range(3)]
            + [(950, _fresh("cn"), None)],
        )
    )

    got = sorted(
        r["doc_id"]
        for r in SC.curate_batch_incremental(
            batch, None, None, None, within_batch_neardup=False,
            source_cap=5, corpus_source_counts=counts,
        ).collect()
    )

    # naive single-window reference (the pre-hardening form)
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    stored = counts.select(
        F.col("source").alias("__s"), F.col("n_docs").alias("__n")
    )
    want = sorted(
        r["doc_id"]
        for r in batch.withColumn("rk", F.row_number().over(w))
        .join(stored, F.col("source").eqNullSafe(F.col("__s")), "left")
        .filter(
            F.col("rk") <= F.lit(5) - F.coalesce(F.col("__n"), F.lit(0))
        )
        .collect()
    )
    assert got == want
    # hand-check: mega budget 5-3=2 -> ids 1,2; small 5 of 6; NULL 5-1=4
    # covers all 3
    assert got == [1, 2, 300, 301, 302, 303, 304, 400, 401, 402]


def test_quota_index_only_plan_and_equivalence(spark, tmp_path):
    """With the persisted source-count index (and the three dedup
    indexes), the batch plan references the corpus parquet NOWHERE —
    the quota charges merged index totals. Fallback negative control:
    without the index the same plan DOES scan the corpus. Results are
    identical either way."""
    corpus_dir = str(tmp_path / "corpus")
    _docs3(spark, [
        (1000, _fresh("h1"), "hot"), (1001, _fresh("h2"), "hot"),
        (1002, _fresh("c1"), "cold"),
    ]).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)

    paths = {k: str(tmp_path / k)
             for k in ("bands", "hashes", "shingles", "srccounts")}
    D.band_table(corpus).write.parquet(paths["bands"])
    D.content_hash_table(corpus).write.parquet(paths["hashes"])
    D.shingle_table(corpus).write.parquet(paths["shingles"])
    D.source_count_table(corpus).write.parquet(paths["srccounts"])
    idx = {k: spark.read.parquet(p) for k, p in paths.items()}

    batch = _docs3(spark, [
        (1, _fresh("h3"), "hot"),          # hot at 2 stored, cap 2 -> out
        (2, _fresh("c2"), "cold"),         # cold at 1 stored -> in
        (3, _fresh("c3"), "cold"),         # cold then full -> out
        (4, _fresh("n1"), "new"),          # fresh source -> in
    ])

    def curate(counts):
        return SC.curate_batch_incremental(
            batch, corpus, idx["bands"], idx["hashes"],
            corpus_shingles=idx["shingles"],
            source_cap=2, corpus_source_counts=counts,
        )

    out_idx, out_fb = curate(idx["srccounts"]), curate(None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan_idx = out_idx._jdf.queryExecution().executedPlan().toString()
        plan_fb = out_fb._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert corpus_dir not in plan_idx
    assert paths["srccounts"] in plan_idx
    assert corpus_dir in plan_fb          # the pre-index per-batch cost
    want = [2, 4]
    assert sorted(r["doc_id"] for r in out_idx.collect()) == want
    assert sorted(r["doc_id"] for r in out_fb.collect()) == want


@pytest.mark.slow
def test_loop_source_quota_index_fed(spark, tmp_path):
    """The loop with source_counts_path: admissions identical to the
    corpus-groupBy form across batches, the persisted partials merge to
    the exact per-source counts of the stored corpus, compaction folds
    them without changing behavior, and retraction FREES budget (the
    rebuilt index charges survivors only)."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    counts_path = str(tmp_path / "srccounts")

    def run():
        q = SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path, ckpt,
            source_cap=2, source_counts_path=counts_path,
        )
        q.awaitTermination()

    def stored_counts():
        merged = D.merge_source_counts(
            spark.read.parquet(counts_path).drop(SC.BATCH_COL)
        )
        return {r["source"]: r["n_docs"] for r in merged.collect()}

    b1 = [(1, _fresh("h1"), "hot"), (2, _fresh("h2"), "hot"),
          (3, _fresh("h3"), "hot"), (4, _fresh("c1"), "cold")]
    _docs3(spark, b1).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 4]
    assert stored_counts() == {"hot": 2, "cold": 1}

    b2 = [(11, _fresh("h4"), "hot"), (12, _fresh("c2"), "cold"),
          (13, _fresh("c3"), "cold")]
    _docs3(spark, b2).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 4, 12]
    assert stored_counts() == {"hot": 2, "cold": 2}

    # compaction folds per-batch partials into one total row per source
    res = SC.compact_loop_indexes(
        spark, index_path=bands_path, hash_path=hashes_path,
        source_counts_path=counts_path,
    )
    assert res[counts_path]["after"] <= res[counts_path]["before"]
    assert stored_counts() == {"hot": 2, "cold": 2}

    # takedown: retracting a hot doc frees one hot admission
    retract_ids = spark.createDataFrame([(1,)], "doc_id long")
    SC.retract_documents(
        spark, retract_ids, corpus_path,
        index_path=bands_path, hash_path=hashes_path,
        source_counts_path=counts_path,
    )
    assert stored_counts() == {"hot": 1, "cold": 2}
    b3 = [(21, _fresh("h5"), "hot"), (22, _fresh("h6"), "hot")]
    _docs3(spark, b3).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_ids(spark, tmp_path) == [2, 4, 12, 21]
    assert stored_counts() == {"hot": 2, "cold": 2}

    # contract: an index nothing probes would go stale
    with pytest.raises(ValueError, match="source_counts_path needs"):
        SC.run_incremental_curation(
            spark, src, corpus_path, bands_path, hashes_path,
            str(tmp_path / "ckx"), source_counts_path=counts_path,
        )

    # rebuild-from-corpus bootstrap reproduces the merged totals
    import shutil

    shutil.rmtree(counts_path)
    SC.rebuild_corpus_indexes(
        spark, corpus_path, bands_path, hashes_path,
        source_counts_path=counts_path,
    )
    assert stored_counts() == {"hot": 2, "cold": 2}


@pytest.mark.slow
def test_loop_source_counts_bootstrap_pre_existing_corpus(spark, tmp_path):
    """Enabling source_counts_path on a corpus curated WITHOUT the
    index must auto-bootstrap the stored corpus's counts (review fix):
    otherwise batch 1's fallback appends only its own partial and
    batch 2 charges an index that never counted the pre-existing
    corpus, over-admitting past the cap."""
    src, corpus_path, bands_path, hashes_path, ckpt = _paths(tmp_path)
    counts_path = str(tmp_path / "srccounts")

    # phase 1: corpus curated with the cap but NO count index
    _docs3(spark, [(1, _fresh("h1"), "hot"), (2, _fresh("h2"), "hot")]
           ).coalesce(1).write.mode("append").parquet(src)
    q = SC.run_incremental_curation(
        spark, src, corpus_path, bands_path, hashes_path, ckpt,
        source_cap=2,
    )
    q.awaitTermination()
    assert _corpus_ids(spark, tmp_path) == [1, 2]   # hot at quota

    # phase 2: index enabled; two files arrive -> two micro-batches.
    # Batch A (cold doc) triggers the bootstrap; batch B's hot doc must
    # be rejected by the INDEX (pre-fix, the index only held batch A's
    # cold partial and would have admitted it).
    _docs3(spark, [(11, _fresh("c1"), "cold")]).coalesce(1).write.mode(
        "append").parquet(src)
    _docs3(spark, [(21, _fresh("h3"), "hot")]).coalesce(1).write.mode(
        "append").parquet(src)
    q = SC.run_incremental_curation(
        spark, src, corpus_path, bands_path, hashes_path, ckpt,
        source_cap=2, source_counts_path=counts_path,
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    assert _corpus_ids(spark, tmp_path) == [1, 2, 11]   # 21 rejected
    merged = D.merge_source_counts(
        spark.read.parquet(counts_path).drop(SC.BATCH_COL)
    )
    got = {r["source"]: r["n_docs"] for r in merged.collect()}
    assert got == {"hot": 2, "cold": 1}   # == corpus as stored
