"""Dedup / similarity / text-analysis operator tests on the driver
testdata plus planted synthetic near-duplicates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.operators import dedup as D
from datawarehouse_vehicule_insurance_spark.operators import similarity as S
from datawarehouse_vehicule_insurance_spark.operators import (
    text_analysis as TA,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents table + planted exact and near duplicates."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    base = [r.asDict() for r in docs.orderBy("doc_id").limit(3).collect()]
    extra = []
    # exact copy of doc 0
    extra.append({"doc_id": 10_000, "text": base[0]["text"]})
    # near copy of doc 1: one word appended
    extra.append({"doc_id": 10_001, "text": base[1]["text"] + " zzz"})
    # formatting-noise copy of doc 2 (case/whitespace only)
    extra.append(
        {"doc_id": 10_002, "text": "  " + base[2]["text"].upper() + "  "}
    )
    extra_df = spark.createDataFrame(extra, "doc_id long, text string")
    return docs.unionByName(extra_df).cache()


def test_exact_dedup_by_content(spark, docs_with_dups):
    out = D.exact_dedup_by_content(docs_with_dups)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 10_000 not in ids  # exact copy dropped (higher id loses)
    assert 0 in ids
    assert 10_001 in ids  # near-dup NOT caught by exact hash


def test_minhash_lsh_finds_planted_near_dup(spark, docs_with_dups):
    cand = D.minhash_lsh_candidates(docs_with_dups, k=32, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 10_000) in pairs  # identical docs share all bands
    assert (1, 10_001) in pairs  # near-dup lands in ≥1 band


def test_ngram_jaccard_verification(spark, docs_with_dups):
    cand = D.minhash_lsh_candidates(docs_with_dups, k=32, bands=8)
    verified = D.ngram_jaccard(cand, docs_with_dups, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(0, 10_000)] == pytest.approx(1.0)
    assert 0.5 <= got[(1, 10_001)] < 1.0


def test_ngram_jaccard_hints_only_semi_join_probes(
    spark, docs_with_dups, monkeypatch
):
    """The candidate-id broadcast hint rides only the left_semi probes.
    Spark cannot build the LEFT side of a left_anti join, so the ids
    feeding the anti join against ``precomputed`` must stay unhinted
    (a hint there is silently ignored), while the index probe and the
    text probe both carry it."""
    cand = D.minhash_lsh_candidates(docs_with_dups, k=32, bands=8)
    pre = D.shingle_table(docs_with_dups.filter(F.col("doc_id") < 10_000))
    joins = []
    frame_cls = type(cand)  # the classic DataFrame subclass under 4.x
    real_join = frame_cls.join

    def spy(self, other, on=None, how=None):
        joins.append((how, self, other))
        return real_join(self, other, on, how)

    def hinted(df):
        top = df._jdf.queryExecution().analyzed()
        return top.getClass().getSimpleName() == "ResolvedHint"

    monkeypatch.setattr(frame_cls, "join", spy)
    D.ngram_jaccard(cand, docs_with_dups, threshold=0.5, precomputed=pre)
    D.ngram_jaccard(cand, docs_with_dups, threshold=0.5)

    anti = [left for how, left, _ in joins if how == "left_anti"]
    assert len(anti) == 1 and not hinted(anti[0])
    semi_hints = [hinted(right) for how, _, right in joins
                  if how == "left_semi"]
    # index probe + text probe hinted; the text probe for ids MISSING
    # from the index takes the anti join's output, unhinted
    assert sorted(semi_hints) == [False, True, True]


def test_minhash_dedup_end_to_end(spark, docs_with_dups):
    out = D.minhash_dedup(docs_with_dups, threshold=0.5, k=32, bands=8)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 10_000 not in ids
    assert 10_001 not in ids
    assert {0, 1, 2} <= ids  # originals (min ids) kept


def test_simhash_dedup_catches_exact(spark, docs_with_dups):
    out = D.simhash_dedup(docs_with_dups, bits=16)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 10_000 not in ids  # identical text → identical signature
    assert 0 in ids


def _py_simhash_portable(text: str, bits: int = 32) -> int:
    """Pure-Python reference of the portable simhash (md5 60-bit token
    hash, ±1 bit votes, sign fold)."""
    import hashlib
    import re

    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    votes = [0] * bits
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


def test_simhash_portable_matches_python_reference(spark):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(20)
    )
    rows = docs.collect()
    out = docs.select(
        "doc_id", D.simhash(F.col("text"), bits=32, portable=True).alias("s")
    )
    got = {r["doc_id"]: r["s"] for r in out.collect()}
    for r in rows:
        assert got[r["doc_id"]] == _py_simhash_portable(r["text"], 32)


def test_simhash_portable_rejects_wide_bits(spark):
    with pytest.raises(ValueError):
        D.simhash(F.lit("x"), bits=64, portable=True)


def test_fingerprint_normalizes_formatting(spark, docs_with_dups):
    fp = docs_with_dups.select(
        "doc_id", TA.fingerprint(F.col("text")).alias("fp")
    )
    vals = {r["doc_id"]: r["fp"] for r in fp.collect()}
    assert vals[2] == vals[10_002]  # case/whitespace noise → same print
    assert vals[0] != vals[1]


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = S.cosine_topk(qs, emb.filter(F.col("vec_id") >= 3), k=3)
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == 9  # 3 queries × 3

    # independent check with plain python
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return dot / (na * nb)

    for q in range(3):
        expect = sorted(
            ((cos(vecs[q], v), -cid) for cid, v in vecs.items() if cid >= 3),
            reverse=True,
        )[:3]
        got = sorted(
            (r["cosine_sim"], -r["vec_id"]) for r in rows
            if r["query_id"] == q
        )
        for (es, eid), (gs, gid) in zip(sorted(expect, reverse=True), sorted(got, reverse=True)):
            assert -eid == -gid
            assert gs == pytest.approx(es, abs=1e-5)


def test_lsh_topk_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = S.cosine_topk(qs, cands, k=5)
    # random embeddings have weak top-k cosine (~0.3 → ~72° angle), so
    # sign-LSH needs short hashes + many tables for recall: p(bucket) ≈
    # 0.6^4 ≈ 0.13 per table, 1-(1-0.13)^16 ≈ 0.89 over 16 tables
    approx = S.lsh_topk(qs, cands, dim=64, k=5, n_planes=4, n_tables=16)
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5  # probabilistic margin; expected ≈ 0.89


def test_quality_features_and_langid(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = TA.quality_features(docs)
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    text = row["text"]
    assert row["n_chars"] == len(text)
    assert row["n_tokens"] == len(text.split())
    assert 0 < row["alpha_ratio"] <= 1

    lang = docs.select(TA.lang_id(F.col("text")).alias("pred"))
    preds = {r["pred"] for r in lang.collect()}
    assert preds <= {"en", "es", "de", "fr", "und"}


def test_bm25_matches_reference_formula(spark):
    """bm25_scores == a straightforward Python BM25 over the same corpus
    (idf = ln(1 + (N−df+½)/(df+½)), tf saturation with k1/b defaults)."""
    import math

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = ["spark", "window", "zzz_absent"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in TA.bm25_scores(docs, terms).collect()
    }

    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    tok = {d: t.strip().lower().split() for d, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(t) for t in tok.values()) / n_docs
    k1, b = 1.2, 0.75
    want = {}
    for d, tk in tok.items():
        s = 0.0
        for t in set(t.lower() for t in terms):
            df_t = sum(1 for tkk in tok.values() if t in tkk)
            idf = math.log(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
            tf = tk.count(t)
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(tk) / avgdl)
            )
        want[d] = s
    assert got.keys() == want.keys()
    for d in want:
        assert abs(got[d] - want[d]) < 1e-4
    # a doc containing a query term must outrank one containing none
    has = [d for d, tk in tok.items() if "spark" in tk]
    none = [d for d, tk in tok.items() if not (set(tk) & {"spark", "window"})]
    if has and none:
        assert got[has[0]] > got[none[0]]


def test_bm25_null_and_empty_text_score_zero(spark):
    """ADVICE (round 3): NULL text must not poison tf/dl/avgdl (F.split
    of NULL has size -1) and empty/whitespace text must count as dl=0,
    not [""] with dl=1 — both score exactly 0.0 and real docs keep
    finite positive scores."""
    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across partitions"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "no query terms here at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in TA.bm25_scores(docs, ["spark", "partitions"]).collect()
    }
    assert got[2] == 0.0 and got[3] == 0.0 and got[4] == 0.0
    assert got[5] == 0.0
    assert got[1] > 0.0
    # all-empty corpus: no NaN/NULL/Inf, everything 0.0
    empty = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    got2 = {
        r["doc_id"]: r["bm25"]
        for r in TA.bm25_scores(empty, ["spark"]).collect()
    }
    assert got2 == {1: 0.0, 2: 0.0}


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [("Hello, world! 42 times",)], "text string"
    )
    n = df.select(TA.bpe_ish_token_count(F.col("text")).alias("n")).collect()
    # Hello , world ! 42 times → 6
    assert n[0]["n"] == 6


def test_ivf_topk_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = S.cosine_topk(qs, cands, k=5)
    approx = S.ivf_topk(qs, cands, k=5, n_cells=8, n_probe=4)
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(approx_pairs) == 25  # 5 queries x top-5, all ranked
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3  # probing half the cells on isotropic data


def test_connected_components_transitive_chains(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["id"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,       # chain collapses to min id
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_minhash_dedup_transitive(spark, docs_with_dups):
    out = D.minhash_dedup(
        docs_with_dups, threshold=0.5, transitive=True, k=32, bands=8
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 10_000 not in ids and 10_001 not in ids
    assert {0, 1, 2} <= ids


def test_ivf_kmeans_refinement_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = S.cosine_topk(qs, cands, k=5)
    refined = S.ivf_topk(qs, cands, k=5, n_cells=8, n_probe=4, kmeans_iters=5)
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ref_pairs = {(r["query_id"], r["vec_id"]) for r in refined.collect()}
    assert len(ref_pairs) == 25
    assert len(exact_pairs & ref_pairs) / len(exact_pairs) >= 0.3


def test_cosine_neardup_block_partitioned_matches_bruteforce(spark):
    """The distributed block-pair path (forced multi-block via tiny
    block_rows) produces exactly the brute-force all-pairs result —
    cross-block pairs must be oriented by id, not dropped."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 60, 8
    mat = rng.normal(size=(n, dim))
    # plant near-dups across the id range (they will hash to different blocks)
    mat[37] = mat[2] + rng.normal(scale=0.01, size=dim)
    mat[58] = mat[11] + rng.normal(scale=0.01, size=dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_neardup_pairs(
            df, threshold=0.6, block_rows=16
        ).collect()
    }

    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    want = {
        (a, b)
        for a, b in itertools.combinations(range(n), 2)
        if sims[a, b] >= 0.6
    }
    assert (2, 37) in want and (11, 58) in want
    assert got == want


def test_dup_ngram_ratio_repetition_signal(spark):
    """Repetition ratio: 0 for all-unique grams, high for looped text,
    0 for sub-n-gram docs."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),           # 4 distinct 2-grams / 4
            (2, "spam spam spam spam"), # 1 distinct / 3
            (3, "one"),                 # < 2 tokens
            (4, "x y x y x y"),         # grams: xy yx xy yx xy -> 2/5
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["r"]
        for r in df.select(
            "doc_id", TA.dup_ngram_ratio(F.col("text"), 2).alias("r")
        ).collect()
    }
    assert out[1] == 0.0
    assert abs(out[2] - (1 - 1 / 3)) < 1e-6
    assert out[3] == 0.0
    assert abs(out[4] - (1 - 2 / 5)) < 1e-6


def test_redact_pii_kinds_and_order(spark):
    cases = [
        # email redacted before phone can eat its digits
        ("mail bob.smith+x@corp.example.org now",
         "mail <EMAIL> now", 1),
        # SSN shape wins over the generic phone shape
        ("ssn 123-45-6789 end", "ssn <SSN> end", 1),
        ("call +1 (415) 555-0199 today", "call <PHONE> today", 1),
        ("host 10.0.255.3 port", "host <IP> port", 1),
        ("a@b.io or 10.1.1.1 or 555-123-4567",
         "<EMAIL> or <IP> or <PHONE>", 3),
        ("no pii here", "no pii here", 0),
        ("", "", 0),
    ]
    df = spark.createDataFrame(cases, "text string, want string, n int")
    got = df.select(
        "want", "n",
        TA.redact_pii(F.col("text")).alias("red"),
        TA.pii_count(F.col("text")).alias("cnt"),
    ).collect()
    for r in got:
        assert r["red"] == r["want"], (r["red"], r["want"])
        assert r["cnt"] == r["n"], (r["red"], r["cnt"], r["n"])


def test_redact_pii_kind_subset(spark):
    df = spark.createDataFrame([("a@b.io and 10.1.1.1",)], "text string")
    out = df.select(
        TA.redact_pii(F.col("text"), kinds=["EMAIL"]).alias("red")
    ).collect()[0]["red"]
    assert out == "<EMAIL> and 10.1.1.1"


@pytest.mark.slow
def test_curate_corpus_end_to_end(spark):
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
             "omega red blue green yellow purple orange black white "
             "north south east west").split()
    base = "the " + " ".join(words[:30]) + " and more of it"   # en, 35 toks
    near = base.replace("omicron", "OTHERWORD")                # 1-token edit
    bench_span = "zebra yak xylo wombat viper urchin tapir swan"
    contaminated = ("the " + " ".join(words[30:]) + " and then of course "
                    + bench_span + " appears here")
    clean2 = ("the " + " ".join(reversed(words[:20]))
              + " and none of those")
    rows = [
        (0, base),
        (1, base),                                   # exact dup → dropped
        (2, near),                                   # near dup → dropped
        (3, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@"),  # junk → dropped
        (4, "el coche la casa de madrid el sol la luna de noche"),  # es
        (5, ("spam ham " * 12).strip()),             # repetitive → dropped
        (6, contaminated),                           # benchmark hit
        (7, clean2),                                 # survives
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = spark.createDataFrame(
        [(100, "intro words then " + bench_span + " trailing tail here")],
        "doc_id long, text string",
    )
    out = curate_corpus(docs, benchmark, lang_allow=("en",))
    assert out.columns == ["doc_id", "text"]
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 7]

    # incremental mode: an existing corpus already holding `base`
    # (exactly) and a near-dup of `clean2` shrinks the survivors to none
    existing = spark.createDataFrame(
        [(900, base), (901, clean2 + " zzz")],  # exact + near (J≈0.96)
        "doc_id long, text string",
    )
    frames = {}
    out2 = curate_corpus(
        docs, benchmark, lang_allow=("en",), existing_corpus=existing,
        stage_frames=frames,
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == []

    # the diagnostic funnel covers the INCREMENTAL boundary too: both
    # remaining survivors die against the existing corpus (0 exact,
    # 7 near), and every drop is attributed per document
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        rejection_log,
        stage_counts,
    )

    assert stage_counts(frames) == {
        "input": 8, "exact_dedup": 7, "quality_gates": 4,
        "near_dup": 3, "decontamination": 2, "incremental_dedup": 0,
    }
    assert {
        r["doc_id"]: r["stage"] for r in rejection_log(frames).collect()
    } == {
        1: "exact_dedup",
        3: "quality_gates", 4: "quality_gates", 5: "quality_gates",
        2: "near_dup",
        6: "decontamination",
        0: "incremental_dedup", 7: "incremental_dedup",
    }
    # a disjoint existing corpus changes nothing
    disjoint = spark.createDataFrame(
        [(900, "totally unrelated corpus text about other things entirely")],
        "doc_id long, text string",
    )
    out3 = curate_corpus(
        docs, benchmark, lang_allow=("en",), existing_corpus=disjoint
    )
    assert sorted(r["doc_id"] for r in out3.collect()) == [0, 7]


def test_pq_topk_shortlist_recall_vs_exact(spark):
    """PQ ranks by quantized similarity, so on near-isotropic synthetic
    vectors (true cosines ~N(0, 1/8)) direct top-5 agreement with exact
    is noise-bound by construction; the production composition — PQ
    SHORTLIST then exact re-rank — is what must hold. A shortlist of
    100/495 candidates recovers 88% of the exact top-5 here (verified
    equal to a numpy reference implementation of the same codebooks)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = S.cosine_topk(qs, cands, k=5)
    shortlist = S.pq_topk(qs, cands, k=100, m=8, ks=16)
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    rows = shortlist.collect()
    short_pairs = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(short_pairs) == 5 * 100
    # quantized sims stay in the cosine range
    assert all(-1.01 <= r["pq_sim"] <= 1.01 for r in rows)
    # exact re-rank of a shortlist containing the true top-5 recovers it,
    # so shortlist containment IS end-to-end recall
    recall = len(exact_pairs & short_pairs) / len(exact_pairs)
    assert recall >= 0.8  # deterministic: measured 0.88

    # deterministic codebooks: same result on re-run
    again = {(r["query_id"], r["vec_id"]) for r in
             S.pq_topk(qs, cands, k=100, m=8, ks=16).collect()}
    assert short_pairs == again


def test_ivfpq_shortlist_on_clustered_data(spark):
    """IVF-PQ (residual PQ, r12) on a clustered corpus, in the
    production shortlist framing its docstring commits to: a
    shortlist of 25/~790 must contain the exact top-5 (measured 0.90
    containment on this geometry), quantized sims stay in cosine
    range, training is seed-deterministic, and the probe mask REALLY
    bounds the scan — with n_probe=1, every returned candidate shares
    the query's own cell (on this well-separated mixture, its cluster
    mod-class: cells train from the lowest 8 ids, one per cluster)."""
    import numpy as np

    rng = np.random.default_rng(3)
    n_clusters, per, dim = 8, 100, 16
    C = rng.normal(scale=1.0, size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        # sigma ~ |center| component scale: clusters are separated but
        # within-cluster cosine spread is resolvable by 16 codes/2-dim
        # subspace (the degenerate near-dup-tight regime is covered by
        # tools/op_replica.py's clustered recall check)
        v = C[i % n_clusters] + 1.0 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(8)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 8)

    def topk_sets(df):
        out = {}
        for r in df.select("query_id", "vec_id").collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = topk_sets(S.cosine_topk(qs, cands, k=5))
    short = S.ivfpq_topk(
        qs, cands, k=25, n_cells=8, n_probe=2, m=8, ks=16
    )
    got = short.collect()
    sl = topk_sets(short)
    containment = sum(
        len(sl.get(q, set()) & ids) / len(ids) for q, ids in truth.items()
    ) / len(truth)
    assert containment >= 0.8, f"shortlist containment {containment}"
    # quantized sims stay in the cosine range; ranks well-formed
    assert all(-1.01 <= r["pq_sim"] <= 1.01 for r in got)
    assert all(1 <= r["rank"] <= 25 for r in got)

    # determinism: training samples and codebooks are seed-pinned
    again = topk_sets(
        S.ivfpq_topk(qs, cands, k=25, n_cells=8, n_probe=2, m=8, ks=16)
    )
    assert again == sl

    # the probe mask bounds the scan
    one = S.ivfpq_topk(qs, cands, k=5, n_cells=8, n_probe=1, m=8, ks=16)
    clusters_of = {i: i % n_clusters for i, _ in rows}
    for r in one.collect():
        assert (
            clusters_of[r["vec_id"]] == clusters_of[r["query_id"]]
        ), "n_probe=1 returned a candidate outside the probed cell"


def test_chunk_documents_reconstruction_and_overlap(spark):
    rows = [
        (0, " ".join(f"w{i}" for i in range(10))),
        (1, "short doc"),
        (2, "exactly four tokens here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # overlap=0: chunks partition the tokens; rejoining reconstructs
    out = TA.chunk_documents(docs, chunk_tokens=4, overlap=0)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        )
    for did, text in rows:
        parts = sorted(got[did])
        assert [c for c, _, _ in parts] == list(range(len(parts)))
        assert " ".join(t for _, t, _ in parts) == text
        assert all(n <= 4 for _, _, n in parts)
    assert len(got[0]) == 3 and len(got[1]) == 1 and len(got[2]) == 1

    # overlap=2: consecutive chunks share exactly 2 tokens; all covered
    out2 = TA.chunk_documents(docs, chunk_tokens=4, overlap=2)
    ch0 = [r["chunk_text"].split() for r in sorted(
        out2.filter(F.col("doc_id") == 0).collect(),
        key=lambda r: r["chunk_id"])]
    for a, b in zip(ch0, ch0[1:]):
        assert a[-2:] == b[:2]
    flat = ch0[0] + [t for c in ch0[1:] for t in c[2:]]
    assert flat == rows[0][1].split()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        TA.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_strip_boilerplate(spark):
    rows = [
        ("see https://ex.com/a?b=1 and www.foo.org/x now", "see and now"),
        ("<p class='x'>hello</p> <br/> world", "hello world"),
        ("a < b and c > d stays", "a < b and c > d stays"),
        ("plain text", "plain text"),
    ]
    df = spark.createDataFrame(rows, "text string, want string")
    for r in df.select(
        "want", TA.strip_boilerplate(F.col("text")).alias("got")
    ).collect():
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_rolling_fingerprints_unchanged_by_rewrite(spark):
    """ngrams-based spans hash identically to the per-position slice
    form (join-by-space strings are equal by construction)."""
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",), ("tiny",)],
        "text string",
    )
    def old_form(text, window=8):
        toks = TA.tokens(text)
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))
        )
        return F.transform(
            idx,
            lambda i: F.xxhash64(
                F.array_join(F.slice(toks, i + 1, window), " ")
            ),
        )
    out = df.select(
        TA.rolling_fingerprints(F.col("text")).alias("new"),
        old_form(F.col("text")).alias("old"),
    ).collect()
    for r in out:
        assert r["new"] == r["old"]


def test_winnow_sketch_matches_python_reference(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    window, w_sel = 8, 4
    got = {r["doc_id"]: r["sk"] for r in docs.select(
        "doc_id",
        TA.winnow_sketch(F.col("text"), window, w_sel).alias("sk"),
    ).collect()}
    fps = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id",
        TA.rolling_fingerprints(F.col("text"), window).alias("fp"),
    ).collect()}
    for did, fp in fps.items():
        n = len(fp)
        width = max(n - (w_sel - 1), 1)
        want = sorted({min(fp[i:i + w_sel]) for i in range(width)})
        assert got[did] == want, did
    # shared-run guarantee: two docs sharing a long token run share a
    # sketch fingerprint
    a = "zz " * 3 + " ".join(f"s{i}" for i in range(window + w_sel - 1))
    b = " ".join(f"s{i}" for i in range(window + w_sel - 1)) + " qq rr"
    df2 = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    sk = {r["doc_id"]: set(r["sk"]) for r in df2.select(
        "doc_id", TA.winnow_sketch(F.col("text"), window, w_sel).alias("sk")
    ).collect()}
    assert sk[0] & sk[1]


def test_incremental_dedup_against_corpus(spark):
    """Cross-corpus (recurring-ingest) dedup: a new batch is checked
    against an existing corpus — exact clones die on the hash anti-join,
    near-duplicates die on LSH + Jaccard verify, fresh documents and
    within-batch-only near-dups survive (within-batch near-dup is the
    self-join operator's job, documented)."""
    words = [f"tok{i}" for i in range(60)]
    corpus_text = " ".join(words)
    near_words = list(words)
    near_words[30] = "CHANGED"
    near_text = " ".join(near_words)  # J = 55/61 ≈ 0.90 vs corpus_text
    fresh_text = " ".join(f"other{i}" for i in range(60))

    corpus = spark.createDataFrame(
        [(1000, corpus_text),
         (1001, " ".join(f"held{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, corpus_text),     # exact clone of corpus -> drop
            (2, near_text),       # near-dup of corpus    -> drop
            (3, fresh_text),      # fresh                 -> keep
            (4, fresh_text),      # within-batch exact dup -> drop (min id kept)
        ],
        "doc_id long, text string",
    )
    out = D.incremental_dedup(batch, corpus, jaccard_threshold=0.8)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [3]

    # candidates expose the cross-corpus pairing (new id, corpus id)
    cand = D.cross_corpus_lsh_candidates(batch, corpus).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cand}
    assert (1, 1000) in pairs and (2, 1000) in pairs
    assert all(a < 1000 <= b for a, b in pairs)

    # an empty corpus drops nothing beyond within-batch exact dedup
    empty = corpus.filter(F.lit(False))
    kept2 = sorted(
        r["doc_id"]
        for r in D.incremental_dedup(batch, empty).collect()
    )
    assert kept2 == [1, 2, 3]


def test_cross_corpus_cosine_pairs_equals_bruteforce(spark):
    """Cross-corpus block-pair matmul == brute-force cosine over the
    batch x corpus rectangle, exercised on a multi-block grid (small
    block_rows forces several blocks per side)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") < 80)
    corpus = emb.filter(F.col("vec_id") >= 80)
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.cross_corpus_cosine_pairs(
            batch, corpus, threshold=0.2, block_rows=32
        ).collect()
    }

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    want = {}
    for a in vecs:
        if a >= 80:
            continue
        for b in vecs:
            if b < 80:
                continue
            c = cos(vecs[a], vecs[b])
            if c >= 0.2:
                want[(a, b)] = c
    assert set(got) == set(want)
    for k_, v in want.items():
        assert got[k_] == pytest.approx(v, abs=1e-5)
    # orientation: id_a always from the batch side, id_b from the corpus
    assert all(a < 80 <= b for a, b in got)


def test_band_table_persisted_index_equals_on_the_fly(spark, tmp_path):
    """A persisted band_table probed via corpus_bands yields exactly the
    candidates of on-the-fly corpus banding (same params), and the
    exactly-one-of guard rejects ambiguous calls."""
    emb_docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = emb_docs.filter(F.col("doc_id") % 2 == 0)
    batch = emb_docs.filter(F.col("doc_id") % 2 == 1).limit(50)

    idx_path = str(tmp_path / "band_index")
    D.band_table(corpus, k=32, bands=8).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    live = {
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in D.cross_corpus_lsh_candidates(
            batch, corpus, k=32, bands=8
        ).collect()
    }
    from_index = {
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in D.cross_corpus_lsh_candidates(
            batch, corpus_bands=idx, k=32, bands=8
        ).collect()
    }
    assert from_index == live

    with pytest.raises(ValueError, match="exactly one"):
        D.cross_corpus_lsh_candidates(batch, corpus, corpus_bands=idx)
    with pytest.raises(ValueError, match="exactly one"):
        D.cross_corpus_lsh_candidates(batch)


def test_ivf_index_persistence_round_trip(spark, tmp_path):
    """VERDICT r4 #2: persisted IVF centroids + assignments probe
    identically to the in-memory path, run ZERO training jobs on the
    load path (training is poisoned during the probe), and raise on
    parameter drift."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(k=5, n_cells=8, n_probe=4, kmeans_iters=2)

    direct = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
              for r in S.ivf_topk(qs, cands, **kw).collect()}

    cent_path = str(tmp_path / "ivf_centroids")
    asg_path = str(tmp_path / "ivf_assignments")
    S.ivf_centroids_table(cands, n_cells=8, kmeans_iters=2).write.parquet(
        cent_path
    )
    cents = spark.read.parquet(cent_path)
    S.ivf_assign_table(
        cands, cents, n_cells=8, kmeans_iters=2
    ).write.parquet(asg_path)
    asg = spark.read.parquet(asg_path)

    def _poisoned(*a, **k):
        raise AssertionError("training ran on the load path")

    real = S._train_ivf
    try:
        S._train_ivf = _poisoned
        loaded = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
                  for r in S.ivf_topk(
                      qs, cands, centroids=cents, assignments=asg, **kw
                  ).collect()}
    finally:
        S._train_ivf = real
    assert loaded == direct

    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivf_topk(qs, cands, k=5, n_cells=16, n_probe=4,
                   kmeans_iters=2, centroids=cents)
    with pytest.raises(ValueError, match="requires centroids"):
        S.ivf_topk(qs, cands, assignments=asg, **kw)


def test_ivf_clustered_corpus_prunes_the_vector_read(spark, tmp_path):
    """r13: IVF clustered storage (ivf_clustered_corpus_table) — the
    FAISS inverted-list layout as a partitionBy("cell") parquet table.
    Probing it must (a) equal the assignments-path result row-for-row,
    (b) run zero training and never scan the original candidates table,
    and (c) show parquet PARTITION pruning to the probed cells in the
    executed plan — the property that bounds probe BYTES at 100 TB."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(k=5, n_cells=8, n_probe=2, kmeans_iters=2)
    idx_kw = dict(n_cells=8, kmeans_iters=2)

    S.ivf_centroids_table(cands, **idx_kw).write.parquet(
        str(tmp_path / "cents")
    )
    cents = spark.read.parquet(str(tmp_path / "cents"))
    S.ivf_assign_table(cands, cents, **idx_kw).write.parquet(
        str(tmp_path / "asg")
    )
    asg = spark.read.parquet(str(tmp_path / "asg"))
    S.ivf_clustered_corpus_table(cands, cents, **idx_kw).write.partitionBy(
        "cell"
    ).parquet(str(tmp_path / "clustered"))
    clustered = spark.read.parquet(str(tmp_path / "clustered"))

    base = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in S.ivf_topk(
                qs, cands, centroids=cents, assignments=asg, **kw
            ).collect()}
    assert base  # non-degenerate

    def _poisoned(*a, **k):
        raise AssertionError("training ran on the clustered path")

    real = S._train_ivf
    try:
        S._train_ivf = _poisoned
        out = S.ivf_topk(qs, cands, centroids=cents, clustered=clustered,
                         **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
               for r in out.collect()}
    finally:
        S._train_ivf = real
    assert got == base

    # the probed-cell filter reaches the clustered scan as PARTITION
    # pruning (the plan holds several scans — the query side reads the
    # embeddings file for q_cells — so check every PartitionFilters
    # section for the cell IN filter)
    sections = [
        c.split("]")[0] for c in plan.split("PartitionFilters: [")[1:]
    ]
    assert any(
        "cell" in s and "IN" in s.upper() for s in sections
    ), f"no cell IN partition filter in {sections}"

    # artifact validation: fail closed
    with pytest.raises(ValueError, match="requires centroids"):
        S.ivf_topk(qs, cands, clustered=clustered, **kw)
    with pytest.raises(ValueError, match="not both"):
        S.ivf_topk(qs, cands, centroids=cents, assignments=asg,
                   clustered=clustered, **kw)
    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivf_topk(qs, cands, k=5, n_cells=16, n_probe=2, kmeans_iters=2,
                   centroids=cents, clustered=clustered)
    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivf_clustered_corpus_table(cands, cents, n_cells=16)


def test_pq_index_persistence_round_trip(spark, tmp_path):
    """VERDICT r4 #2: persisted PQ codebooks + encoded corpus probe
    identically to the in-memory path with training poisoned, and raise
    on parameter drift."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(k=5, m=8, ks=16, kmeans_iters=3)

    direct = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
              for r in S.pq_topk(qs, cands, **kw).collect()}

    books_path = str(tmp_path / "pq_codebooks")
    codes_path = str(tmp_path / "pq_codes")
    S.pq_codebooks_table(cands, m=8, ks=16, kmeans_iters=3).write.parquet(
        books_path
    )
    books = spark.read.parquet(books_path)
    S.pq_encode_table(cands, books, m=8, ks=16, kmeans_iters=3).write.parquet(
        codes_path
    )
    codes = spark.read.parquet(codes_path)

    def _poisoned(*a, **k):
        raise AssertionError("training ran on the load path")

    real = S._train_pq
    try:
        S._train_pq = _poisoned
        loaded = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
                  for r in S.pq_topk(
                      qs, cands, codebooks=books, codes=codes, **kw
                  ).collect()}
    finally:
        S._train_pq = real
    assert loaded == direct

    with pytest.raises(ValueError, match="parameter mismatch"):
        S.pq_topk(qs, cands, k=5, m=8, ks=32, kmeans_iters=3,
                  codebooks=books)
    with pytest.raises(ValueError, match="requires codebooks"):
        S.pq_topk(qs, cands, codes=codes, **kw)


def test_ivfpq_index_persistence_round_trip(spark, tmp_path):
    """Same contract as the IVF and PQ round trips, for the r12
    composed tier: persisted coarse centroids + residual codebooks +
    encoded corpus probe identically to the in-memory path with
    training poisoned; parameter drift and mixed-provenance artifact
    pairs raise."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(k=5, n_cells=8, n_probe=4, m=8, ks=16, kmeans_iters=3)

    direct = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
              for r in S.ivfpq_topk(qs, cands, **kw).collect()}
    assert direct  # non-degenerate probe

    cents_tbl, books_tbl = S.ivfpq_centroids_table(
        cands, n_cells=8, m=8, ks=16, kmeans_iters=3
    )
    cents_tbl.write.parquet(str(tmp_path / "ivfpq_centroids"))
    books_tbl.write.parquet(str(tmp_path / "ivfpq_codebooks"))
    cents = spark.read.parquet(str(tmp_path / "ivfpq_centroids"))
    books = spark.read.parquet(str(tmp_path / "ivfpq_codebooks"))
    S.ivfpq_encode_table(
        cands, cents, books, n_cells=8, m=8, ks=16, kmeans_iters=3
    ).write.parquet(str(tmp_path / "ivfpq_codes"))
    codes = spark.read.parquet(str(tmp_path / "ivfpq_codes"))

    def _poisoned(*a, **k):
        raise AssertionError("training ran on the load path")

    real = S._train_ivfpq
    try:
        S._train_ivfpq = _poisoned
        loaded = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
                  for r in S.ivfpq_topk(
                      qs, cands, centroids=cents, codebooks=books,
                      codes=codes, **kw
                  ).collect()}
    finally:
        S._train_ivfpq = real
    assert loaded == direct

    # drifted parameters must fail closed
    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivfpq_topk(qs, cands, k=5, n_cells=16, n_probe=4, m=8,
                     ks=16, kmeans_iters=3, centroids=cents,
                     codebooks=books)
    # artifact pairs are all-or-nothing (one joint training stamp)
    with pytest.raises(ValueError, match="together"):
        S.ivfpq_topk(qs, cands, centroids=cents, **kw)
    with pytest.raises(ValueError, match="requires centroids"):
        S.ivfpq_topk(qs, cands, codes=codes, **kw)
    # a whole-vector PQ codebook table (different stamp) cannot pose
    # as the residual half of an IVF-PQ model
    wrong_books = S.pq_codebooks_table(cands, m=8, ks=16, kmeans_iters=3)
    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivfpq_topk(qs, cands, centroids=cents, codebooks=wrong_books,
                     **kw)


def test_ivfpq_probed_cell_pruning_reaches_the_scan(spark, tmp_path):
    """r12 verdict #1: ivfpq_topk prunes the code scan to the union of
    probed cells BEFORE the mapInPandas pass. On a cell-partitioned
    persisted codes table the pruning must be visible in the PLAN as
    parquet PartitionFilters (bytes skipped, not rows masked), and
    behaviorally every returned candidate must sit in one of its own
    query's probed cells."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(n_cells=8, m=8, ks=16, kmeans_iters=3)

    cents_tbl, books_tbl = S.ivfpq_centroids_table(cands, **kw)
    cents_tbl.write.parquet(str(tmp_path / "cents"))
    books_tbl.write.parquet(str(tmp_path / "books"))
    cents = spark.read.parquet(str(tmp_path / "cents"))
    books = spark.read.parquet(str(tmp_path / "books"))
    # the layout the encode_table docstring prescribes at scale
    S.ivfpq_encode_table(cands, cents, books, **kw).write.partitionBy(
        "cell"
    ).parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))

    out = S.ivfpq_topk(
        qs, cands, k=25, n_probe=2, centroids=cents, codebooks=books,
        codes=codes, **kw,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the isin filter must push THROUGH the cell->__cell alias into the
    # partitioned scan: partition pruning, the thing that bounds bytes
    assert "PartitionFilters: [" in plan
    part_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in part_filters and "IN" in part_filters.upper()

    # behavioral bound: each query's results come only from the cells
    # THAT query probes (recompute the probe sets from the persisted
    # coarse centroids, independently of the operator)
    C = np.array(
        [r["centroid"] for r in sorted(
            cents.select("cell", "centroid").collect(), key=lambda r: r[0]
        )]
    )
    q_rows = {r["query_id"]: np.array(r["qvec"], dtype=np.float64)
              for r in qs.collect()}
    probed = {}
    for qid, v in q_rows.items():
        v = v / (np.linalg.norm(v) or 1.0)
        probed[qid] = set(np.argsort(-(C @ v))[:2].tolist())
    cell_of = {r["vec_id"]: r["cell"]
               for r in codes.select("vec_id", "cell").collect()}
    got = out.collect()
    assert got, "pruned probe returned nothing"
    for r in got:
        assert cell_of[r["vec_id"]] in probed[r["query_id"]]


def test_pq_and_ivfpq_string_ids_round_trip(spark, tmp_path):
    """r12 verdict #2: the PQ tiers are id-type-generic like _ivf_assign
    (string vector ids survive the round trip). Zero-padded string ids
    preserve the lowest-ids training-sample order, so the string-id run
    must equal the long-id run 1:1 under the id mapping — for both the
    in-memory path and the persisted-codes path."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    s_emb = emb.select(
        F.format_string("doc-%04d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    s_qs = s_emb.filter(F.col("vec_id") < "doc-0005").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    s_cands = s_emb.filter(F.col("vec_id") >= "doc-0005")

    def _mapped(rows):
        return {(f"doc-{r['query_id']:04d}", f"doc-{r['vec_id']:04d}",
                 r["pq_sim"], r["rank"]) for r in rows}

    def _raw(rows):
        return {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
                for r in rows}

    kw_pq = dict(k=5, m=8, ks=16, kmeans_iters=3)
    base_pq = _mapped(S.pq_topk(qs, cands, **kw_pq).collect())
    got_pq = S.pq_topk(s_qs, s_cands, **kw_pq)
    assert dict(got_pq.dtypes)["query_id"] == "string"
    assert dict(got_pq.dtypes)["vec_id"] == "string"
    assert _raw(got_pq.collect()) == base_pq

    kw = dict(k=5, n_cells=8, n_probe=4, m=8, ks=16, kmeans_iters=3)
    base = _mapped(S.ivfpq_topk(qs, cands, **kw).collect())
    got = S.ivfpq_topk(s_qs, s_cands, **kw)
    assert dict(got.dtypes)["query_id"] == "string"
    assert dict(got.dtypes)["vec_id"] == "string"
    assert _raw(got.collect()) == base

    # persisted path: string ids survive parquet + the pruned scan
    idx_kw = dict(n_cells=8, m=8, ks=16, kmeans_iters=3)
    cents_tbl, books_tbl = S.ivfpq_centroids_table(s_cands, **idx_kw)
    cents_tbl.write.parquet(str(tmp_path / "s_cents"))
    books_tbl.write.parquet(str(tmp_path / "s_books"))
    cents = spark.read.parquet(str(tmp_path / "s_cents"))
    books = spark.read.parquet(str(tmp_path / "s_books"))
    S.ivfpq_encode_table(s_cands, cents, books, **idx_kw).write.parquet(
        str(tmp_path / "s_codes")
    )
    codes = spark.read.parquet(str(tmp_path / "s_codes"))
    loaded = S.ivfpq_topk(
        s_qs, s_cands, centroids=cents, codebooks=books, codes=codes, **kw
    )
    assert _raw(loaded.collect()) == base


def test_pq_distributed_query_side_matches_collect(spark, monkeypatch):
    """The rectangle shape (queries stay a DataFrame, cogrouped
    block-rectangle scan, per-block LUTs) returns exactly what the
    driver-collect shape returns — for both pq_topk and ivfpq_topk, on
    long AND string ids, with block sizes small enough to force a
    genuinely multi-block grid. The collect shape scoring 3 queries at
    a time equals the one-chunk result too (pins the chunk boundary)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 8)

    def _raw(rows):
        return {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
                for r in rows}

    def _patched(fn, *args, lut_bytes=1, **kws):
        with monkeypatch.context() as mp:
            mp.setattr(S, "_QUERY_BLOCK_ROWS", 3)
            mp.setattr(S, "_CODE_BLOCK_ROWS", 40)
            mp.setattr(S, "_LUT_BYTES", lut_bytes)
            return fn(*args, **kws)

    kw_pq = dict(k=5, m=8, ks=16, kmeans_iters=3)
    base_pq = _raw(S.pq_topk(qs, cands, **kw_pq).collect())
    assert _raw(_patched(S.pq_topk, qs, cands, **kw_pq).collect()) == \
        base_pq
    assert _raw(_patched(S.pq_topk, qs, cands, lut_bytes=S._LUT_BYTES,
                         **kw_pq).collect()) == base_pq

    kw = dict(k=5, n_cells=8, n_probe=4, m=8, ks=16, kmeans_iters=3)
    assert _raw(_patched(S.ivfpq_topk, qs, cands, **kw).collect()) == \
        _raw(S.ivfpq_topk(qs, cands, **kw).collect())

    # string ids: the rectangle's xxhash64 blocking and the cogroup
    # schemas must be id-type-generic end to end
    s_qs = qs.withColumn(
        "query_id", F.format_string("doc-%04d", F.col("query_id"))
    )
    s_cands = cands.withColumn(
        "vec_id", F.format_string("doc-%04d", F.col("vec_id"))
    )
    for fn, kws in ((S.pq_topk, kw_pq), (S.ivfpq_topk, kw)):
        got = _patched(fn, s_qs, s_cands, **kws)
        assert dict(got.dtypes)["query_id"] == "string"
        assert _raw(got.collect()) == _raw(
            fn(s_qs, s_cands, **kws).collect()
        )


def test_ivfpq_distributed_semijoin_prunes_partitions(
    spark, tmp_path, monkeypatch
):
    """The rectangle shape's probed-cell restriction is a broadcast
    LEFT-SEMI join on a ≤ n_cells cells frame — no O(nq·n_probe) isin
    literal — and on a cell-partitioned persisted codes table it still
    bounds BYTES: Catalyst turns it into dynamic partition pruning
    (PartitionFilters carries a dynamicpruningexpression on cell)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(n_cells=8, m=8, ks=16, kmeans_iters=3)

    cents_tbl, books_tbl = S.ivfpq_centroids_table(cands, **kw)
    cents_tbl.write.parquet(str(tmp_path / "cents"))
    books_tbl.write.parquet(str(tmp_path / "books"))
    cents = spark.read.parquet(str(tmp_path / "cents"))
    books = spark.read.parquet(str(tmp_path / "books"))
    S.ivfpq_encode_table(cands, cents, books, **kw).write.partitionBy(
        "cell"
    ).parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))

    with monkeypatch.context() as mp:
        mp.setattr(S, "_LUT_BYTES", 1)  # no query fits: the rectangle
        out = S.ivfpq_topk(
            qs, cands, k=25, n_probe=2, centroids=cents, codebooks=books,
            codes=codes, **kw,
        )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    pruned = [seg for seg in plan.split("PartitionFilters: [")[1:]
              if "dynamicpruningexpression(cell" in seg.split("]")[0]]
    assert pruned, "semi-join did not become partition pruning"

    # equivalence against the collect path on the same artifacts
    base = {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
            for r in S.ivfpq_topk(
                qs, cands, k=25, n_probe=2, centroids=cents,
                codebooks=books, codes=codes, **kw).collect()}
    assert {(r["query_id"], r["vec_id"], r["pq_sim"], r["rank"])
            for r in out.collect()} == base


def test_pq_shape_follows_query_count(spark, monkeypatch):
    """Queries whose lookup tables outgrow ``_LUT_BYTES`` take the
    cogrouped rectangle on their own (no flag, no error) and return
    exactly the rows the collect shape returns."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 10)
    for fn, kw in (
        (S.pq_topk, dict(k=3, m=8, ks=16)),
        (S.ivfpq_topk, dict(k=3, n_cells=8, n_probe=2, m=8, ks=16)),
    ):
        base = fn(qs, cands, **kw)
        with monkeypatch.context() as mp:
            # a 10-query LUT is 10·m·ks·8 bytes: cap at 9 queries
            mp.setattr(S, "_LUT_BYTES", 9 * 8 * 16 * 8)
            big = fn(qs, cands, **kw)
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        base_plan = base._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" not in base_plan
        assert sorted(big.collect()) == sorted(base.collect())


def test_ivf_topk_clustered_candidates_optional(spark, tmp_path):
    """r13 advice: with clustered= the candidates frame is never
    scanned, so the API accepts candidates=None; without clustered=
    omitting candidates raises."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    kw = dict(k=5, n_cells=8, n_probe=4, kmeans_iters=2)

    S.ivf_centroids_table(cands, n_cells=8, kmeans_iters=2).write.parquet(
        str(tmp_path / "cents")
    )
    cents = spark.read.parquet(str(tmp_path / "cents"))
    S.ivf_clustered_corpus_table(
        cands, cents, n_cells=8, kmeans_iters=2
    ).write.partitionBy("cell").parquet(str(tmp_path / "clustered"))
    clustered = spark.read.parquet(str(tmp_path / "clustered"))

    with_cands = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
                  for r in S.ivf_topk(qs, cands, centroids=cents,
                                      clustered=clustered, **kw).collect()}
    no_cands = {(r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
                for r in S.ivf_topk(qs, centroids=cents,
                                    clustered=clustered, **kw).collect()}
    assert no_cands == with_cands and no_cands

    with pytest.raises(ValueError, match="candidates= is required"):
        S.ivf_topk(qs, **kw)


def test_ivf_neardup_candidates_full_probe_equals_bruteforce(spark, tmp_path):
    """Probing a persisted IVF index with n_probe = n_cells is
    exhaustive: the batch-vs-corpus near-dup candidates equal the
    brute-force cosine rectangle; a partial probe returns a subset."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") < 60)
    corpus = emb.filter(F.col("vec_id") >= 60)

    cent_path = str(tmp_path / "cents")
    asg_path = str(tmp_path / "asg")
    S.ivf_centroids_table(corpus, n_cells=8).write.parquet(cent_path)
    cents = spark.read.parquet(cent_path)
    S.ivf_assign_table(corpus, cents, n_cells=8).write.parquet(asg_path)
    asg = spark.read.parquet(asg_path)

    full = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.ivf_neardup_candidates(
            batch, corpus, cents, asg,
            threshold=0.2, n_probe=8, n_cells=8,
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.cross_corpus_cosine_pairs(
            batch, corpus, threshold=0.2, block_rows=64
        ).collect()
    }
    assert set(full) == set(brute)
    for pair, sim in brute.items():
        assert full[pair] == pytest.approx(sim, abs=1e-5)
    assert all(a < 60 <= b for a, b in full)

    partial = {
        (r["id_a"], r["id_b"])
        for r in S.ivf_neardup_candidates(
            batch, corpus, cents, asg,
            threshold=0.2, n_probe=2, n_cells=8,
        ).collect()
    }
    assert partial <= set(brute)

    with pytest.raises(ValueError, match="parameter mismatch"):
        S.ivf_neardup_candidates(
            batch, corpus, cents, asg, n_probe=2, n_cells=16
        )


def _cents_table(spark, cents, n_cells, kmeans_iters=0,
                 kmeans_sample=2048, seed=42):
    """Hand-built persisted-centroids frame with a matching stamp."""
    fp = S.ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).withColumn(S.ANN_PARAMS_COL, F.lit(fp))


def test_semantic_dedup_matches_python_reference(spark):
    """Within-cluster greedy dedup == a pure-python/numpy reference;
    cross-cluster near-dups survive (the published SemDeDup trade-off)."""
    import numpy as np

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    vecs = {
        # cluster 0: 1,2 near-dup; 3 distinct
        1: [1.0, 0.05, 0.0, 0.0],
        2: [1.0, 0.06, 0.0, 0.01],
        3: [1.0, 0.0, 0.9, 0.0],
        # cluster 1: 4,5,6 all mutually near-dup
        4: [0.0, 1.0, 0.02, 0.0],
        5: [0.01, 1.0, 0.02, 0.0],
        6: [0.0, 1.0, 0.03, 0.01],
        # cross-cell near-dup pair: assigns to different cells
        7: [1.0, 0.999, 0.0, 0.0],
        8: [0.999, 1.0, 0.0, 0.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    ctable = _cents_table(spark, cents, n_cells=2)
    got = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(
            df, threshold=0.95, n_cells=2, centroids=ctable
        ).collect()
    )

    # python reference: same assignment + same greedy order
    C = np.array(cents)
    ids = sorted(vecs)
    M = np.array([vecs[i] for i in ids], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    cell = (M @ C.T).argmax(axis=1)
    expect = []
    for c in (0, 1):
        members = [k for k, i in enumerate(ids) if cell[k] == c]
        kept = []
        for k in members:  # ids ascending == index ascending here
            if all(float(M[k] @ M[j]) < 0.95 for j in kept):
                kept.append(k)
        expect += [ids[k] for k in kept]
    assert got == sorted(expect)
    # the planted cross-cell pair must BOTH survive
    assert 7 in got and 8 in got
    # within-cluster dups collapsed to their min id
    assert 1 in got and 2 not in got
    assert 4 in got and 5 not in got and 6 not in got


def test_semantic_dedup_keep_far_from_centroid(spark):
    """keep='far_from_centroid' scans least-prototypical first, so the
    member FARTHEST from the centroid survives its dup group."""
    cents = [[1.0, 0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.01, 0.0, 0.0]),   # closest to centroid
            (2, [1.0, 0.09, 0.0, 0.0]),   # farthest — near-dup of 1
        ],
        "vec_id long, embedding array<double>",
    )
    ctable = _cents_table(spark, cents, n_cells=1)
    kept_min = [
        r["vec_id"]
        for r in S.semantic_dedup(
            df, threshold=0.9, n_cells=1, centroids=ctable
        ).collect()
    ]
    kept_far = [
        r["vec_id"]
        for r in S.semantic_dedup(
            df, threshold=0.9, n_cells=1, centroids=ctable,
            keep="far_from_centroid",
        ).collect()
    ]
    assert kept_min == [1]
    assert kept_far == [2]


def test_semantic_dedup_string_ids(spark):
    """r5 advice: the applyInPandas schema derives the id type from the
    input frame instead of hardcoding long, so string vector ids work;
    greedy order is lexicographic on the string id."""
    cents = [[1.0, 0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [
            ("doc-b", [1.0, 0.01, 0.0, 0.0]),  # near-dup of doc-a
            ("doc-a", [1.0, 0.02, 0.0, 0.0]),  # min string id — survives
            ("doc-c", [0.0, 0.0, 1.0, 0.0]),   # distinct
        ],
        "vec_id string, embedding array<double>",
    )
    ctable = _cents_table(spark, cents, n_cells=1)
    kept = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(
            df, threshold=0.9, n_cells=1, centroids=ctable
        ).collect()
    )
    assert kept == ["doc-a", "doc-c"]
    dec = S.semantic_dedup(
        df, threshold=0.9, n_cells=1, centroids=ctable,
        return_decisions=True,
    )
    assert dict(dec.dtypes)["vec_id"] == "string"
    assert {r["vec_id"] for r in dec.collect() if r["kept"]} == \
        {"doc-a", "doc-c"}


def test_semantic_dedup_decisions_and_validation(spark):
    """return_decisions emits one row per input consistent with the
    survivor set; a persisted-centroid parameter mismatch raises; an
    unknown keep mode raises."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(40)
    dec = S.semantic_dedup(
        emb, threshold=0.8, n_cells=4, return_decisions=True
    )
    rows = dec.collect()
    assert len(rows) == 40
    assert {r["vec_id"] for r in rows} == {
        r["vec_id"] for r in emb.collect()
    }
    kept_ids = {r["vec_id"] for r in rows if r["kept"]}
    surv = {
        r["vec_id"]
        for r in S.semantic_dedup(emb, threshold=0.8, n_cells=4).collect()
    }
    assert kept_ids == surv
    assert all(-1.000001 <= r["centroid_sim"] <= 1.000001 for r in rows)

    ctable = _cents_table(spark, [[1.0, 0.0], [0.0, 1.0]], n_cells=2)
    with pytest.raises(ValueError, match="parameter mismatch"):
        S.semantic_dedup(emb, n_cells=4, centroids=ctable)
    with pytest.raises(ValueError, match="keep must be"):
        S.semantic_dedup(emb, keep="random")


def test_semantic_dedup_idempotent_on_survivors(spark):
    """Running semantic_dedup again over its own survivors (same
    centroids) removes nothing — the survivor set is a fixed point."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ctable = S.ivf_centroids_table(emb, n_cells=8)
    surv = S.semantic_dedup(
        emb, threshold=0.9, n_cells=8, centroids=ctable
    )
    n1 = surv.count()
    n2 = S.semantic_dedup(
        surv, threshold=0.9, n_cells=8, centroids=ctable
    ).count()
    assert 0 < n1 <= emb.count()
    assert n2 == n1


@pytest.mark.slow
def test_minhash_dedup_keep_by_quality(spark):
    """keep_by keeps the highest-scoring member of each near-dup group
    (NULL scores lose; ties fall back to min id) in both pairwise and
    transitive modes, and a quality cycle cannot drop every member."""
    base = " ".join(f"w{i}" for i in range(40))

    def near(i, repl):
        ws = base.split()
        ws[i] = repl
        return " ".join(ws)

    rows = [
        (1, base, 1.0),
        (2, near(3, "X"), 5.0),     # near-dup of 1, higher quality
        (3, near(7, "Y"), None),    # near-dup of 1/2, unscored
        (10, " ".join(f"z{i}" for i in range(40)), 0.0),  # fresh
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, score double"
    )

    default = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(df, threshold=0.7, transitive=True).collect()
    )
    assert default == [1, 10]

    by_quality = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            df, threshold=0.7, transitive=True, keep_by="score"
        ).collect()
    )
    assert by_quality == [2, 10]

    pairwise = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            df, threshold=0.7, keep_by=F.col("score")
        ).collect()
    )
    assert pairwise == [2, 10]

    # tie scores -> min id survives (matches the default orientation)
    tied = df.withColumn("score", F.lit(1.0))
    assert sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            tied, threshold=0.7, transitive=True, keep_by="score"
        ).collect()
    ) == [1, 10]

    # curate_corpus pass-through
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    out = curate_corpus(
        df,
        min_tokens=5,
        min_alpha_ratio=0.0,
        max_dup_2gram_ratio=1.0,
        jaccard_threshold=0.7,
        near_dup_keep_by="score",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 10]


def test_semantic_dedup_property_random_vectors(spark):
    """Property: the distributed within-cell greedy equals a python
    reference on random unit-ish vectors with fixed axis centroids."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import numpy as np

    dim = 4
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0]]
    coord = st.floats(
        min_value=-1.0, max_value=1.0,
        allow_nan=False, allow_infinity=False, width=32,
    )
    vec = st.lists(coord, min_size=dim, max_size=dim)

    @given(st.lists(vec, min_size=1, max_size=12))
    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(vectors):
        rows = [(i, v) for i, v in enumerate(vectors)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        ctable = _cents_table(spark, cents, n_cells=3)
        got = sorted(
            r["vec_id"]
            for r in S.semantic_dedup(
                df, threshold=0.9, n_cells=3, centroids=ctable
            ).collect()
        )

        C = np.array(cents)
        M = np.array(vectors, dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        M = M / norms
        cell = (M @ C.T).argmax(axis=1)
        expect = []
        for c in range(3):
            kept = []
            for k in range(len(vectors)):
                if cell[k] != c:
                    continue
                if all(float(M[k] @ M[j]) < 0.9 for j in kept):
                    kept.append(k)
            expect += kept
        assert got == sorted(expect)

    run()


def test_minhash_dedup_keep_by_string_ids(spark):
    """Regression: transitive keep_by must work for NON-NUMERIC id
    columns (an id-negation shortcut silently NULLed string ids and
    no-opped the dedup)."""
    base = " ".join(f"w{i}" for i in range(40))

    def near(i, repl):
        ws = base.split()
        ws[i] = repl
        return " ".join(ws)

    df = spark.createDataFrame(
        [
            ("doc-a", base, 1.0),
            ("doc-b", near(3, "X"), 5.0),   # near-dup, higher quality
            ("doc-z", " ".join(f"z{i}" for i in range(40)), 0.0),
        ],
        "doc_id string, text string, score double",
    )
    kept = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            df, threshold=0.7, transitive=True, keep_by="score"
        ).collect()
    )
    assert kept == ["doc-b", "doc-z"]


@pytest.mark.slow
def test_curate_corpus_source_cap(spark):
    """Stage 5.7: at most N survivors per source, budget spent on clean
    documents (a source's dropped duplicates don't count against it),
    retention keyed by the caller's order column."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )

    def doc(i, tag):
        return (f"the quick brown fox number {tag} jumps over the lazy "
                f"dog and then runs far away to the {tag} hills again "
                f"carrying {i} apples")

    rows = (
        [(i, doc(i, f"a{i}"), "big.example") for i in range(10)]
        + [(100, doc(100, "b"), "small.example"),
           (101, doc(100, "b"), "small.example")]  # exact dup, dropped
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = curate_corpus(docs, min_tokens=5, source_cap=3)
    got = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["source"]] += 1
    assert got["big.example"] == 3
    assert got["small.example"] == 1   # dup dropped BEFORE the cap
    assert out.columns == ["doc_id", "text", "source"]

    # quality-keyed retention: keep the highest doc_ids
    out2 = curate_corpus(
        docs, min_tokens=5, source_cap=2,
        source_cap_order_by=F.col("doc_id"),
    )
    big = sorted(r["doc_id"] for r in out2.collect()
                 if r["source"] == "big.example")
    assert big == [8, 9]


@pytest.mark.slow
def test_cli_curate_source_cap(spark, tmp_path, capsys):
    """curate --source-cap caps survivors per source column value."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    def doc(tag):
        return (f"the quick brown fox number {tag} jumps over the lazy "
                f"dog and then runs far away to the {tag} hills again")

    pool = str(tmp_path / "pool.parquet")
    spark.createDataFrame(
        [(i, doc(f"x{i}"), "hot.example") for i in range(8)]
        + [(50, doc("cold"), "cold.example")],
        "doc_id long, text string, source string",
    ).write.parquet(pool)
    out_path = str(tmp_path / "curated")
    rej_path = str(tmp_path / "rejections")
    assert main([
        "curate", "--input", pool, "--output", out_path,
        "--min-tokens", "5", "--source-cap", "2",
        "--stage-counts", "--rejections", rej_path,
    ]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["kept"] == 3
    # --rejections: every non-kept input doc is attributed to exactly
    # one enabled stage
    rej_rows = spark.read.parquet(rej_path)
    # r8: the batch verb's audit carries rule-level reason attribution
    # for composite gate stages (NULL elsewhere — no composite gate
    # drops anything in this scenario)
    assert rej_rows.columns == ["doc_id", "stage", "reason"]
    rej = {r["doc_id"]: r["stage"] for r in rej_rows.collect()}
    kept_ids = {
        r["doc_id"] for r in spark.read.parquet(out_path).collect()
    }
    assert set(rej) == (set(range(8)) | {50}) - kept_ids
    assert set(rej.values()) <= {
        "exact_dedup", "quality_gates", "near_dup", "source_cap",
    }
    # --stage-counts: the funnel covers exactly the enabled stages, in
    # pipeline order, non-increasing, ending at the kept count
    funnel = stats["stages"]
    assert list(funnel) == [
        "input", "exact_dedup", "quality_gates", "near_dup", "source_cap",
    ]
    assert funnel["input"] == 9 and funnel["source_cap"] == 3
    vals = list(funnel.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    per = {r["source"]: 0 for r in spark.read.parquet(out_path).collect()}
    for r in spark.read.parquet(out_path).collect():
        per[r["source"]] += 1
    assert per == {"hot.example": 2, "cold.example": 1}


def test_curate_corpus_every_optional_stage(spark):
    """The kitchen sink, literally: EVERY optional curate_corpus stage
    enabled at once, one planted violator per stage, and the survivor
    set pinned exactly. Stage order subtleties exercised: the shared
    15-token run is long enough for span-overlap rejection (winnowing
    guarantee 11) but below the 30-token trim threshold, so the
    DOCUMENT-dropping stage catches it and the trim stage does not."""
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
    )
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bigram_lm_tables,
    )

    def fresh(tag, n=20):
        # shorter than one cycle of the base phrase — repeated base
        # words would otherwise trip the dup-5-gram gopher rule
        base = ("the quick brown fox jumps over a lazy dog and runs "
                "toward green hills with many other animals out there").split()
        # a doc-unique tag every 4th token keeps shared base-word runs
        # under the winnowing gram width (w_select=4), so span-overlap
        # can only fire on the PLANTED runs — and leaves enough real
        # English for the language gate
        return " ".join(
            f"{tag}{i}" if i % 4 == 0 else base[i % len(base)]
            for i in range(n)
        )

    boiler = "subscribe to our newsletter for daily updates please"
    passage30 = " ".join(f"quote{i}" for i in range(32))      # >= trim 30
    run15 = " ".join(f"shared{i}" for i in range(15))         # 11 <= . < 30
    bench_span = "zebra yak xylo wombat viper urchin tapir swan"
    rows = [
        (1, fresh("a") + "\n" + boiler, "s1"),
        (2, fresh("a") + "\n" + boiler, "s1"),            # exact dup
        (3, fresh("b") + "\n" + boiler, "s1"),            # line freq -> 2
        # (the exact-dup copy of doc 1 is removed BEFORE line
        # counting, so the boiler's surviving frequency is 2)
        (4, "el coche la casa de madrid el sol la luna", "s1"),  # es
        (5, "too short", "s1"),                           # min_tokens
        (6, ("spam ham " * 30).strip(), "s1"),            # gopher repetition
        (7, fresh("c") + " " + passage30, "s2"),          # passage source
        (8, fresh("d") + " " + passage30 + " " + fresh("e"), "s2"),  # quote -> trimmed
        (9, fresh("f") + " " + run15, "s2"),              # run source
        (10, run15 + " " + fresh("g"), "s2"),             # span overlap -> dropped
        (11, fresh("h") + " with " + bench_span + " inside", "s2"),  # contaminated
        (12, fresh("i"), "s3"), (13, fresh("j"), "s3"),
        (14, fresh("k"), "s3"),                           # s3 over cap 2
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    benchmark = spark.createDataFrame(
        [(900, "intro " + bench_span + " outro")],
        "doc_id long, text string",
    )
    lm = tuple(t.localCheckpoint() for t in bigram_lm_tables(
        docs.filter(F.col("doc_id").isin(1, 3, 12, 13, 14))
    ))
    frames = {}
    out = curate_corpus(
        docs, benchmark,
        stage_frames=frames,
        lang_allow=("en",), min_tokens=5, min_alpha_ratio=0.3,
        max_dup_2gram_ratio=0.9,
        line_dedup_min_freq=2,
        gopher_rules={"min_words": 5, "min_stopword_hits": 0,
                      "min_mean_word_len": 1.0, "max_mean_word_len": 30.0,
                      "min_alpha_word_ratio": 0.2,
                      "dup_ngram_max": {5: 0.5}},
        lm_model=lm, max_perplexity=1e9,
        span_trim_min_span=30,
        span_dedup_min_shared=1,
        near_dup_keep_by=F.length("text"),
        source_cap=2, source_cap_order_by=F.col("doc_id"),
        dsir_target_model=lm, dsir_top_n=50,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    # 2 exact-dup, 4 lang, 5 short, 6 gopher, 10 span-overlap,
    # 11 contaminated; then the source cap (order_by doc_id desc)
    # keeps 2 per source: s2 had {7, 8, 9} -> 7 capped out, s3 had
    # {12, 13, 14} -> 12 capped out:
    assert sorted(got) == [1, 3, 8, 9, 13, 14]
    assert "quote3" not in got[8]             # quote trimmed from 8
    assert all(boiler not in t for t in got.values())
    assert out.columns == ["doc_id", "text", "source"]

    # per-stage funnel: every enabled stage reports, in pipeline
    # order, the exact survivor count the assertions above imply
    # (counts scan the boundary cuts the collect above materialized).
    # Text-rewriting stages (line_dedup, span_trim) rewrite but drop
    # nothing here.
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        stage_counts,
    )

    assert list(frames) == [
        "input", "exact_dedup", "line_dedup", "span_trim",
        "quality_gates", "gopher", "lm_perplexity", "near_dup",
        "span_overlap", "decontamination", "source_cap", "dsir",
    ]
    assert stage_counts(frames) == {
        "input": 14,
        "exact_dedup": 13,         # 2 is a byte-copy of 1
        "line_dedup": 13,
        "span_trim": 13,
        # 4 fails lang, 5 fails min_tokens, and 6's spam-ham
        # alternation already fails the basic dup-2gram gate (ratio
        # ~0.97 > 0.9) before the gopher stage ever sees it
        "quality_gates": 10,
        "gopher": 10,
        "lm_perplexity": 10,
        "near_dup": 10,
        "span_overlap": 9,         # 10 shares run15 with 9
        "decontamination": 8,      # 11 overlaps the benchmark
        "source_cap": 6,           # 7 (s2) and 12 (s3) over cap 2
        "dsir": 6,                 # top_n 50 >= pool
    }

    # rejection log: every dropped doc attributed to EXACTLY the stage
    # the funnel counts above imply (doc 6 dies at the basic dup-2gram
    # gate, NOT at gopher — the audit makes that visible per document)
    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        rejection_log,
    )

    rej = {
        r["doc_id"]: r["stage"] for r in rejection_log(frames).collect()
    }
    assert rej == {
        2: "exact_dedup",
        4: "quality_gates", 5: "quality_gates", 6: "quality_gates",
        10: "span_overlap",
        11: "decontamination",
        7: "source_cap", 12: "source_cap",
    }


@pytest.mark.slow
def test_funnel_rejection_invariants_random(spark):
    """Property over random small-vocab corpora: the diagnostic funnel
    and rejection audit are mutually consistent with the pipeline's
    actual output — every enabled boundary reports, counts only ever
    decrease (the enabled stages are drop-only), the audit ids
    partition exactly the dropped set (each id once, attributed to a
    stage that is a real boundary), and input/output counts anchor the
    two ends."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from datawarehouse_vehicule_insurance_spark.operators.curate import (
        curate_corpus,
        rejection_log,
        stage_counts,
    )

    word = st.sampled_from(["alpha", "beta", "gamma", "delta"])
    doc = st.lists(word, min_size=1, max_size=10).map(" ".join)

    @given(st.lists(doc, min_size=1, max_size=6))
    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        frames = {}
        out = curate_corpus(
            spark.createDataFrame(rows, "doc_id long, text string"),
            stage_frames=frames,
            min_tokens=2, min_alpha_ratio=0.0, max_dup_2gram_ratio=0.95,
            jaccard_threshold=0.6,
        )
        survivors = {r["doc_id"] for r in out.collect()}
        funnel = stage_counts(frames)
        assert list(funnel) == ["input", "exact_dedup", "quality_gates",
                                "near_dup"]
        vals = list(funnel.values())
        assert vals[0] == len(rows) and vals[-1] == len(survivors)
        assert all(a >= b for a, b in zip(vals, vals[1:]))
        rej = [(r["doc_id"], r["stage"])
               for r in rejection_log(frames).collect()]
        rej_ids = [i for i, _ in rej]
        assert len(rej_ids) == len(set(rej_ids))  # each id at most once
        assert set(rej_ids) == {i for i, _ in rows} - survivors
        assert {s for _, s in rej} <= {"exact_dedup", "quality_gates",
                                       "near_dup"}

    run()


def test_minhash_min_columns_match_window_form(spark):
    """Hash-compat pin for the per-row shingle builder inside
    _minhash_min_columns: signatures equal the superseded
    posexplode + lead-chain window form (reconstructed inline here)
    row-for-row on the real corpus plus degenerate docs — including
    the short-doc truncated gram (old: NULL-skipping variadic xxhash64
    on the pos-0 row; new: one clamped slice) and NULL text (absent
    from the output in both forms)."""
    from pyspark.sql import Window

    def window_form(df, k, shingle_n, seed):
        toks = F.split(
            F.regexp_replace(
                F.lower(F.trim(F.col("text"))), r"\s+", " "
            ), " ",
        )
        tok = df.select(
            F.col("doc_id"), F.posexplode(toks).alias("__pos", "__tok")
        ).withColumn("__th", F.xxhash64("__tok", F.lit(seed)))
        w = Window.partitionBy("doc_id").orderBy("__pos")
        lead_hashes = [F.col("__th")] + [
            F.lead("__th", j).over(w) for j in range(1, shingle_n)
        ]
        sh = (
            tok.withColumn("__sh", F.xxhash64(*lead_hashes))
            .withColumn("__full", lead_hashes[-1].isNotNull())
            .filter(F.col("__full") | (F.col("__pos") == 0))
        )
        hash_cols = [
            F.xxhash64("__sh", F.lit(seed + i)).alias(f"__h{i}")
            for i in range(k)
        ]
        return (
            sh.select("doc_id", *hash_cols)
            .groupBy("doc_id")
            .agg(*[F.min(f"__h{i}").alias(f"__m{i}") for i in range(k)])
        )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    extra = spark.createDataFrame(
        [(80001, None), (80002, ""), (80003, "   "),
         (80004, "one"), (80005, "one two"), (80006, "a b " * 30)],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    old = window_form(both, k=8, shingle_n=3, seed=42)
    new = D._minhash_min_columns(
        both, "text", "doc_id", k=8, shingle_n=3, seed=42
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    # NULL text absent from signatures in both forms
    assert new.filter(F.col("doc_id") == 80001).count() == 0
