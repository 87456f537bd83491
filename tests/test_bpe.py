"""BPE subword training/encoding: hand-computed merge sequence, encode
equivalence with a replay-the-merges reference, persistence + stamp
contract, lossless reconstruction on real documents."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
    BPE_EOW,
    BPE_PARAMS_COL,
    _bpe_learn,
    bpe_encode,
    bpe_fingerprint,
    bpe_token_count,
    train_bpe,
)

SF = "/root/testdata/sf0.001"


def _ref_encode(word: str, merges: list) -> list:
    """Reference: replay merges in training order, merging ALL
    occurrences left-to-right (the Sennrich formulation) — the operator
    encodes greedily by rank instead; the two must agree."""
    sym = list(word) + [BPE_EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def test_learn_hand_computed_merges():
    """'low low lower' trains exactly the classic merge sequence, ties
    broken lexicographically."""
    merges = _bpe_learn([("low", 2), ("lower", 1)], 5)
    assert merges == [
        ("l", "o"),
        ("lo", "w"),
        ("low", BPE_EOW),
        ("e", "r"),
        ("er", BPE_EOW),
    ]
    # merge learning halts when no pairs remain
    assert _bpe_learn([("a", 3)], 10) == [("a", BPE_EOW)]
    assert _bpe_learn([], 10) == []


def test_train_and_encode_matches_replay_reference(spark):
    corpus = spark.createDataFrame(
        [
            (1, "low low lower lowest"),
            (2, "new newer newest low"),
            (3, "the newer the lower"),
        ],
        "doc_id long, text string",
    )
    merges_df = train_bpe(corpus, num_merges=30)
    m_rows = merges_df.orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in m_rows]
    assert merges_df.select(BPE_PARAMS_COL).first()[0] == bpe_fingerprint(
        30, 50_000
    )

    docs = spark.createDataFrame(
        [
            (1, "low lower"),
            (2, "newest slowest"),     # 'slowest' unseen in training
            (3, "  LOW\t lower "),     # normalization: lower + ws fold
            (4, None),                 # NULL -> NULL
            (5, ""),                   # empty -> []
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges_df, num_merges=30).collect()
    }
    for i, text in [(1, "low lower"), (2, "newest slowest"),
                    (3, "low lower")]:
        expect = []
        for w in text.split():
            expect += _ref_encode(w, merges)
        assert got[i] == expect, f"doc {i}"
    assert got[4] is None
    assert got[5] == []
    assert got[1] == got[3]  # case/whitespace normalization


def test_word_histogram_single_driver_job(spark, monkeypatch):
    """The histogram collect writes NO session conf: even a scoped
    toggle races any concurrent work in the same session. A spy on
    ``RuntimeConfig.set`` records every write while the histogram is
    built."""
    from pyspark.sql.conf import RuntimeConfig

    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        _word_histogram,
    )

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a d")], "id long, text string"
    )
    writes = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        writes.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    hist = _word_histogram(df, "text", 10)
    assert writes == []
    assert hist[0] == ("a", 3)
    assert dict(hist) == {"a": 3, "b": 2, "c": 1, "d": 1}


def test_persistence_round_trip_and_stamp(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(1, "aa ab aa ba")], "doc_id long, text string"
    )
    path = str(tmp_path / "merges")
    train_bpe(corpus, num_merges=8, max_words=100).write.parquet(path)
    loaded = spark.read.parquet(path)

    docs = spark.createDataFrame([(1, "aa ab")], "doc_id long, text string")
    direct = bpe_encode(
        docs, train_bpe(corpus, num_merges=8, max_words=100),
        num_merges=8, max_words=100,
    ).first()["bpe_tokens"]
    via_disk = bpe_encode(
        docs, loaded, num_merges=8, max_words=100
    ).first()["bpe_tokens"]
    assert direct == via_disk

    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_encode(docs, loaded, num_merges=9, max_words=100)


def test_encode_out_col_collision_raises(spark):
    """r5 advice: bpe_encode / bpe_token_count / bpe_encode_ids raise up
    front when out_col already exists on the input frame instead of
    producing a duplicate-column result."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis \
        import bpe_encode_ids, bpe_vocab

    corpus = spark.createDataFrame(
        [(1, "aa ab aa ba")], "doc_id long, text string"
    )
    merges = train_bpe(corpus, num_merges=4, max_words=100)
    taken = corpus.withColumn("bpe_tokens", F.lit("x"))
    with pytest.raises(ValueError, match="already exists"):
        bpe_encode(taken, merges, num_merges=4, max_words=100)
    # r14: bpe_token_count counts inside the Arrow mapper (no token
    # arrays cross back to the JVM), so there is no internal temp
    # column to collide with any more — a frame carrying the old
    # "__bpe_toks" name passes through untouched
    with_old_temp = bpe_token_count(
        corpus.withColumn("__bpe_toks", F.lit("x")),
        merges, num_merges=4, max_words=100,
    )
    assert "bpe_token_count" in with_old_temp.columns
    with pytest.raises(ValueError, match="already exists"):
        bpe_token_count(
            corpus.withColumn("bpe_token_count", F.lit(1)),
            merges, num_merges=4, max_words=100,
        )
    vocab = bpe_vocab(corpus, merges, num_merges=4, max_words=100)
    with pytest.raises(ValueError, match="already exists"):
        bpe_encode_ids(
            corpus.withColumn("bpe_token_ids", F.lit(1)),
            merges, vocab, num_merges=4, max_words=100,
        )


def test_token_count_and_real_docs_reconstruction(spark):
    """Train on the documents table; encoding must be lossless — joining
    a doc's subword tokens and splitting on the end-of-word marker
    recovers its normalized words — and bpe_token_count == len(tokens)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(40)
    merges_df = train_bpe(docs, num_merges=60)
    enc = bpe_encode(docs, merges_df, num_merges=60)
    cnt = bpe_token_count(docs, merges_df, num_merges=60)
    rows = enc.join(
        cnt.select("doc_id", "bpe_token_count"), "doc_id"
    ).collect()
    assert len(rows) == 40
    for r in rows:
        toks = r["bpe_tokens"]
        assert r["bpe_token_count"] == len(toks)
        norm = re.sub(r"\s+", " ", r["text"].strip().lower())
        words = [w for w in norm.split(" ") if w]
        rebuilt = "".join(toks).split(BPE_EOW)
        assert rebuilt[:-1] == words and rebuilt[-1] == ""
        # compression: subword count is never more than character count
        assert len(toks) <= sum(len(w) + 1 for w in words)


def test_token_count_null_and_empty_text(spark):
    """r14: bpe_token_count counts inside the Arrow mapper instead of
    sizing a returned token array — pin the edge semantics the old
    ``F.size(bpe_encode(...))`` form had: NULL text → NULL count,
    empty/whitespace-only text → 0, and the column type stays int."""
    corpus = spark.createDataFrame(
        [(1, "aa ab"), (2, None), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    merges = train_bpe(
        corpus.filter("text is not null"), num_merges=4, max_words=100
    )
    out = bpe_token_count(corpus, merges, num_merges=4, max_words=100)
    assert dict(out.dtypes)["bpe_token_count"] == "int"
    got = {r["doc_id"]: r["bpe_token_count"] for r in out.collect()}
    enc = bpe_encode(corpus, merges, num_merges=4, max_words=100)
    ref = {
        r["doc_id"]: (None if r["bpe_tokens"] is None else len(r["bpe_tokens"]))
        for r in enc.collect()
    }
    assert got == ref
    assert got[2] is None and got[3] == 0 and got[4] == 0


def test_encode_splits_words_like_training_tokens(spark):
    """Encoders split words with the same JVM ``tokens()`` the trainer
    builds its histogram from. No-break, thin and ideographic spaces are
    not whitespace there, so a corpus of such words trains whole-word
    merges and must encode to one token per word — a Python re-split on
    Unicode whitespace used to give 15 and 6 here. The byte-level round
    trip keeps those characters too."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_decode_bytes,
        bpe_encode_bytes,
        tokens,
        train_bpe_bytes,
    )

    texts = ["ab\u00a0cd ab\u00a0cd ab\u00a0cd", "x\u2009y\u3000z"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    merges = train_bpe(docs, num_merges=20)
    enc = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges, num_merges=20).collect()
    }
    assert enc[0] == ["ab\xa0cd" + BPE_EOW] * 3
    assert enc[1] == ["x\u2009y\u3000z" + BPE_EOW]
    counts = {
        r["doc_id"]: r["bpe_token_count"]
        for r in bpe_token_count(docs, merges, num_merges=20).collect()
    }
    assert counts == {0: 3, 1: 1}

    byte_merges = train_bpe_bytes(docs, num_merges=20)
    rows = bpe_encode_bytes(docs, byte_merges, num_merges=20).select(
        "doc_id", "bpe_tokens", tokens(F.col("text")).alias("words")
    ).collect()
    for r in rows:
        canonical = " ".join(w for w in r["words"] if w)
        # these texts are already canonical: the special spaces survive
        assert canonical == texts[r["doc_id"]]
        assert bpe_decode_bytes(r["bpe_tokens"]) == canonical


def _jobs_during(spark, group, fn):
    """Run ``fn`` under a Spark job group and return the number of jobs
    the group launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bpe_build_launches_one_job_per_table(spark, tmp_path):
    """Building an encoder collects each persisted table once, stamp
    included: no separate stamp job. Counted over parquet-read tables
    after one warm-up build of each, so only steady-state jobs count."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_encode_ids,
        bpe_vocab,
    )

    corpus = spark.createDataFrame(
        [(1, "low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    train_bpe(corpus, num_merges=12).write.parquet(str(tmp_path / "m"))
    merges = spark.read.parquet(str(tmp_path / "m"))
    bpe_vocab(corpus, merges, num_merges=12).write.parquet(
        str(tmp_path / "v")
    )
    vocab = spark.read.parquet(str(tmp_path / "v"))
    builds = {
        "count": lambda: bpe_token_count(corpus, merges, num_merges=12),
        "encode": lambda: bpe_encode(corpus, merges, num_merges=12),
        "ids": lambda: bpe_encode_ids(
            corpus, merges, vocab, num_merges=12
        ),
    }
    for build in builds.values():
        build()
    merges_jobs = _jobs_during(spark, "bpe_m_collect", merges.collect)
    vocab_jobs = _jobs_during(spark, "bpe_v_collect", vocab.collect)
    got = {
        k: _jobs_during(spark, f"bpe_build_{k}", build)
        for k, build in builds.items()
    }
    assert got["count"] <= merges_jobs, (got, merges_jobs)
    assert got["encode"] <= merges_jobs, (got, merges_jobs)
    assert got["ids"] <= merges_jobs + vocab_jobs, (got, vocab_jobs)


def test_cli_bpe_train(spark, tmp_path, capsys):
    """bpe-train persists a merges table that encodes identically to an
    in-memory trained one."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main

    docs_path = str(tmp_path / "docs.parquet")
    corpus = spark.createDataFrame(
        [(1, "low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    corpus.write.parquet(docs_path)
    merges_path = str(tmp_path / "merges")
    assert main([
        "bpe-train", "--input", docs_path, "--merges", merges_path,
        "--num-merges", "20",
    ]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["merges"] <= 20

    loaded = spark.read.parquet(merges_path)
    direct = train_bpe(corpus, num_merges=20)
    a = bpe_encode(corpus, loaded, num_merges=20).orderBy("doc_id").collect()
    b = bpe_encode(corpus, direct, num_merges=20).orderBy("doc_id").collect()
    assert [r["bpe_tokens"] for r in a] == [r["bpe_tokens"] for r in b]


@pytest.mark.slow
def test_bpe_encode_property_random_corpora(spark):
    """Property: for random word corpora, the distributed greedy-by-rank
    encoder equals the replay-the-merges reference for every word, and
    reconstruction is lossless. One Spark job per example batch."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abcde", min_size=1, max_size=8)

    @given(
        st.lists(word, min_size=1, max_size=30),   # training words
        st.lists(word, min_size=1, max_size=15),   # words to encode
    )
    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(train_words, encode_words):
        corpus = spark.createDataFrame(
            [(1, " ".join(train_words))], "doc_id long, text string"
        )
        merges_df = train_bpe(corpus, num_merges=25)
        merges = [
            (r["left"], r["right"])
            for r in merges_df.orderBy("rank").collect()
        ]
        docs = spark.createDataFrame(
            [(1, " ".join(encode_words))], "doc_id long, text string"
        )
        got = bpe_encode(docs, merges_df, num_merges=25).first()[
            "bpe_tokens"
        ]
        expect = []
        for w in encode_words:
            expect += _ref_encode(w, merges)
        assert got == expect
        rebuilt = "".join(got).split(BPE_EOW)
        assert rebuilt[:-1] == encode_words and rebuilt[-1] == ""

    run()


def test_tokenize_and_pack_end_to_end(spark):
    """BPE-count → FFD-pack composition: every non-NULL doc lands in
    exactly one sequence, budgets hold, counts are the real subword
    counts."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        tokenize_and_pack,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    docs = docs.union(
        spark.createDataFrame([(99_999, None)], "doc_id long, text string")
    )
    merges = train_bpe(docs, num_merges=40)
    packed = tokenize_and_pack(
        docs, merges, max_len=512, num_shards=4, num_merges=40
    )
    rows = packed.collect()
    assert len(rows) == 60                      # NULL doc excluded
    assert len({r["doc_id"] for r in rows}) == 60

    # per-sequence budget holds except flagged singletons
    from collections import defaultdict
    seqs = defaultdict(list)
    for r in rows:
        seqs[r["seq_id"]].append(r)
    for members in seqs.values():
        total = sum(m["bpe_token_count"] for m in members)
        if any(m["overflow"] for m in members):
            assert len(members) == 1
        else:
            assert total <= 512

    # counts are the real vocabulary counts (r15: the count output no
    # longer carries text — NULL text shows up as a NULL count)
    direct = {
        r["doc_id"]: r["bpe_token_count"]
        for r in bpe_token_count(docs, merges, num_merges=40)
        .filter("bpe_token_count is not null").collect()
    }
    for r in rows:
        assert r["bpe_token_count"] == direct[r["doc_id"]]


def test_new_operator_plan_shapes(spark):
    """Scale claims pinned in the plans: dsir_resample ranks via
    TakeOrderedAndProject (per-partition top-n, no global sort
    exchange); semantic_dedup's only wide exchange is the single
    cell-hash partitioning."""
    from datawarehouse_vehicule_insurance_spark.operators import (
        similarity as S,
    )
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        dsir_resample,
    )
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bigram_lm_tables,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(50)
    model_t = bigram_lm_tables(docs.limit(20))
    model_r = bigram_lm_tables(docs)
    plan = dsir_resample(
        docs, model_t, model_r, n=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(64)
    ct = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
        "cell int, centroid array<double>",
    ).withColumn(S.ANN_PARAMS_COL, F.lit(S.ivf_fingerprint(2, 0, 2048, 42)))
    sd_plan = S.semantic_dedup(
        emb, n_cells=2, centroids=ct
    )._jdf.queryExecution().executedPlan().toString()
    # one hashpartitioning exchange on the cell key for the greedy;
    # the id-join back is broadcast or reuses that clustering
    assert sd_plan.count("hashpartitioning(__cell") <= 2


def test_bpe_vocab_and_id_encoding(spark):
    """Vocabulary ids are deterministic (chars, marker, merges by
    rank); id encoding round-trips through the vocab; unseen characters
    map to unk; stamp mismatch raises."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_encode_ids,
        bpe_vocab,
    )

    corpus = spark.createDataFrame(
        [(1, "low low lower lowest")], "doc_id long, text string"
    )
    merges = train_bpe(corpus, num_merges=10)
    vocab = bpe_vocab(corpus, merges, num_merges=10)
    rows = vocab.orderBy("token_id").collect()
    tokens_list = [r["token"] for r in rows]
    # base chars sorted first, then the marker, then merge products
    chars = sorted(set("lowerst"))
    assert tokens_list[:len(chars)] == chars
    assert tokens_list[len(chars)] == BPE_EOW
    assert [r["token_id"] for r in rows] == list(range(len(rows)))
    m_products = [
        r["left"] + r["right"]
        for r in merges.orderBy("rank").collect()
    ]
    assert tokens_list[len(chars) + 1:] == m_products

    docs = spark.createDataFrame(
        [(1, "low lower"), (2, "quiz"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bpe_token_ids"]
        for r in bpe_encode_ids(
            docs, merges, vocab, num_merges=10
        ).collect()
    }
    tok_strs = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges, num_merges=10).collect()
    }
    idx = {t: i for i, t in enumerate(tokens_list)}
    for d in (1, 2):
        assert got[d] == [idx.get(t, -1) for t in tok_strs[d]]
    assert got[3] is None
    # 'q', 'u', 'i', 'z' unseen in training -> unk ids present
    assert -1 in got[2]
    assert -1 not in got[1]

    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_encode_ids(docs, merges, vocab, num_merges=11)

    # the ids come from the same single Python pass that merges the
    # words: exactly one Python evaluation node in the executed plan
    plan = bpe_encode_ids(
        docs, merges, vocab, num_merges=10
    )._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(
        r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow)\b",
        plan,
    )) == 1, plan


# ----------------------------------------------------------- byte level


def test_bytes_bijection_is_total():
    """Every byte maps to a distinct single character and back."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        _bytes_to_unicode,
    )

    b2u = _bytes_to_unicode()
    assert sorted(b2u) == list(range(256))
    assert len(set(b2u.values())) == 256
    assert all(len(c) == 1 for c in b2u.values())


def test_bytes_train_encode_decode_round_trip(spark):
    """decode(encode(text)) == canonical text — including text whose
    words contain the literal end-of-word marker that makes the
    character-level variant's reconstruction ambiguous, and non-ASCII
    (multi-byte UTF-8) words."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_decode_bytes,
        bpe_encode_bytes,
        train_bpe_bytes,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "markup</w>heavy tokens</w> survive byte level",
        "café naïve über søren 中文",
        "  Mixed   CASE \t and \n whitespace  ",
        "the the the the repetition trains merges",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(99, None)],
        "doc_id long, text string",
    )
    merges = train_bpe_bytes(docs, num_merges=64)
    enc = {
        r["doc_id"]: r["toks"]
        for r in bpe_encode_bytes(
            docs, merges, num_merges=64, out_col="toks"
        ).collect()
    }
    assert enc[99] is None
    for i, t in enumerate(texts):
        canonical = re.sub(r"\s+", " ", t.strip().lower())
        assert bpe_decode_bytes(enc[i]) == canonical, t


def test_bytes_learns_mapped_space_prefixed_merges():
    """Hand check on a two-word histogram: the most frequent pair is
    the space-prefix byte followed by the first letter (every 'ab'
    occurrence), so the first merge is ('Ġ', 'a') in GPT-2's
    mapped alphabet where chr(0x120) is the mapped space."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        _bpe_learn,
        _bytes_to_unicode,
    )

    b2u = _bytes_to_unicode()

    def to_sym(w):
        return tuple(b2u[b] for b in (" " + w).encode("utf-8"))

    merges = _bpe_learn([("ab", 5), ("ax", 3)], 2, to_symbols=to_sym)
    assert merges[0] == (b2u[ord(" ")], "a")
    assert merges[1] == (b2u[ord(" ")] + "a", "b")


def test_bytes_stamp_rejects_char_level_table(spark):
    """Character-level and byte-level merges tables must never be
    interchangeable — distinct fingerprints, validated on encode."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_encode_bytes,
        train_bpe,
        train_bpe_bytes,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    char_merges = train_bpe(docs, num_merges=8)
    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_encode_bytes(docs, char_merges, num_merges=8)
    byte_merges = train_bpe_bytes(docs, num_merges=8)
    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_encode(docs, byte_merges, num_merges=8)


def test_bytes_training_deterministic(spark):
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        train_bpe_bytes,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    a = sorted(map(tuple, train_bpe_bytes(docs, num_merges=32)
                   .select("rank", "left", "right").collect()))
    b = sorted(map(tuple, train_bpe_bytes(docs, num_merges=32)
                   .select("rank", "left", "right").collect()))
    assert a == b and len(a) == 32


def test_cli_bpe_train_byte_level(spark, tmp_path, capsys):
    """--byte-level persists a bpe-bytes table whose encodes round-trip
    exactly; the stamp rejects character-level application."""
    import json as _json

    from datawarehouse_vehicule_insurance_spark.__main__ import main
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_decode_bytes,
        bpe_encode_bytes,
    )

    docs_path = str(tmp_path / "docs.parquet")
    corpus = spark.createDataFrame(
        [(1, "low low lower lowest"), (2, "markup</w>survives here")],
        "doc_id long, text string",
    )
    corpus.write.parquet(docs_path)
    merges_path = str(tmp_path / "bmerges")
    assert main([
        "bpe-train", "--input", docs_path, "--merges", merges_path,
        "--num-merges", "20", "--byte-level",
    ]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["merges"] <= 20

    loaded = spark.read.parquet(merges_path)
    enc = bpe_encode_bytes(
        corpus, loaded, num_merges=20, out_col="toks"
    ).orderBy("doc_id").collect()
    assert bpe_decode_bytes(enc[1]["toks"]) == "markup</w>survives here"
    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_encode(corpus, loaded, num_merges=20)


def test_bytes_token_count_and_pack(spark):
    """Byte-level counting + packing: counts equal encode lengths, the
    stamp rejects the char-level counter both ways, and
    tokenize_and_pack(byte_level=True) packs against the byte counts."""
    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        tokenize_and_pack,
    )
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_encode_bytes,
        bpe_token_count_bytes,
        train_bpe_bytes,
    )

    docs = spark.createDataFrame(
        [(i, f"word{i} the quick brown fox number {i} runs again")
         for i in range(12)] + [(99, None)],
        "doc_id long, text string",
    )
    merges = train_bpe_bytes(docs, num_merges=32)
    counted = {r["doc_id"]: r["n"] for r in bpe_token_count_bytes(
        docs, merges, num_merges=32, out_col="n").collect()}
    enc = {r["doc_id"]: r["toks"] for r in bpe_encode_bytes(
        docs, merges, num_merges=32, out_col="toks").collect()}
    for i in list(range(12)):
        assert counted[i] == len(enc[i]) > 0
    assert counted[99] is None
    # one output contract for the twins: the count replaces the text
    assert bpe_token_count_bytes(docs, merges, num_merges=32).columns == (
        bpe_token_count(docs, train_bpe(docs, num_merges=32),
                        num_merges=32).columns
    )

    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_token_count(docs, merges, num_merges=32)
    with pytest.raises(ValueError, match="parameter mismatch"):
        bpe_token_count_bytes(docs, train_bpe(docs, num_merges=32),
                              num_merges=32)

    packed = tokenize_and_pack(
        docs, merges, max_len=64, num_merges=32, byte_level=True
    )
    rows = packed.collect()
    assert {r["doc_id"] for r in rows} == set(range(12))
    assert all(r["bpe_token_count"] == counted[r["doc_id"]] for r in rows)
