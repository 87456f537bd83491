"""Scale audit for the operator surface the DuckDB gate can't express.

`tools/gate_replica.py` re-verifies every driver-gate query against a
scaled replica; this sibling covers the pytest-pinned operators that
have no SQL oracle — the checks here are the same python-reference /
invariant checks the unit tests pin, rerun against the (much larger)
replica so the operators' correctness claims are re-established AT
SCALE, not just at fixture size:

- semantic_dedup: collect the N most-populated k-means cells and replay
  the per-cell greedy cosine prune in pure numpy — survivor sets must
  match exactly (SemDeDup's decisions are deterministic given geometry).
- ivf_topk with n_probe == n_cells: must equal brute-force cosine top-k
  row-for-row (probing every cell removes the approximation).
- pq_topk determinism: re-encoding the corpus against the same persisted
  codebooks yields byte-identical codes.
- tokenize_and_pack: conservation invariants over the FULL replica —
  every doc packed exactly once, no sequence overfilled past max_len,
  overflow flagged exactly for docs longer than max_len.
- span_overlap_dedup: a planted pair sharing a passage far above the
  winnowing guarantee length must still be caught when buried in the
  replica corpus (detection guarantees don't dilute with scale).

Usage: python tools/op_replica.py [sf_dir] [check ...]
Prints one ok/FAIL line per check (with wall time), exits 1 on failure.
"""

import os
import sys
import time
from pathlib import Path

import numpy as np

_REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO_ROOT))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

args = sys.argv[1:]
sf_dir = args[0] if args else "/tmp/sfx10"
only = set(args[1:])

# at most 32 task slots, and no more than the machine's cores: the PQ
# rectangle check's tasks each hold a ~0.4 GB scored tile
spark = (
    SparkSession.builder.master(f"local[{min(32, os.cpu_count())}]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from datawarehouse_vehicule_insurance_spark.operators import similarity as S  # noqa: E402
from datawarehouse_vehicule_insurance_spark.operators.dedup import span_overlap_dedup  # noqa: E402
from datawarehouse_vehicule_insurance_spark.operators.mlprep import tokenize_and_pack  # noqa: E402
from datawarehouse_vehicule_insurance_spark.operators.text_analysis import train_bpe  # noqa: E402

docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

fails = []


def check(name):
    def deco(fn):
        fn.__check_name__ = name
        return fn
    return deco


@check("semantic_dedup_cell_parity")
def check_semantic():
    """Replay the greedy per-cell prune in numpy for the 3 biggest
    cells; survivor ids must match the operator's exactly."""
    thr, n_cells = 0.9, 32
    dec = S.semantic_dedup(
        emb, threshold=thr, n_cells=n_cells, return_decisions=True
    ).localCheckpoint()
    big = [r[0] for r in dec.groupBy("cell").count()
           .orderBy(F.desc("count"), "cell").limit(3).collect()]
    rows = (
        dec.filter(F.col("cell").isin(big))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("cell", "vec_id", "kept", "embedding")
        .collect()
    )
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        members.sort(key=lambda r: r["vec_id"])  # keep="min_id" order
        M = np.array([r["embedding"] for r in members], dtype=np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        kept_idx = []
        for i in range(len(members)):
            if not kept_idx or float(
                np.max(M[kept_idx] @ M[i])
            ) < thr:
                kept_idx.append(i)
        want = {members[i]["vec_id"] for i in kept_idx}
        got = {r["vec_id"] for r in members if r["kept"]}
        if want != got:
            return (f"cell {cell}: reference kept {len(want)}, "
                    f"operator kept {len(got)}, diff "
                    f"{sorted(want ^ got)[:5]}")
    return None


@check("ivf_exhaustive_equals_brute")
def check_ivf():
    """n_probe == n_cells removes the approximation — results must be
    row-identical to brute force."""
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    brute = {tuple(r) for r in S.cosine_topk(q, emb, k=10).collect()}
    ivf = {tuple(r) for r in S.ivf_topk(
        q, emb, k=10, n_cells=16, n_probe=16
    ).collect()}
    if brute != ivf:
        return f"{len(brute ^ ivf)} row diffs between brute and ivf"
    return None


@check("pq_encode_deterministic")
def check_pq():
    """Re-encoding against the same persisted codebooks is
    byte-identical (the build-once/probe-many contract holds at
    replica size)."""
    books = S.pq_codebooks_table(emb, m=8, ks=16).localCheckpoint()
    a = S.pq_encode_table(emb, books).select("vec_id", "code")
    b = S.pq_encode_table(emb, books).select("vec_id", "code")
    n = a.count()
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    if diff or n != emb.count():
        return f"{diff} code-row diffs between encodes ({n} rows)"
    return None


@check("tokenize_and_pack_conservation")
def check_pack():
    """Mass-conservation invariants over the full replica: each doc
    packed once; no sequence overfilled; overflow flag exact."""
    max_len = 512
    merges = train_bpe(docs.limit(2000), num_merges=200)
    packed = tokenize_and_pack(
        docs, merges, max_len=max_len, num_merges=200
    ).localCheckpoint()
    n_in = docs.filter(F.col("text").isNotNull()).count()
    n_out = packed.count()
    n_distinct = packed.select("doc_id").distinct().count()
    if not (n_out == n_distinct == n_in):
        return f"doc multiplicity: in={n_in} out={n_out} distinct={n_distinct}"
    overfilled = (
        packed.filter(~F.col("overflow"))
        .groupBy("seq_id").agg(F.sum("bpe_token_count").alias("fill"))
        .filter(F.col("fill") > max_len).count()
    )
    if overfilled:
        return f"{overfilled} sequences packed past max_len"
    bad_flag = packed.filter(
        (F.col("bpe_token_count") > max_len) != F.col("overflow")
    ).count()
    if bad_flag:
        return f"{bad_flag} rows with wrong overflow flag"
    return None


@check("byte_bpe_roundtrip")
def check_byte_bpe():
    """Byte-level BPE collision-freedom at the replica: train merges on
    a corpus slice, encode a deterministic 500-doc sample, and decode
    every token list back — decode∘encode must equal the canonical
    text exactly: the non-empty engine ``tokens()`` words, collected
    with the sample, joined by one space. Driver collect is the bounded
    sample only."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        bpe_decode_bytes,
        bpe_encode_bytes,
        tokens,
        train_bpe_bytes,
    )

    merges = train_bpe_bytes(docs.limit(2000), num_merges=200)
    sample = (
        docs.filter(F.col("text").isNotNull())
        .orderBy(F.xxhash64("doc_id"))
        .limit(500)
    )
    enc = bpe_encode_bytes(sample, merges, num_merges=200)
    rows = enc.select(
        "doc_id", "bpe_tokens", tokens(F.col("text")).alias("words")
    ).collect()

    bad = 0
    for r in rows:
        canon = " ".join(w for w in r["words"] if w)
        if bpe_decode_bytes(r["bpe_tokens"]) != canon:
            bad += 1
    if bad:
        return f"{bad}/{len(rows)} sampled documents fail the round trip"
    if not rows:
        return "empty sample"
    return None


@check("span_overlap_planted_pair")
def check_winnow():
    """A planted pair sharing a 64-token passage (far above the
    window + w_select - 1 winnowing guarantee) must be caught with the
    pair buried in the replica corpus."""
    hi = docs.agg(F.max("doc_id")).first()[0]
    passage = " ".join(f"plantedtok{i}" for i in range(64))
    extra = spark.createDataFrame(
        [(hi + 1, "unique lead for the source document " + passage),
         (hi + 2, passage + " unique tail for the quoting document")],
        "doc_id long, text string",
    )
    pool = docs.select("doc_id", "text").unionByName(extra)
    out = span_overlap_dedup(pool, window=8, w_select=4, min_shared=1)
    kept = {r[0] for r in out.filter(
        F.col("doc_id").isin(hi + 1, hi + 2)
    ).select("doc_id").collect()}
    if kept != {hi + 1}:
        return f"expected only the earlier doc to survive, kept={kept}"
    return None


@check("cap_per_key_equals_window")
def check_cap():
    """The salted two-phase per-source cap returns EXACTLY the
    single-window top-N on the replica's real (very hot) source keys —
    quality-ordered and seeded-random retention both."""
    from pyspark.sql import Window

    from datawarehouse_vehicule_insurance_spark.operators.mlprep import (
        cap_per_key,
    )

    pool = docs.select("doc_id", "source", "n_chars")
    for order_by in (None, F.col("n_chars")):
        got = cap_per_key(pool, "source", 500, order_by=order_by, salt=8)
        ord_cols = (
            [order_by.desc(), F.col("doc_id").asc()]
            if order_by is not None
            else [F.xxhash64(F.col("doc_id")).asc(),
                  F.col("doc_id").asc()]
        )
        w = Window.partitionBy("source").orderBy(*ord_cols)
        want = (
            pool.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= 500).drop("__r")
        )
        diff = got.exceptAll(want).count() + want.exceptAll(got).count()
        if diff:
            return f"{diff} row diffs vs single-window (order_by={order_by})"
    return None


@check("chunk_reconstruction")
def check_chunk():
    """Overlap-aware reassembly of every document's chunks equals its
    canonical token stream — over the FULL replica, in one Spark pass
    (drop each non-first chunk's leading `overlap` tokens, concat in
    chunk order, compare to the canonical text)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        chunk_documents,
    )

    chunk_tokens, overlap = 64, 16
    chunks = chunk_documents(
        docs.filter(F.col("text").isNotNull()),
        chunk_tokens=chunk_tokens, overlap=overlap,
    )
    rebuilt = (
        chunks.withColumn(
            "__tail",
            F.when(
                F.col("chunk_id") == 0, F.col("chunk_text")
            ).otherwise(
                F.array_join(
                    F.slice(
                        F.split(F.col("chunk_text"), " "),
                        overlap + 1,
                        chunk_tokens,
                    ),
                    " ",
                )
            ),
        )
        .groupBy("doc_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("chunk_id", "__tail")
                )),
                lambda s: s["__tail"],
            ),
            " ",
        ).alias("__rebuilt"))
    )
    canon = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.trim(F.col("text"))), r"\s+", " "
        ).alias("__canon"),
    )
    bad = (
        canon.join(rebuilt, "doc_id", "left")
        .filter(
            F.col("__rebuilt").isNull()
            | (F.col("__rebuilt") != F.col("__canon"))
        )
        .count()
    )
    if bad:
        return f"{bad} documents fail chunk reassembly"
    return None


def _multiset_sig(df):
    """Order-insensitive multiset signature of a frame: (row count,
    wrapping sum and bit-xor of a per-row xxhash64 over every column).
    Equality of the triple is a near-certain multiset-equality proof —
    the cheap way to compare two multi-million-row builders at replica
    scale without a double exceptAll shuffle (one single-pass agg per
    side; sum uses try_sum semantics via long wraparound — identical
    on both sides by construction)."""
    sig = (
        df.select(F.xxhash64(*df.columns).alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__h") % F.lit(2**31)).alias("s"),
            F.expr("bit_xor(__h)").alias("x"),
        )
        .collect()[0]
    )
    return (sig["n"], sig["s"], sig["x"])


@check("ann_recall_at_k")
def check_ann_recall():
    """Measured recall@10 of every approximate ANN tier against
    brute-force ground truth at replica scale — the approximation-
    quality numbers behind the ladder's docstring claims (IVF
    n_probe/n_cells = 1/4 expected ~60-80% on isotropic data).
    Values print for the audit record; FAIL only below conservative
    floors a correct implementation clears with margin while a broken
    bucket/cell join (empty probe set, mis-keyed equi-join) lands
    near zero."""
    n_q, k = 20, 10
    q = (emb.orderBy("vec_id").limit(n_q)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    dim = len(emb.select("embedding").first()[0])

    def topk_sets(df):
        out = {}
        for r in df.select("query_id", "vec_id").collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = topk_sets(S.cosine_topk(q, emb, k=k))

    def recall(approx):
        per = [
            len(approx.get(qid, set()) & ids) / len(ids)
            for qid, ids in truth.items()
        ]
        return sum(per) / len(per)

    r_ivf = recall(topk_sets(S.ivf_topk(q, emb, k=k, n_cells=16,
                                        n_probe=4)))
    r_lsh = recall(topk_sets(S.lsh_topk(q, emb, dim, k=k, n_planes=8,
                                        n_tables=4)))
    r_pq = recall(topk_sets(S.pq_topk(q, emb, k=k, m=8, ks=16)))
    print(f"    recall@{k} over {n_q} queries: "
          f"ivf(4/16)={r_ivf:.3f} lsh(8x4)={r_lsh:.3f} pq(8x16)={r_pq:.3f}")
    # floors are breakage detectors, not quality targets: chance level
    # here is k/N ≈ 0.002, and a mis-keyed bucket join lands there.
    # The synthetic replica embeddings are ISOTROPIC — the worst case
    # for LSH/PQ (no cluster structure to exploit; measured r11 at
    # 10x: ivf 0.89, lsh ~0.21, pq ~0.16) — so the sub-IVF tiers get
    # floors an order of magnitude above chance, not production
    # targets that only structured data can meet.
    floors = {"ivf": (r_ivf, 0.5), "lsh": (r_lsh, 0.1), "pq": (r_pq, 0.05)}
    for name, (val, floor) in floors.items():
        if val < floor:
            return f"{name} recall@{k} {val:.3f} < floor {floor}"
    return None


def _mixture_table(n_vec: int, n_clusters: int, dim: int,
                   center_scale: float, sigma: float, seed: int):
    """Mixture-of-Gaussians embedding table, built distributively (JVM
    randn per component — no driver-side corpus matrix; only the
    n_clusters×dim center matrix rides through a broadcast join),
    localCheckpoint-pinned so randn cannot resample per action."""
    rng = np.random.default_rng(seed)
    C = rng.normal(scale=center_scale, size=(n_clusters, dim))
    cents_df = spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(n_clusters)],
        "__c bigint, __center array<double>",
    )
    noise = F.array(*[F.randn(1000 + i) for i in range(dim)])
    return (
        spark.range(n_vec)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") % n_clusters).alias("__c"),
            noise.alias("__n"),
        )
        .join(F.broadcast(cents_df), "__c")
        .select(
            "vec_id",
            F.zip_with(
                "__center", "__n", lambda c, n: c + F.lit(sigma) * n
            ).alias("embedding"),
        )
        .localCheckpoint()
    )


def _topk_sets(df):
    out = {}
    for r in df.select("query_id", "vec_id").collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def _mean_recall(truth, approx):
    per = [
        len(approx.get(qid, set()) & ids) / len(ids)
        for qid, ids in truth.items()
    ]
    return sum(per) / len(per)


@check("ann_recall_clustered")
def check_ann_recall_clustered():
    """r11 verdict #6, geometry 1 of 2 — NEAR-DUPLICATE-TIGHT
    clusters (32 centers at scale 5, sigma 0.5: within-cluster cosine
    spread ~1e-4). The honest finding this check pins (r12, measured):
    tiers that re-rank EXACT cosines inside their candidate sets (IVF
    cells, LSH buckets) go to ~1.0 here, while EVERY PQ variant's
    direct ranking collapses to tie-noise — 1e-4 cosine gaps are
    below any m-byte code's resolution, residual-encoded or not
    (measured: pq 0.045, ivfpq-shortlist no better; both WORSE than
    their isotropic numbers). So the pq floor here is a chance-level
    breakage detector (chance k/N = 5e-4), not a quality bar — the
    quality claim for quantized tiers lives in the moderate-geometry
    shortlist check below, which is the regime they are FOR."""
    n_vec = emb.count()
    n_q, k, dim = 20, 10, 64
    clustered = _mixture_table(n_vec, 32, dim, 5.0, 0.5, seed=11)
    q = (clustered.orderBy("vec_id").limit(n_q)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    truth = _topk_sets(S.cosine_topk(q, clustered, k=k))
    r_ivf = _mean_recall(truth, _topk_sets(
        S.ivf_topk(q, clustered, k=k, n_cells=16, n_probe=4)))
    r_lsh = _mean_recall(truth, _topk_sets(
        S.lsh_topk(q, clustered, dim, k=k, n_planes=8, n_tables=4)))
    r_pq = _mean_recall(truth, _topk_sets(
        S.pq_topk(q, clustered, k=k, m=8, ks=16)))
    print(f"    tight-cluster recall@{k} over {n_q} queries: "
          f"ivf(4/16)={r_ivf:.3f} lsh(8x4)={r_lsh:.3f} pq(8x16)={r_pq:.3f}")
    floors = {"ivf": (r_ivf, 0.8), "lsh": (r_lsh, 0.3),
              "pq": (r_pq, 0.01)}
    for name, (val, floor) in floors.items():
        if val < floor:
            return f"clustered {name} recall@{k} {val:.3f} < floor {floor}"
    return None


@check("ann_shortlist_clustered")
def check_ann_shortlist_clustered():
    """r11 verdict #6, geometry 2 of 2 — MODERATE clusters (32 centers
    at scale 1, sigma 1.0: separated, but within-cluster spread is
    resolvable by codes). This is the regime quantized tiers are FOR,
    measured in their production framing: a shortlist of 100 must
    contain the exact top-10 (downstream exact re-rank recovers order,
    same design as test_pq_topk_shortlist_recall_vs_exact). Measured
    r12 at 10x: pq 0.805, ivfpq 0.865 at m=8/ks=256 with 8/32 probing
    — and the ivfpq advantage is coarse-resolution-sensitive: at 16
    cells over these 32 clusters each cell merges two clusters,
    residuals go bimodal, and containment drops to pq's 0.81 (also
    measured). Floors are detectors with margin under those values;
    ivfpq also gets a no-worse-than-pq floor (−0.05 noise allowance)
    because losing the residual advantage means the composition
    regressed to whole-vector behavior."""
    n_vec = emb.count()
    n_q, k, short, dim = 20, 10, 100, 64
    clustered = _mixture_table(n_vec, 32, dim, 1.0, 1.0, seed=13)
    q = (clustered.orderBy("vec_id").limit(n_q)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    truth = _topk_sets(S.cosine_topk(q, clustered, k=k))
    c_pq = _mean_recall(truth, _topk_sets(
        S.pq_topk(q, clustered, k=short, m=8, ks=256)))
    c_ivfpq = _mean_recall(truth, _topk_sets(
        S.ivfpq_topk(q, clustered, k=short, n_cells=32, n_probe=8,
                     m=8, ks=256)))
    print(f"    moderate-cluster shortlist-{short} containment of "
          f"top-{k}: pq(8x256)={c_pq:.3f} ivfpq(8/32,8x256)={c_ivfpq:.3f}")
    if c_pq < 0.5:
        return f"pq shortlist containment {c_pq:.3f} < floor 0.5"
    if c_ivfpq < 0.6:
        return f"ivfpq shortlist containment {c_ivfpq:.3f} < floor 0.6"
    if c_ivfpq < c_pq - 0.05:
        return (f"ivfpq {c_ivfpq:.3f} worse than pq {c_pq:.3f} — "
                f"residual advantage lost")
    return None


@check("pq_distributed_large_nq")
def check_pq_distributed_large_nq():
    """IVF-PQ at re-rank-a-shard scale — 100k queries against a 200k
    mixture corpus off persisted cell-partitioned codes. 100k queries'
    LUTs exceed ``_LUT_BYTES`` (65,536 queries at m=8/ks=16), so
    ivfpq_topk must take the cogrouped rectangle on its own: queries
    never collected. Three assertions: (1) the executed plan holds
    ``FlatMapCoGroupsInPandas``; (2) the full run returns exactly nq·k
    rows (every query served); (3) on a 2k-query subsample the
    rectangle (forced by shrinking ``S._LUT_BYTES`` for that call) and
    the collect shape give the same (query_id, pq_sim, rank) multiset —
    sims not ids, so equal-sim code-collision ties (argpartition keeps
    an arbitrary survivor among equals) can't flake the signature. The
    100k wall time prints for the audit record."""
    import tempfile
    import time as _t

    root = tempfile.mkdtemp(prefix="dwvi_pq_dist_")
    n_vec, nq, k, dim = 200_000, 100_000, 10, 32
    kw = dict(n_cells=64, m=8, ks=16, kmeans_iters=2)
    corpus = _mixture_table(n_vec, 32, dim, 1.0, 1.0, seed=17)

    cents_tbl, books_tbl = S.ivfpq_centroids_table(corpus, **kw)
    cents_tbl.write.parquet(f"{root}/cents")
    books_tbl.write.parquet(f"{root}/books")
    cents = spark.read.parquet(f"{root}/cents")
    books = spark.read.parquet(f"{root}/books")
    S.ivfpq_encode_table(corpus, cents, books, **kw).repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/codes")
    codes = spark.read.parquet(f"{root}/codes")

    q_full = corpus.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    t0 = _t.time()
    big = S.ivfpq_topk(
        q_full, corpus, k=k, n_probe=8, centroids=cents,
        codebooks=books, codes=codes, **kw,
    )
    if "FlatMapCoGroupsInPandas" not in \
            big._jdf.queryExecution().executedPlan().toString():
        return f"nq={nq} did not take the rectangle shape"
    n_big = big.count()
    wall = _t.time() - t0
    print(f"    rectangle ivfpq: nq={nq} corpus={n_vec} k={k} "
          f"rows={n_big} wall={wall:.1f}s "
          f"({nq / wall:.0f} queries/s)")
    if n_big != nq * k:
        return f"rectangle run returned {n_big} rows, want {nq * k}"

    q_sub = q_full.filter(F.col("query_id") < 2000)
    sub_kw = dict(k=k, n_probe=8, centroids=cents, codebooks=books,
                  codes=codes, **kw)

    def _sig(df):
        return _multiset_sig(
            df.select("query_id", F.round("pq_sim", 6).alias("s"),
                      "rank")
        )

    lut_bytes = S._LUT_BYTES
    S._LUT_BYTES = 1  # no query fits: the rectangle
    try:
        rect = S.ivfpq_topk(q_sub, corpus, **sub_kw)
    finally:
        S._LUT_BYTES = lut_bytes
    s_rect = _sig(rect)
    s_coll = _sig(S.ivfpq_topk(q_sub, corpus, **sub_kw))
    if s_rect != s_coll:
        return (f"rectangle vs collect multiset mismatch on the 2k "
                f"subsample: {s_rect} != {s_coll}")
    return None


@check("corrupt_heavy_decode_budget")
def check_decode_budget():
    """r10 verdict #9a: the decode-error budget itself, proven cheap
    and correct on a CORRUPT-HEAVY replica — one asset per replica
    document, 3 of 5 payload classes broken (truncated PNG, wrong
    magic, progressive JPEG). The batch must complete (per-row decode
    isolation), and decode_error_datasheet's (format, status) counts
    must equal the construction exactly."""
    import importlib.util as _ilu

    spec = _ilu.spec_from_file_location(
        "_mm_helpers",
        str(_REPO_ROOT / "tests" / "test_streaming_multimodal.py"),
    )
    helpers = _ilu.module_from_spec(spec)
    spec.loader.exec_module(helpers)

    rng = np.random.default_rng(29)
    rgb = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    good_png = bytes(helpers._encode_png(rgb, filters=[0, 1, 2, 3, 4]))
    payloads = [
        ("image/png", good_png),                          # ok
        ("image/png", good_png[:len(good_png) // 2]),     # truncated
        ("application/octet-stream", b"\x00\x01\x02\x03" * 64),  # magic
        ("image/jpeg", helpers._encode_jpeg_gray_blocks(
            [100], blocks_w=1).replace(b"\xff\xc0", b"\xff\xc2", 1)),
        ("image/jpeg", bytes(
            helpers._encode_jpeg_gray_blocks([200], blocks_w=1))),  # ok
    ]
    from datawarehouse_vehicule_insurance_spark.operators import (
        multimodal as MM,
    )

    n = docs.count()
    dim = spark.createDataFrame(
        [(i, "image", bytearray(p), mime, None, None, None)
         for i, (mime, p) in enumerate(payloads)],
        MM.ASSET_SCHEMA,
    ).withColumnRenamed("asset_id", "cls")
    assets = (
        spark.range(n)
        .select(
            F.col("id").alias("asset_id"),
            (F.col("id") % 5).alias("cls"),
        )
        .join(F.broadcast(dim), "cls")
        .drop("cls")
    )
    feats = MM.extract_image_features(assets, fake=False)
    sheet = {
        (r["format"], r["status"]): r["n_assets"]
        for r in MM.decode_error_datasheet(feats, "image").collect()
    }
    per_cls = [n // 5 + (1 if c < n % 5 else 0) for c in range(5)]
    want = {
        ("png", "ok"): per_cls[0],
        ("jpeg", "ok"): per_cls[4],
        ("unknown", "NotImplementedError"): per_cls[2],
        ("jpeg", "NotImplementedError"): per_cls[3],
    }
    bad_png = {k: v for k, v in sheet.items()
               if k[0] == "png" and k[1] != "ok"}
    if sum(bad_png.values()) != per_cls[1]:
        return (f"truncated-png budget {bad_png} != {per_cls[1]}")
    got_rest = {k: v for k, v in sheet.items() if k not in bad_png}
    if got_rest != want:
        return f"datasheet {got_rest} != expected {want}"
    return None


@check("minhash_perrow_equals_window_form")
def check_minhash_equiv():
    """r10 rewrite re-pin AT SCALE (r10 verdict #9): the per-row
    shingle builder inside _minhash_min_columns must emit signatures
    multiset-identical to the superseded posexplode + lead-chain
    window form on the whole replica corpus."""
    from pyspark.sql import Window

    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        _minhash_min_columns,
    )

    k, shingle_n, seed = 16, 3, 42
    d = docs.select("doc_id", "text")
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tok = d.select(
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
    old = (
        sh.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"__h{i}").alias(f"__m{i}") for i in range(k)])
    )
    new = _minhash_min_columns(d, "text", "doc_id", k, shingle_n, seed)
    so, sn = _multiset_sig(old), _multiset_sig(new)
    if so != sn:
        return f"window-form sig {so} != per-row sig {sn}"
    return None


@check("winnow_perrow_equals_window_form")
def check_winnow_equiv():
    """r10 rewrite re-pin AT SCALE: per-row winnow sketch rows
    (_winnow_fingerprint_rows) multiset-equal the superseded
    posexplode + lead-chain + frame-min window form on the whole
    replica corpus."""
    from pyspark.sql import Window

    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        _winnow_fingerprint_rows,
    )

    window, w_select = 8, 4
    d = docs.select("doc_id", "text")
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tok = d.select(
        F.col("doc_id"), F.posexplode(toks).alias("__pos", "__tok")
    ).withColumn("__th", F.xxhash64("__tok"))
    w = Window.partitionBy("doc_id").orderBy("__pos")
    lead_hashes = [F.col("__th")] + [
        F.lead("__th", j).over(w) for j in range(1, window)
    ]
    fp_rows = (
        tok.withColumn("__fp0", F.xxhash64(*lead_hashes))
        .withColumn("__full", lead_hashes[-1].isNotNull())
        .filter(F.col("__full") | (F.col("__pos") == 0))
    )
    sel = (
        fp_rows.withColumn(
            "__fp", F.min("__fp0").over(w.rowsBetween(0, w_select - 1))
        )
        .withColumn(
            "__fullw",
            F.lead("__fp0", w_select - 1).over(w).isNotNull(),
        )
        .filter(F.col("__fullw") | (F.col("__pos") == 0))
    )
    old = sel.select("doc_id", "__fp").distinct()
    new = _winnow_fingerprint_rows(d, "text", "doc_id", window, w_select)
    so, sn = _multiset_sig(old), _multiset_sig(new)
    if so != sn:
        return f"window-form sig {so} != per-row sig {sn}"
    return None


@check("span_gram_perrow_equals_window_form")
def check_spangram_equiv():
    """r10 rewrite re-pin AT SCALE: the per-row span-trim gram builder
    (_span_grams_per_row) multiset-equals the superseded lead-chain
    builder (_span_grams_from_tok) on the whole replica corpus — the
    guarantee that a persisted span_gram_table keeps working across
    the rewrite."""
    from datawarehouse_vehicule_insurance_spark.operators.dedup import (
        _span_grams_from_tok,
        _span_grams_per_row,
        _span_tok_rows,
    )

    L = 50
    d = docs.select("doc_id", "text")
    old = _span_grams_from_tok(_span_tok_rows(d, 1, "text", "doc_id"), L)
    new = _span_grams_per_row(d, 1, "text", "doc_id", L)
    so, sn = _multiset_sig(old), _multiset_sig(new)
    if so != sn:
        return f"lead-chain sig {so} != per-row sig {sn}"
    return None


checks = [v for v in list(globals().values())
          if callable(v) and hasattr(v, "__check_name__")]
for fn in checks:
    name = fn.__check_name__
    if only and name not in only:
        continue
    t0 = time.time()
    try:
        err = fn()
    except Exception as e:  # noqa: BLE001 — audit must report, not die
        err = f"{type(e).__name__}: {e}"
    dt = time.time() - t0
    if err:
        fails.append((name, err))
        print(f"{name:32s} FAIL ({dt:.1f}s): {err}")
    else:
        print(f"{name:32s} ok ({dt:.1f}s)")

print(f"\n=== {len(fails)} failed of {len([f for f in checks if not only or f.__check_name__ in only])} ===")
sys.exit(1 if fails else 0)
