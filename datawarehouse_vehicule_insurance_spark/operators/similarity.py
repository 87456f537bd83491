"""Similarity search over embedding columns (``array<float>``).

Two tiers (SURVEY.md §7.2 step 6):

- :func:`cosine_topk` — brute-force exact top-k. The baseline; correct at
  any scale but O(Q×N). Queries broadcast; candidates stream — one pass
  over the embedding table, no shuffle of the big side.
- :func:`lsh_topk` — random-hyperplane LSH bucketing: candidates are
  restricted to same-bucket rows (probing multiple hash tables for
  recall), so the join shuffles bucket-sized groups instead of the full
  cross product. The 100-TB path.

All vector math is native ``zip_with``/``aggregate``/``transform`` column
expressions computed in float64 — no Python UDF in the hot path.
"""

from __future__ import annotations

import logging
import math
import random
import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..compat import safe_broadcast

logger = logging.getLogger(
    "datawarehouse_vehicule_insurance_spark.similarity"
)

# executor closures call the module-level numpy kernels below
# (_unit_rows, _pq_tables, _pq_block_topk): pickle them BY VALUE, or a
# worker would need this package importable to unpickle them
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _unit_rows(M):
    """Rows of ``M`` scaled to unit L2 norm (zero rows stay zero)."""
    import numpy as np

    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return M / norms


def _rank_topk(scored: DataFrame, query_id: str, cand_id: str, k: int,
               sim: str = "sim", out: str = "cosine_sim") -> DataFrame:
    """The exact per-query top-k tail shared by every tier: rank by
    ``sim`` descending (ties by ``cand_id``), keep ``rank <= k``, round
    the score to 6 places as ``out``."""
    w = Window.partitionBy(query_id).orderBy(
        F.col(sim).desc(), F.col(cand_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, F.round(sim, 6).alias(out), "rank")
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, NULL when either side
    has zero norm (cosine is undefined there — and under Spark 4 ANSI
    mode an unguarded 0/0 is a hard DIVIDE_BY_ZERO, so one all-zero
    embedding would crash the whole query; found by the r8 degenerate
    sweep). NULL sims sort last under the top-k windows' descending
    order and fail every ``>= threshold`` filter, so zero vectors
    simply never match. A NaN/Inf COMPONENT instead yields a NaN sim,
    and Spark SQL (unlike IEEE/numpy) defines NaN as LARGER than any
    double — a NaN sim both outranks every real candidate in a
    descending window AND passes every ``>= threshold`` filter, so
    every consumer must guard: rank windows via :func:`_rankable_sim`,
    threshold filters via an explicit ``~F.isnan(...)`` (r9 ADVICE —
    :func:`ivf_neardup_candidates` previously let one corrupt corpus
    embedding match, and thereby drop, every batch document in its
    probed cells)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom)


def _finite_vec(vec_col: str) -> Column:
    """TRUE iff the array column is non-null and every component is a
    finite double — the index-BUILD-side NaN/Inf guard (r9 verdict #8):
    query-time paths already filter NaN sims, but a corrupt vector
    reaching `_train_ivf`/`_train_pq` would bake NaN into the persisted
    centroid/codebook geometry and poison every later probe."""
    inf = float("inf")
    return F.forall(
        F.col(vec_col),
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) < inf),
    )


def _rankable_sim() -> Column:
    """Filter for the top-k rank windows: drop NULL sims (zero-norm —
    cosine undefined) and NaN sims (a NaN/Inf component in an
    embedding). Without the NaN half, one corrupt embedding would
    OUTRANK every real candidate for every query — Spark's descending
    sort order treats NaN as larger than any double (r8 degenerate
    sweep). Clean data is unaffected."""
    return F.col("sim").isNotNull() & ~F.isnan("sim")


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k. Queries are broadcast (the query
    set is small by construction); each candidate partition computes its
    similarities locally, then a per-query window picks top-k — with AQE
    the final rank shuffle carries only (query, cand, sim) triples."""
    return _rank_topk(
        F.broadcast(queries)
        .crossJoin(candidates)
        .withColumn("sim", cosine_sim(F.col(query_vec), F.col(cand_vec)))
        .filter(_rankable_sim()),
        query_id, cand_id, k,
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine near-duplicate detection, distributed via
    block-pair partitioning: rows are hashed into B = ceil(N/block_rows)
    blocks; each of the B(B+1)/2 block pairs becomes one applyInPandas
    group whose task multiplies its two blocks with BLAS. Every unordered
    row pair meets in exactly one task (cross-block pairs where the two
    blocks differ, upper-triangle within a diagonal task), so the output
    equals the brute-force all-pairs result — no driver ``collect()``,
    no full-matrix broadcast; per-task memory is 2×``block_rows``
    vectors regardless of N.

    The quadratic comparison cost is inherent to EXACT near-dup; it is
    here spread evenly over the cluster (each row is replicated ~B times
    into its block-pair tasks). For approximate near-dup at extreme
    scale, pre-bucket with :func:`lsh_bucket` and run the same matmul
    within buckets.

    ``n_rows`` sizes the block grid without a counting job — pass it
    when the caller already knows (or can bound) the input size; an
    upper bound is fine (extra blocks are empty and cost nothing). When
    absent, one narrow ``count()`` over the id/vec projection runs
    first (round-3 VERDICT #3: that extra scan is real at 100-TB scale,
    so callers on big inputs should supply it).
    """
    import math as _math

    import numpy as np
    import pandas as pd

    n = n_rows if n_rows is not None else df.count()
    n_blocks = max(1, _math.ceil(n / block_rows))
    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("__blk"),
    )
    # row in block b serves as the "left" matrix of tasks (b, j≥b) and as
    # the "right" matrix of tasks (i<b, b); the diagonal task (b, b) uses
    # the left copy only.
    left = base.withColumn(
        "__bj", F.explode(F.sequence(F.col("__blk"), F.lit(n_blocks - 1)))
    ).select(
        F.col("__blk").alias("__bi"), "__bj",
        F.lit(0).alias("__side"), "__id", "__vec",
    )
    # block-0 rows have no blocks below them; an unguarded
    # sequence(0, blk-1) would default to step -1 and fan them out to a
    # phantom (-1, 0) task plus a duplicate diagonal copy.
    right = base.withColumn(
        "__bi",
        F.explode(
            F.when(
                F.col("__blk") > 0,
                F.sequence(F.lit(0), F.col("__blk") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ),
    ).select(
        "__bi", F.col("__blk").alias("__bj"),
        F.lit(1).alias("__side"), "__id", "__vec",
    )
    tasks = left.unionByName(right)

    out_schema = "id_a long, id_b long, cosine_sim double"

    def _pairs(key, pdf):
        bi, bj = key
        a_pdf = pdf[pdf["__side"] == 0]
        b_pdf = pdf[pdf["__side"] == 1]
        empty = pd.DataFrame({
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cosine_sim": pd.Series(dtype="float64"),
        })
        if len(a_pdf) == 0:
            return empty

        def _mat(p):
            m = np.array(list(p["__vec"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            return m / norms

        m_a = _mat(a_pdf)
        ids_a = a_pdf["__id"].to_numpy(dtype=np.int64)
        if bi == bj:
            sims = m_a @ m_a.T
            ia, ib = np.nonzero(sims >= threshold)
            a, b = ids_a[ia], ids_a[ib]
            keep = a < b  # symmetric matrix: keep each pair once, no self
        else:
            if len(b_pdf) == 0:
                return empty
            m_b = _mat(b_pdf)
            ids_b = b_pdf["__id"].to_numpy(dtype=np.int64)
            sims = m_a @ m_b.T
            ia, ib = np.nonzero(sims >= threshold)
            a, b = ids_a[ia], ids_b[ib]
            # cross-block: every pair meets exactly once; orient by id
            keep = np.ones(len(a), dtype=bool)
        return pd.DataFrame({
            "id_a": np.minimum(a, b)[keep],
            "id_b": np.maximum(a, b)[keep],
            "cosine_sim": np.round(sims[ia, ib][keep], 6),
        })

    return tasks.groupBy("__bi", "__bj").applyInPandas(_pairs, out_schema)


def cross_corpus_cosine_pairs(
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
    n_rows: tuple[int | None, int | None] = (None, None),
) -> DataFrame:
    """EXACT cosine near-duplicate pairs BETWEEN two corpora — the
    embedding-space analogue of :func:`..dedup.cross_corpus_lsh_candidates`:
    check an incoming batch against an existing corpus (or a training
    corpus against benchmark embeddings for decontamination) without a
    batch×corpus cross join.

    Same block-pair partitioning as :func:`cosine_neardup_pairs`, but
    the grid is the full A×B rectangle (every batch block meets every
    corpus block exactly once — no diagonal/orientation logic since the
    sides are distinct). Each of the Ba·Bb tasks BLAS-multiplies two
    bounded blocks; per-task memory is 2×``block_rows`` vectors
    regardless of either corpus size. ``n_rows`` optionally supplies
    (batch_rows, corpus_rows) to size the grid without counting jobs.

    Returns (id_a = batch id, id_b = corpus id, cosine_sim ≥ threshold).
    """
    import math as _math

    import numpy as np
    import pandas as pd

    na = n_rows[0] if n_rows[0] is not None else new_vecs.count()
    nb = n_rows[1] if n_rows[1] is not None else corpus_vecs.count()
    ba = max(1, _math.ceil(na / block_rows))
    bb = max(1, _math.ceil(nb / block_rows))

    def blocked(df, n_blocks):
        return df.select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).alias("__vec"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
            .cast("int")
            .alias("__blk"),
        )

    # batch block i fans out to tasks (i, 0..bb-1); corpus block j to
    # tasks (0..ba-1, j) — every (i, j) pair meets in exactly one task
    left = blocked(new_vecs, ba).withColumn(
        "__bj", F.explode(F.sequence(F.lit(0), F.lit(bb - 1)))
    ).select(
        F.col("__blk").alias("__bi"), "__bj",
        F.lit(0).alias("__side"), "__id", "__vec",
    )
    right = blocked(corpus_vecs, bb).withColumn(
        "__bi", F.explode(F.sequence(F.lit(0), F.lit(ba - 1)))
    ).select(
        "__bi", F.col("__blk").alias("__bj"),
        F.lit(1).alias("__side"), "__id", "__vec",
    )
    tasks = left.unionByName(right)
    out_schema = "id_a long, id_b long, cosine_sim double"

    def _pairs(key, pdf):
        a_pdf = pdf[pdf["__side"] == 0]
        b_pdf = pdf[pdf["__side"] == 1]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine_sim": pd.Series(dtype="float64"),
            })

        def _mat(p):
            m = np.array(list(p["__vec"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            return m / norms

        sims = _mat(a_pdf) @ _mat(b_pdf).T
        ia, ib = np.nonzero(sims >= threshold)
        return pd.DataFrame({
            "id_a": a_pdf["__id"].to_numpy(dtype=np.int64)[ia],
            "id_b": b_pdf["__id"].to_numpy(dtype=np.int64)[ib],
            "cosine_sim": np.round(sims[ia, ib], 6),
        })

    return tasks.groupBy("__bi", "__bj").applyInPandas(_pairs, out_schema)


ANN_PARAMS_COL = "__ann_params"


def ivf_fingerprint(
    n_cells: int, kmeans_iters: int, kmeans_sample: int, seed: int
) -> str:
    """Canonical fingerprint of IVF training parameters — stamped into
    persisted centroid/assignment tables and validated at probe time
    (same contract as :func:`~.dedup.lsh_fingerprint`)."""
    return (
        f"ivf/n_cells={n_cells}/kmeans_iters={kmeans_iters}"
        f"/kmeans_sample={kmeans_sample}/seed={seed}"
    )


def pq_fingerprint(
    m: int, ks: int, train_sample: int, kmeans_iters: int, seed: int
) -> str:
    """Canonical fingerprint of PQ training parameters."""
    return (
        f"pq/m={m}/ks={ks}/train_sample={train_sample}"
        f"/kmeans_iters={kmeans_iters}/seed={seed}"
    )


def _validate_ann_params(table: DataFrame, expected: str, what: str) -> None:
    """Raise if a persisted ANN artifact was built with different
    parameters than the probe's (limit-1 read; tables without the stamp
    column skip validation)."""
    if ANN_PARAMS_COL not in table.columns:
        return
    row = table.select(ANN_PARAMS_COL).first()
    if row is None:
        return
    if row[0] != expected:
        raise ValueError(
            f"ANN {what} parameter mismatch: table was built with "
            f"{row[0]!r} but the probe uses {expected!r}"
        )


def _train_ivf(
    candidates: DataFrame,
    n_cells: int,
    kmeans_iters: int,
    kmeans_sample: int,
    seed: int,
    cand_id: str,
    cand_vec: str,
):
    """Driver-side IVF training: bootstrap centroids from a deterministic
    sample of the candidate set (lowest ids — testdata ids are random),
    optionally refined with spherical-Lloyd iterations over a bounded
    sample. Returns the (n_cells, dim) unit-norm centroid matrix.

    Non-finite vectors are excluded from BOTH the bootstrap and the
    Lloyd sample (:func:`_finite_vec`) — one NaN/Inf embedding among
    the lowest ids would otherwise become a NaN centroid and poison
    every assignment against the persisted index."""
    import numpy as np

    finite = candidates.filter(_finite_vec(cand_vec))
    cent_rows = (
        finite.select(cand_id, cand_vec)
        .orderBy(cand_id)
        .limit(n_cells)
        .collect()
    )
    cents = np.array([r[1] for r in cent_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    if kmeans_iters > 0:
        train_rows = (
            finite.select(cand_id, cand_vec)
            .orderBy(cand_id)
            .limit(kmeans_sample)
            .collect()
        )
        X = np.array([r[1] for r in train_rows], dtype=np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        for _ in range(kmeans_iters):
            assign = (X @ cents.T).argmax(axis=1)
            for c in range(n_cells):
                members = X[assign == c]
                if len(members):
                    m = members.mean(axis=0)
                    cents[c] = m / np.linalg.norm(m)
    return cents


def ivf_centroids_table(
    candidates: DataFrame,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable IVF index, part 1: (cell, centroid, __ann_params)
    rows — train ONCE, write as parquet, probe many times
    (:func:`ivf_topk` ``centroids=``). Mirrors the
    :func:`~.dedup.band_table` build-once/probe-many contract: training
    parameters are stamped and validated so a drifted probe raises."""
    cents = _train_ivf(
        candidates, n_cells, kmeans_iters, kmeans_sample, seed,
        cand_id, cand_vec,
    )
    spark = candidates.sparkSession
    rows = [
        (int(c), [float(x) for x in cents[c]]) for c in range(len(cents))
    ]
    return spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).withColumn(
        ANN_PARAMS_COL,
        F.lit(ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)),
    )


def _load_ivf_centroids(centroids: DataFrame):
    """Persisted centroids table → (n_cells, dim) numpy matrix. Bounded
    collect: n_cells rows regardless of corpus size."""
    import numpy as np

    rows = centroids.select("cell", "centroid").collect()
    rows.sort(key=lambda r: r[0])
    if [r[0] for r in rows] != list(range(len(rows))):
        raise ValueError("centroids table must hold cells 0..n_cells-1")
    return np.array([r[1] for r in rows], dtype=np.float64)


def ivf_assign_table(
    candidates: DataFrame,
    centroids: DataFrame,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable IVF index, part 2: the inverted file itself —
    (vec_id, cell, __ann_params) rows assigning every candidate to its
    nearest centroid. An ingest pipeline appends each accepted batch's
    assignments so :func:`ivf_topk` (``assignments=``) probes cells
    straight off parquet with no per-call assignment pass over the
    corpus."""
    fp = ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    _validate_ann_params(centroids, fp, "IVF centroids")
    cents = _load_ivf_centroids(centroids)
    assigned = _ivf_assign(candidates, cents, cand_id, cand_vec)
    return assigned.select(
        F.col(cand_id), F.col("__cell").alias("cell")
    ).withColumn(ANN_PARAMS_COL, F.lit(fp))


def ivf_clustered_corpus_table(
    candidates: DataFrame,
    centroids: DataFrame,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable IVF index, part 3 (optional): the corpus stored
    CLUSTERED — (vec_id, embedding, cell, __ann_params) rows, the
    vectors themselves carried next to their cell id. Write it
    ``partitionBy("cell")`` and :func:`ivf_topk` (``clustered=``) prunes
    the VECTOR read — the dominant bytes of an IVF probe — to the
    probed cells via a static probed-cell filter (parquet partition
    pruning), instead of only bounding the comparison count: this is
    FAISS's inverted-list storage re-expressed as a partition
    layout. The plain ``assignments=`` path keeps the (vec_id, cell)
    table separate for corpora whose vectors already live in an
    unmovable table; pay the one-time rewrite when probe I/O matters
    more (at 100 TB of vectors it does: ~n_probe/n_cells of the bytes
    are read per probe batch).

    An ingest pipeline appends each accepted batch's rows (same
    dynamic-partition-overwrite idempotency as every loop artifact —
    a replayed batch rewrites its own cell slices identically).

    Write shape matters: ``repartition("cell")`` BEFORE
    ``partitionBy("cell")`` — without it every writer task emits a
    file into every cell directory (tasks × cells tiny files), and
    the probe-side pruning win drowns in per-file footer/scheduling
    overhead. Measured (NOTES r13 "Clustered probe measurement",
    1.2M vectors, 64 cells, local[32]): naive layout probed at 0.78× the
    assignments path; repartitioned layout at 3.3× — matching the
    0.29 probed-byte fraction."""
    fp = ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    _validate_ann_params(centroids, fp, "IVF centroids")
    cents = _load_ivf_centroids(centroids)
    assigned = _ivf_assign(candidates, cents, cand_id, cand_vec)
    return (
        assigned.join(candidates.select(cand_id, cand_vec), cand_id)
        .select(
            F.col(cand_id),
            F.col(cand_vec),
            F.col("__cell").alias("cell"),
        )
        .withColumn(ANN_PARAMS_COL, F.lit(fp))
    )


def _ivf_assign(
    df: DataFrame, cents, id_name: str, vec_name: str, top: int = 1
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment → (id, __cell); with
    ``top`` > 1 emits the ``top`` closest cells per row (multi-probe)."""
    import numpy as np
    import pandas as pd

    b = safe_broadcast(df.sparkSession, cents)
    # id-type-generic: mirror df's id field rather than hardcoding long
    # (string vector ids must survive the round trip — r5 advice)
    id_ddl = df.schema[id_name].dataType.simpleString()

    def _fn(batches):
        C = b.value
        for pdf in batches:
            M = _unit_rows(np.array(list(pdf[vec_name]), dtype=np.float64))
            sims = M @ C.T
            ids = pdf[id_name].to_numpy()
            if top == 1:
                yield pd.DataFrame({
                    id_name: ids, "__cell": sims.argmax(axis=1)
                })
            else:
                t = min(top, sims.shape[1])
                cells = np.argsort(-sims, axis=1)[:, :t]
                yield pd.DataFrame({
                    id_name: np.repeat(ids, t),
                    "__cell": cells.ravel(),
                })

    return df.select(id_name, vec_name).mapInPandas(
        _fn, f"{id_name} {id_ddl}, __cell int"
    )


def ivf_neardup_candidates(
    batch: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    threshold: float = 0.95,
    n_probe: int = 4,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    batch_id_col: str = "vec_id",
    batch_vec: str = "embedding",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicates of a new batch AGAINST an existing
    corpus, probing a PERSISTED IVF index — the ANN-tier analogue of
    :func:`~.dedup.cross_corpus_lsh_candidates`: the corpus side is its
    stored (vec_id, cell) assignment table, so per batch only the
    (small) batch pays an assignment pass, and batch×corpus cosines are
    computed only inside the batch's ``n_probe`` probed cells — never
    the full rectangle.

    Approximate by construction (a near-dup hiding in an unprobed cell
    is missed — with ``n_probe = n_cells`` the candidate set is
    exhaustive and equals the brute-force rectangle, the oracle the
    tests pin). Parameters are validated against both persisted
    artifacts' stamps. Returns (id_a = batch id, id_b = corpus id,
    cosine_sim) with cosine ≥ ``threshold``.
    """
    fp = ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    _validate_ann_params(centroids, fp, "IVF centroids")
    _validate_ann_params(assignments, fp, "IVF assignments")
    cents = _load_ivf_centroids(centroids)

    probe = _ivf_assign(
        batch, cents, batch_id_col, batch_vec, top=n_probe
    ).withColumnRenamed(batch_id_col, "__probe_id")
    batch_side = probe.join(
        batch.select(
            F.col(batch_id_col).alias("__probe_id"),
            F.col(batch_vec).alias("__probe_vec"),
        ),
        "__probe_id",
    )
    corpus_side = assignments.select(
        F.col(cand_id).alias("__cand_id"), F.col("cell").alias("__cell")
    ).join(
        corpus.select(
            F.col(cand_id).alias("__cand_id"),
            F.col(cand_vec).alias("__cand_vec"),
        ),
        "__cand_id",
    )
    sim = cosine_sim(F.col("__probe_vec"), F.col("__cand_vec"))
    return (
        batch_side.join(corpus_side, "__cell")
        .withColumn("cosine_sim", sim)
        # NaN guard: Spark NaN is LARGER than any double, so a corrupt
        # (NaN/Inf-component) embedding would pass ``>= threshold``
        # against everything in its probed cells and the ingest loop
        # would spuriously drop real batch docs (see cosine_sim).
        .filter(
            ~F.isnan("cosine_sim") & (F.col("cosine_sim") >= threshold)
        )
        # multi-probe can pair the same (batch, corpus) ids via several
        # cells; keep one row
        .dropDuplicates(["__probe_id", "__cand_id"])
        .select(
            F.col("__probe_id").alias("id_a"),
            F.col("__cand_id").alias("id_b"),
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame | None = None,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
    clustered: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: candidates are assigned to
    their nearest of ``n_cells`` centroids; each query probes its
    ``n_probe`` closest cells and ranks only those members.

    Centroids bootstrap from a deterministic sample of the candidate
    set; ``kmeans_iters`` > 0 refines them with spherical-Lloyd
    iterations over a driver-side sample (``kmeans_sample`` vectors) —
    the standard IVF training recipe, cheap because training sees a
    sample while assignment sees everything. Assignment is an
    Arrow-batched numpy matmul; the probe join is an equi-join on cell
    id — the shuffle is bucketed by cell, which is the property that
    survives scale-out. Expected recall with n_probe/n_cells = 1/4 on
    isotropic data ≈ 60-80%.

    ``centroids`` / ``assignments`` (optional): persisted
    :func:`ivf_centroids_table` / :func:`ivf_assign_table` — with both,
    the probe runs NO training jobs and NO corpus assignment pass (the
    n_cells-row centroid read and the query-side assignment only);
    stamped parameters are validated against this call's. Cost shape:
    the assignments table is corpus-sized (never broadcastable at
    scale), so attaching vectors is a corpus-scale shuffle join per
    probe — comparisons are bounded, bytes moved are not. When probe
    I/O dominates, store the corpus clustered instead (below):
    measured 3.3× at 1.2M vectors (NOTES r13 "Clustered probe
    measurement").

    ``clustered`` (optional, requires ``centroids``, excludes
    ``assignments``): a persisted :func:`ivf_clustered_corpus_table`,
    vectors stored next to their cell id and written
    ``partitionBy("cell")``. The probe then reads vectors straight off
    the clustered table (``candidates`` is not scanned at all), and the
    scan is pre-filtered to the union of probed cells (a bounded ≤
    n_cells driver-side set, same move as :func:`ivfpq_topk`) — plain
    Catalyst partition pruning on the cell layout, so only the probed
    cells' partitions are READ, making the probe's I/O
    ~n_probe/n_cells of the corpus BYTES, not just of its comparisons.
    With ``clustered=`` the ``candidates`` frame is never scanned, so it
    is optional in that mode (r13 advice — the API now reflects the
    actual data flow: the clustered table is the authoritative corpus).
    """
    fp = ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    if candidates is None and clustered is None:
        raise ValueError(
            "candidates= is required unless clustered= is given (only "
            "the clustered layout carries the corpus vectors itself)"
        )
    if assignments is not None and centroids is None:
        raise ValueError(
            "assignments= requires centroids= (queries are assigned "
            "against the same centroids)"
        )
    if clustered is not None and centroids is None:
        raise ValueError(
            "clustered= requires centroids= (queries are assigned "
            "against the same centroids)"
        )
    if clustered is not None and assignments is not None:
        raise ValueError(
            "pass clustered= or assignments=, not both (they are "
            "alternative storages of the same inverted file)"
        )
    if centroids is not None:
        _validate_ann_params(centroids, fp, "IVF centroids")
        cents = _load_ivf_centroids(centroids)
    else:
        cents = _train_ivf(
            candidates, n_cells, kmeans_iters, kmeans_sample, seed,
            cand_id, cand_vec,
        )

    q_cells = _ivf_assign(
        queries, cents, query_id, query_vec, top=n_probe
    ).join(queries.select(query_id, query_vec), query_id)

    if clustered is not None:
        _validate_ann_params(clustered, fp, "IVF clustered corpus")
        # pin q_cells BEFORE the probed-cell collect (r13 advice): the
        # plan below executes twice — once for the distinct __cell
        # collect, once in the final broadcast join — and an unpinned
        # nondeterministic queries frame (limit/sample without an
        # ordering) could return DIFFERENT rows on the two executions,
        # leaving joined queries in cells the probe filter never read.
        # The eager localCheckpoint materializes one consistent result
        # (and halves the probe's Arrow assignment work as a bonus).
        q_cells = q_cells.localCheckpoint(eager=True)
        # static probed-cell pruning, same move as ivfpq_topk's code
        # scan: the distinct probed-cell set is bounded by n_cells
        # regardless of how many queries there are, so one cheap
        # driver-side collect turns the cell restriction into a plain
        # Catalyst filter — guaranteed parquet PARTITION pruning on
        # the cell-partitioned layout, with no reliance on the DPP
        # heuristics firing through the mapInPandas query side
        probed = sorted(
            int(r[0])
            for r in q_cells.select("__cell").distinct().collect()
        )
        cand_cells = clustered.select(
            F.col(cand_id), F.col(cand_vec), F.col("cell").alias("__cell")
        ).filter(F.col("__cell").isin(probed))
    elif assignments is not None:
        _validate_ann_params(assignments, fp, "IVF assignments")
        # deprecation-style nudge (r13 verdict #2): this path attaches
        # vectors via a corpus-scale shuffle join per probe — measured
        # 3.3× slower than the clustered layout at 1.2M vectors
        logger.info(
            "ivf_topk probing via assignments= — corpus-scale shuffle "
            "join per probe; prefer clustered= "
            "(ivf_clustered_corpus_table) for partition-pruned reads"
        )
        cand_cells = assignments.select(
            F.col(cand_id), F.col("cell").alias("__cell")
        ).join(candidates.select(cand_id, cand_vec), cand_id)
    else:
        cand_cells = _ivf_assign(candidates, cents, cand_id, cand_vec).join(
            candidates.select(cand_id, cand_vec), cand_id
        )

    return _rank_topk(
        F.broadcast(q_cells)
        .join(cand_cells, "__cell")
        .withColumn("sim", cosine_sim(F.col(query_vec), F.col(cand_vec)))
        .filter(_rankable_sim())
        .dropDuplicates([query_id, cand_id]),
        query_id, cand_id, k,
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    product), packed into a long. Same-bucket vectors are cosine-close
    with probability 1 − θ/π per plane."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec, arr) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates pruned to rows sharing an LSH bucket
    with the query in ANY of ``n_tables`` hash tables (multi-table
    probing recovers recall lost to unlucky cuts). The candidate join is
    an equi-join on (table_id, bucket) — shuffle partitioned by bucket,
    which is what survives a 100× scale-up."""
    q_buckets = queries
    c_buckets = candidates
    q_parts = []
    c_parts = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
        q_parts.append(
            q_buckets.select(
                query_id, query_vec,
                F.lit(t).alias("table_id"),
                lsh_bucket(F.col(query_vec), planes).alias("bucket"),
            )
        )
        c_parts.append(
            c_buckets.select(
                cand_id, cand_vec,
                F.lit(t).alias("table_id"),
                lsh_bucket(F.col(cand_vec), planes).alias("bucket"),
            )
        )
    qb = q_parts[0]
    for p in q_parts[1:]:
        qb = qb.unionByName(p)
    cb = c_parts[0]
    for p in c_parts[1:]:
        cb = cb.unionByName(p)

    pairs = (
        F.broadcast(qb)
        .join(cb, ["table_id", "bucket"])
        .select(query_id, query_vec, cand_id, cand_vec)
        .dropDuplicates([query_id, cand_id])
    )
    return _rank_topk(
        pairs.withColumn(
            "sim", cosine_sim(F.col(query_vec), F.col(cand_vec))
        ).filter(_rankable_sim()),
        query_id, cand_id, k,
    )


def _train_pq(
    candidates: DataFrame,
    m: int,
    ks: int,
    train_sample: int,
    kmeans_iters: int,
    seed: int,
    cand_id: str,
    cand_vec: str,
):
    """Driver-side PQ codebook training on a deterministic bounded
    sample (lowest ids — same recipe as :func:`_train_ivf`): per
    subspace, ``ks``-centroid Lloyd iterations. Returns a list of m
    (ks, dim/m) arrays. Non-finite vectors are excluded from the
    training sample (:func:`_finite_vec`) — same poisoned-geometry
    failure mode as IVF training."""
    import numpy as np

    train_rows = (
        candidates.filter(_finite_vec(cand_vec))
        .select(cand_id, cand_vec)
        .orderBy(cand_id)
        .limit(train_sample)
        .collect()
    )
    X = _unit_rows(np.array([r[1] for r in train_rows], dtype=np.float64))
    return _lloyd_books(X, m, ks, kmeans_iters, seed)


def _lloyd_books(X, m: int, ks: int, kmeans_iters: int, seed: int):
    """Per-subspace ``ks``-centroid Lloyd iterations over a driver-side
    training matrix (rows already normalized / residualized by the
    caller). Returns a list of m (ks, dim/m) codebook arrays — shared
    by whole-vector PQ (:func:`_train_pq`) and residual PQ
    (:func:`ivfpq_topk`)."""
    import numpy as np

    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    rng = np.random.RandomState(seed)
    books = []  # m arrays of (ks, sub)
    for j in range(m):
        Xj = X[:, j * sub:(j + 1) * sub]
        init = rng.choice(len(Xj), size=min(ks, len(Xj)), replace=False)
        C = Xj[np.sort(init)].copy()
        for _ in range(kmeans_iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(len(C)):
                members = Xj[a == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C)
    return books


def pq_codebooks_table(
    candidates: DataFrame,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable PQ index, part 1: (subspace, code, centroid,
    __ann_params) rows — m·ks rows total. Train ONCE, write as parquet,
    probe many times (:func:`pq_topk` ``codebooks=``); parameters are
    stamped and validated like :func:`ivf_centroids_table`."""
    books = _train_pq(
        candidates, m, ks, train_sample, kmeans_iters, seed,
        cand_id, cand_vec,
    )
    spark = candidates.sparkSession
    rows = [
        (j, c, [float(x) for x in books[j][c]])
        for j in range(len(books))
        for c in range(len(books[j]))
    ]
    return spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).withColumn(
        ANN_PARAMS_COL,
        F.lit(pq_fingerprint(m, ks, train_sample, kmeans_iters, seed)),
    )


def _load_pq_codebooks(codebooks: DataFrame):
    """Persisted codebooks table → list of m (ks, sub) numpy arrays.
    Bounded collect: m·ks rows regardless of corpus size."""
    import numpy as np

    rows = codebooks.select("subspace", "code", "centroid").collect()
    by_sub: dict[int, dict[int, list]] = {}
    for j, c, v in rows:
        by_sub.setdefault(j, {})[c] = v
    if sorted(by_sub) != list(range(len(by_sub))):
        raise ValueError("codebooks table must hold subspaces 0..m-1")
    books = []
    for j in range(len(by_sub)):
        codes = by_sub[j]
        if sorted(codes) != list(range(len(codes))):
            raise ValueError(
                f"codebooks table subspace {j} must hold codes 0..ks-1"
            )
        books.append(
            np.array([codes[c] for c in range(len(codes))],
                     dtype=np.float64)
        )
    return books


def pq_encode_table(
    candidates: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable PQ index, part 2: the encoded corpus —
    (vec_id, code array<int>, __ann_params) at m·4 bytes per vector.
    An ingest pipeline appends each accepted batch's codes so
    :func:`pq_topk` (``codes=``) scans codes straight off parquet with
    no per-call encode of the corpus."""
    _validate_ann_params(
        codebooks,
        pq_fingerprint(m, ks, train_sample, kmeans_iters, seed),
        "PQ codebooks",
    )
    books = _load_pq_codebooks(codebooks)
    codes = _pq_encode(candidates, books, cand_id, cand_vec)
    return codes.select(
        F.col(cand_id), F.col("__code").alias("code")
    ).withColumn(
        ANN_PARAMS_COL,
        F.lit(pq_fingerprint(m, ks, train_sample, kmeans_iters, seed)),
    )


def _pq_encode(
    candidates: DataFrame, books, cand_id: str, cand_vec: str
) -> DataFrame:
    """Arrow-batched numpy PQ encoding of a vector table against
    driver-held codebooks → (id, __code array<int>).

    Non-finite vectors are DROPPED from the encoded corpus: unlike the
    raw-cosine paths (where a NaN sim is filtered by
    :func:`_rankable_sim`), PQ similarity is reconstructed from
    codebook centroids — a corrupt vector would get an arbitrary but
    FINITE code and show up in every query's top-k with a fake
    similarity. Excluding it at encode time is the only point where
    the corruption is still visible."""
    import numpy as np
    import pandas as pd

    spark = candidates.sparkSession
    m = len(books)
    sub = books[0].shape[1]
    b_books = safe_broadcast(spark, books)

    def _encode(batches):
        B = b_books.value
        for pdf in batches:
            M = np.array(list(pdf[cand_vec]), dtype=np.float64)
            keep = np.isfinite(M).all(axis=1)
            if not keep.all():
                M = M[keep]
                pdf = pdf[keep]
            if not len(M):
                continue
            M = _unit_rows(M)
            codes = np.empty((len(M), m), dtype=np.int32)
            for j, C in enumerate(B):
                Mj = M[:, j * sub:(j + 1) * sub]
                d2 = (
                    (Mj ** 2).sum(axis=1, keepdims=True)
                    - 2.0 * Mj @ C.T
                    + (C ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({
                cand_id: pdf[cand_id].to_numpy(),
                "__code": list(codes),
            })

    # id-type-generic: mirror the candidate id field's DDL rather than
    # hardcoding long (string vector ids must survive the round trip —
    # same contract as _ivf_assign, r5 advice / r12 verdict #2)
    id_ddl = candidates.schema[cand_id].dataType.simpleString()
    return candidates.select(cand_id, cand_vec).mapInPandas(
        _encode, f"{cand_id} {id_ddl}, __code array<int>"
    )


# PQ scan sizing, read on the driver when a scan is built. A scored
# matrix holds at most _QUERY_BLOCK_ROWS queries × one code batch (an
# Arrow batch, or a rectangle block of about _CODE_BLOCK_ROWS codes);
# queries whose LUT (nq·m·ks float64) fits in _LUT_BYTES collect to the
# driver, more take the rectangle.
_QUERY_BLOCK_ROWS = 1024
_CODE_BLOCK_ROWS = 16384
_LUT_BYTES = 64 << 20


def _pq_tables(Q, books, cents, n_probe):
    """Per-query PQ scoring tables for the raw query rows ``Q``: the
    rows are unit-normalized, then ``LUT[q, j, c] = ⟨q_j, book_j[c]⟩``
    (nq, m, ks). With IVF ``cents`` also the coarse term ⟨q, c(cell)⟩
    (nq, n_cells) and the mask of each query's ``n_probe`` closest
    cells; both are None for plain PQ. Returns (LUT, coarse, mask)."""
    import numpy as np

    m, sub = len(books), books[0].shape[1]
    Q = _unit_rows(np.asarray(Q, dtype=np.float64).reshape(-1, m * sub))
    lut = np.stack(
        [Q[:, j * sub:(j + 1) * sub] @ books[j].T for j in range(m)],
        axis=1,
    )
    if cents is None:
        return lut, None, None
    cell_sims = Q @ cents.T
    order = np.argsort(-cell_sims, axis=1)
    probe = np.zeros_like(cell_sims, dtype=bool)
    np.put_along_axis(probe, order[:, :n_probe], True, axis=1)
    return lut, cell_sims, probe


def _pq_block_topk(tables, qids, cids, codes, cells, k, q_block):
    """Score one code batch (``cids`` with (n, m) ``codes``, plus their
    IVF ``cells``) against the queries' :func:`_pq_tables`, at most
    ``q_block`` queries at a time, so a scored matrix never exceeds
    q_block × n float64 whatever the query count. ``pq_sim`` is the
    coarse term (IVF) plus the per-subspace LUT sum; cells outside a
    query's probe set score -inf. Returns (query ids, cand ids, sims) of
    each query's local top-k with non-finite scores dropped."""
    import numpy as np

    lut, coarse, probe = tables
    top = min(k, len(cids))
    out = [(qids[:0], cids[:0], np.zeros(0))]
    for s in range(0, len(qids), q_block):
        e = s + q_block
        # np.take gathers columns ~4× faster than fancy indexing
        if coarse is None:
            sims = np.zeros((len(qids[s:e]), len(cids)))
        else:
            sims = np.take(coarse[s:e], cells, axis=1)
        for j in range(lut.shape[1]):
            sims += np.take(lut[s:e, j, :], codes[:, j], axis=1)
        if probe is not None:
            sims[~np.take(probe[s:e], cells, axis=1)] = -np.inf
        part = np.argpartition(-sims, top - 1, axis=1)[:, :top]
        vals = np.take_along_axis(sims, part, axis=1).ravel()
        keep = np.isfinite(vals)
        out.append((np.repeat(qids[s:e], top)[keep],
                    cids[part].ravel()[keep], vals[keep]))
    return [np.concatenate(col) for col in zip(*out)]


def _pq_scan(
    queries: DataFrame,
    codes_df: DataFrame,
    books,
    cents,
    n_probe: int | None,
    k: int,
    query_id: str,
    query_vec: str,
    cand_id: str,
) -> DataFrame:
    """The one PQ code scan behind :func:`pq_topk` (``cents=None``) and
    :func:`ivfpq_topk` → (query_id, cand_id, pq_sim, rank).

    The query count picks the shape. Up to ``_LUT_BYTES // (m·ks·8)``
    queries collect to the driver: their tables are built once and
    broadcast, IVF prunes the code scan to the union of probed cells as
    an ``isin`` literal (a filter Catalyst pushes into a cell-partitioned
    persisted ``codes=`` layout), and one ``mapInPandas`` pass scores
    each Arrow batch. More queries stay a DataFrame and run the
    cogrouped block rectangle (same grid as
    :func:`cross_corpus_cosine_pairs`): queries block by
    ``pmod(xxhash64(id), bq)`` at ``_QUERY_BLOCK_ROWS`` per block, codes
    by ``_CODE_BLOCK_ROWS``, each side fans out across the other's
    block axis so every pair meets in exactly one task, and each task
    builds its own query block's tables from the broadcast model; IVF
    bounds the read with a broadcast LEFT-SEMI join on the ≤ n_cells
    probed-cell frame (:func:`_probed_cells_frame`), which Catalyst
    turns into dynamic partition pruning. Both shapes score through
    :func:`_pq_block_topk`, so a scored matrix holds at most
    ``_QUERY_BLOCK_ROWS`` × one code batch float64, and only each
    batch's per-query top-k reaches the final exact-rank window."""
    import numpy as np
    import pandas as pd

    spark = codes_df.sparkSession
    q_block = _QUERY_BLOCK_ROWS
    ivf = cents is not None
    ccols = [cand_id, "__code"] + (["__cell"] if ivf else [])
    qid_ddl = queries.schema[query_id].dataType.simpleString()
    cid_ddl = codes_df.schema[cand_id].dataType.simpleString()
    schema = f"{query_id} {qid_ddl}, {cand_id} {cid_ddl}, pq_sim double"

    def _top(tables, qids, cpdf):
        q, c, s = _pq_block_topk(
            tables, qids, cpdf[cand_id].to_numpy(),
            np.array(list(cpdf["__code"]), dtype=np.int64),
            cpdf["__cell"].to_numpy(dtype=np.int64) if ivf else None,
            k, q_block,
        )
        return pd.DataFrame({query_id: q, cand_id: c, "pq_sim": s})

    cap = _LUT_BYTES // (len(books) * len(books[0]) * 8)
    q_rows = queries.select(query_id, query_vec).limit(cap + 1).collect()
    if len(q_rows) <= cap:
        # ids stay in their native type (long, string, …)
        qids = np.array([r[0] for r in q_rows])
        tables = _pq_tables([r[1] for r in q_rows], books, cents, n_probe)
        if ivf:
            # the union filter bounds what is READ across queries; the
            # per-query mask in the tables bounds what each query RANKS
            probed = np.flatnonzero(tables[2].any(axis=0))
            codes_df = codes_df.filter(
                F.col("__cell").isin([int(c) for c in probed])
            )
        b_tables = safe_broadcast(spark, (qids, tables))

        def _scan(batches):
            ids_q, tabs = b_tables.value
            for cpdf in batches:
                if len(cpdf):
                    yield _top(tabs, ids_q, cpdf)

        local_top = codes_df.select(*ccols).mapInPandas(_scan, schema)
    else:
        if ivf:
            probed = _probed_cells_frame(queries, cents, n_probe, query_vec)
            codes_df = codes_df.join(
                F.broadcast(probed), "__cell", "left_semi"
            )
        bq = max(1, math.ceil(queries.count() / q_block))
        bc = max(1, math.ceil(codes_df.count() / _CODE_BLOCK_ROWS))
        b_model = safe_broadcast(spark, (books, cents))

        def _block(id_col, n):
            return F.pmod(
                F.xxhash64(F.col(id_col).cast("string")), F.lit(n)
            ).cast("int")

        def _fan(n):
            return F.explode(F.sequence(F.lit(0), F.lit(n - 1)))

        qside = queries.select(query_id, query_vec).withColumn(
            "__bi", _block(query_id, bq)
        ).withColumn("__bj", _fan(bc))
        cside = codes_df.select(*ccols).withColumn(
            "__bj", _block(cand_id, bc)
        ).withColumn("__bi", _fan(bq))

        def _pair(qpdf, cpdf):
            if not len(qpdf) or not len(cpdf):
                return pd.DataFrame({
                    query_id: qpdf[query_id].iloc[:0],
                    cand_id: cpdf[cand_id].iloc[:0],
                    "pq_sim": pd.Series(dtype="float64"),
                })
            books_, cents_ = b_model.value
            tables = _pq_tables(
                list(qpdf[query_vec]), books_, cents_, n_probe
            )
            return _top(tables, qpdf[query_id].to_numpy(), cpdf)

        local_top = (
            qside.groupBy("__bi", "__bj")
            .cogroup(cside.groupBy("__bi", "__bj"))
            .applyInPandas(_pair, schema)
        )
    return _rank_topk(local_top, query_id, cand_id, k, "pq_sim", "pq_sim")


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k — the compression tier of
    the ANN ladder (brute → LSH buckets → IVF cells → PQ codes): every
    candidate vector is stored as ``m`` sub-space codebook indices
    (``m`` bytes at ``ks`` ≤ 256), and query-candidate similarity is the
    asymmetric-distance sum of per-subspace lookup-table entries — a
    full scan like brute force, but over codes ~dim·4/m× smaller than
    the raw vectors with O(m) adds per candidate instead of O(dim)
    multiplies. The memory-bound regime's answer (IVF bounds candidates
    per query; PQ bounds bytes per candidate; real systems compose
    both).

    Codebooks train driver-side on a deterministic bounded sample
    (lowest ids — same recipe as :func:`ivf_topk`), per-subspace Lloyd
    iterations; encoding and scanning are Arrow-batched numpy over
    executor partitions. Each code batch emits only its local per-query
    top-k, so the final exact-rank shuffle never carries the scan.

    Returns (query_id, cand_id, pq_sim, rank) — ``pq_sim`` is the
    quantized cosine (vectors are normalized before training/encoding),
    so ranks are approximate; verify/re-rank with exact
    :func:`cosine_sim` downstream if exact order matters.

    ``codebooks`` / ``codes`` (optional): persisted
    :func:`pq_codebooks_table` / :func:`pq_encode_table` — with both,
    the probe runs NO training or corpus-encode jobs (the m·ks-row
    codebook read and the code scan only); stamped parameters are
    validated against this call's.

    The query count picks the scan shape (:func:`_pq_scan`): while the
    queries' lookup tables (nq·m·ks float64) fit in 64 MiB — 65,536
    queries at m=8/ks=16, 4,096 at ks=256 — queries collect to the
    driver and their tables broadcast; past that they stay a DataFrame
    and the scan runs as a cogrouped block rectangle that counts both
    sides to size its grid. Either way a Python worker scores at most
    1,024 queries against one code batch at a time (an Arrow batch, or
    a rectangle block of about 16,384 codes): per-batch memory is a few
    float64 matrices of that size, whatever the query count.
    """
    fp = pq_fingerprint(m, ks, train_sample, kmeans_iters, seed)
    if codes is not None and codebooks is None:
        raise ValueError(
            "codes= requires codebooks= (the query lookup tables are "
            "built from the codebooks)"
        )
    if codebooks is not None:
        _validate_ann_params(codebooks, fp, "PQ codebooks")
        books = _load_pq_codebooks(codebooks)
    else:
        books = _train_pq(
            candidates, m, ks, train_sample, kmeans_iters, seed,
            cand_id, cand_vec,
        )

    if codes is not None:
        _validate_ann_params(codes, fp, "PQ codes")
        codes_df = codes.select(
            F.col(cand_id), F.col("code").alias("__code")
        )
    else:
        codes_df = _pq_encode(candidates, books, cand_id, cand_vec)

    return _pq_scan(
        queries, codes_df, books, None, None, k, query_id, query_vec, cand_id
    )


def ivfpq_fingerprint(
    n_cells: int, m: int, ks: int, train_sample: int,
    kmeans_iters: int, kmeans_sample: int, seed: int,
) -> str:
    """Canonical fingerprint of IVF-PQ training parameters (coarse
    quantizer + residual codebooks train together — one stamp)."""
    return (
        f"ivfpq/n_cells={n_cells}/m={m}/ks={ks}"
        f"/train_sample={train_sample}/kmeans_iters={kmeans_iters}"
        f"/kmeans_sample={kmeans_sample}/seed={seed}"
    )


def _train_ivfpq(
    candidates: DataFrame,
    n_cells: int,
    m: int,
    ks: int,
    train_sample: int,
    kmeans_iters: int,
    kmeans_sample: int,
    seed: int,
    cand_id: str,
    cand_vec: str,
):
    """Driver-side IVF-PQ training on deterministic bounded samples
    (lowest ids, like both parents): spherical-Lloyd coarse centroids
    (:func:`_train_ivf`), then per-subspace Lloyd on the sample's
    RESIDUALS to its coarse assignment (:func:`_lloyd_books`). Returns
    (cents (n_cells, dim), books: m arrays of (ks, dim/m))."""
    import numpy as np

    cents = _train_ivf(
        candidates, n_cells, kmeans_iters, kmeans_sample, seed,
        cand_id, cand_vec,
    )
    train_rows = (
        candidates.filter(_finite_vec(cand_vec))
        .select(cand_id, cand_vec)
        .orderBy(cand_id)
        .limit(train_sample)
        .collect()
    )
    X = _unit_rows(np.array([r[1] for r in train_rows], dtype=np.float64))
    R = X - cents[(X @ cents.T).argmax(axis=1)]
    books = _lloyd_books(R, m, ks, kmeans_iters, seed)
    return cents, books


def _ivfpq_encode(
    candidates: DataFrame, cents, books, cand_id: str, cand_vec: str
) -> DataFrame:
    """Arrow-batched IVF-PQ corpus encode → (id, __cell, __code):
    unit-normalize, coarse-assign, residualize, per-subspace code.
    Non-finite vectors are DROPPED (same rationale as
    :func:`_pq_encode`: a corrupt vector would get an arbitrary but
    finite code and pollute every probe)."""
    import numpy as np
    import pandas as pd

    spark = candidates.sparkSession
    m = len(books)
    sub = books[0].shape[1]
    b_model = safe_broadcast(spark, (cents, books))

    def _encode(batches):
        C, B = b_model.value
        for pdf in batches:
            M = np.array(list(pdf[cand_vec]), dtype=np.float64)
            keep = np.isfinite(M).all(axis=1)
            if not keep.all():
                M = M[keep]
                pdf = pdf[keep]
            if not len(M):
                continue
            M = _unit_rows(M)
            cells = (M @ C.T).argmax(axis=1)
            Res = M - C[cells]
            codes = np.empty((len(M), m), dtype=np.int32)
            for j, Bj in enumerate(B):
                Rj = Res[:, j * sub:(j + 1) * sub]
                d2 = (
                    (Rj ** 2).sum(axis=1, keepdims=True)
                    - 2.0 * Rj @ Bj.T
                    + (Bj ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({
                cand_id: pdf[cand_id].to_numpy(),
                "__cell": cells.astype(np.int32),
                "__code": list(codes),
            })

    # id-type-generic: mirror the candidate id field's DDL rather than
    # hardcoding long (string vector ids must survive the round trip —
    # same contract as _ivf_assign, r5 advice / r12 verdict #2)
    id_ddl = candidates.schema[cand_id].dataType.simpleString()
    return candidates.select(cand_id, cand_vec).mapInPandas(
        _encode, f"{cand_id} {id_ddl}, __cell int, __code array<int>"
    )


def ivfpq_centroids_table(
    candidates: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    kmeans_sample: int = 2048,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The persistable IVF-PQ index, part 1: returns (centroids_table,
    codebooks_table) — the coarse (cell, centroid) rows and the
    residual (subspace, code, centroid) rows, BOTH stamped with the
    joint :func:`ivfpq_fingerprint` (coarse quantizer and residual
    codebooks train together; a mixed-provenance pair must fail probe
    validation). Train ONCE, write both as parquet, probe many times
    (:func:`ivfpq_topk` ``centroids=``/``codebooks=``)."""
    cents, books = _train_ivfpq(
        candidates, n_cells, m, ks, train_sample, kmeans_iters,
        kmeans_sample, seed, cand_id, cand_vec,
    )
    spark = candidates.sparkSession
    fp = ivfpq_fingerprint(
        n_cells, m, ks, train_sample, kmeans_iters, kmeans_sample, seed
    )
    cents_tbl = spark.createDataFrame(
        [(int(c), [float(x) for x in cents[c]]) for c in range(len(cents))],
        "cell int, centroid array<double>",
    ).withColumn(ANN_PARAMS_COL, F.lit(fp))
    books_tbl = spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j][c]])
            for j in range(len(books))
            for c in range(len(books[j]))
        ],
        "subspace int, code int, centroid array<double>",
    ).withColumn(ANN_PARAMS_COL, F.lit(fp))
    return cents_tbl, books_tbl


def ivfpq_encode_table(
    candidates: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    kmeans_sample: int = 2048,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> DataFrame:
    """The persistable IVF-PQ index, part 2: the encoded corpus —
    (vec_id, cell, code, __ann_params) at m bytes of code + a cell id
    per vector. An ingest pipeline appends each accepted batch\'s rows
    so :func:`ivfpq_topk` (``codes=``) scans straight off parquet with
    no per-call encode of the corpus.

    Layout at scale: write this table ``repartition("cell")`` +
    ``partitionBy("cell")`` (or at
    least ``sortWithinPartitions("cell")``) — :func:`ivfpq_topk`
    filters the scan to the union of probed cells, and the filter
    only saves BYTES when the layout lets Catalyst turn it into
    partition pruning (or parquet row-group skipping via the min/max
    stats a cell-sorted file carries). On an unsorted layout the
    filter still bounds rows entering the Python workers, but every
    parquet page is read. The repartition matters: partitionBy from
    an unclustered frame emits tasks × cells tiny files whose
    overhead can eat the pruning win (measured on the clustered-IVF
    twin, NOTES r13 "Clustered probe measurement")."""
    fp = ivfpq_fingerprint(
        n_cells, m, ks, train_sample, kmeans_iters, kmeans_sample, seed
    )
    _validate_ann_params(centroids, fp, "IVF-PQ centroids")
    _validate_ann_params(codebooks, fp, "IVF-PQ codebooks")
    cents = _load_ivf_centroids(centroids)
    books = _load_pq_codebooks(codebooks)
    codes = _ivfpq_encode(candidates, cents, books, cand_id, cand_vec)
    return codes.select(
        F.col(cand_id),
        F.col("__cell").alias("cell"),
        F.col("__code").alias("code"),
    ).withColumn(ANN_PARAMS_COL, F.lit(fp))


def _probed_cells_frame(
    queries: DataFrame, cents, n_probe: int, query_vec: str
) -> DataFrame:
    """Distinct union of all queries' probed cells as a DataFrame —
    ≤ n_cells rows no matter how many queries, computed executor-side
    (Arrow-batched matmul against the broadcast centroids, per-batch
    dedup, then a tiny distinct). The broadcast-semi-join replacement
    for the collect path's O(nq·n_probe) ``isin`` literal."""
    import numpy as np
    import pandas as pd

    b = safe_broadcast(queries.sparkSession, cents)

    def _cells(batches):
        C = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _unit_rows(np.array(list(pdf[query_vec]), dtype=np.float64))
            sims = Q @ C.T
            t = min(n_probe, sims.shape[1])
            order = np.argsort(-sims, axis=1)[:, :t]
            yield pd.DataFrame(
                {"__cell": np.unique(order).astype("int32")}
            )

    return (
        queries.select(query_vec)
        .mapInPandas(_cells, "__cell int")
        .distinct()
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 5,
    kmeans_sample: int = 2048,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — PQ over RESIDUALS to the IVF coarse
    quantizer, the composition real ANN systems (FAISS ``IVFPQ``) run
    at scale. On clustered corpora, whole-vector PQ codes land on
    cluster centers, so the codebook budget is spent re-expressing
    what the coarse structure already says; encoding the residual
    ``v − centroid(cell_v)`` spends it on the within-cluster geometry
    where the true top-k lives. Measured on a 20k 32-center mixture
    (``tools/op_replica.py`` ann_shortlist_clustered, r12):
    shortlist-100 containment of the exact top-10 is 0.865 IVF-PQ
    (8/32 probing) vs 0.805 whole-vector PQ at m=8/ks=256 — and the
    advantage needs the coarse quantizer to RESOLVE the clusters: at
    16 cells over 32 clusters, cells merge cluster pairs, residuals
    go bimodal, and containment falls back to whole-vector PQ\'s
    level. Honest limit, measured not assumed: when clusters are
    near-duplicate-tight (within-cluster cosine spread ~1e-4, below
    any m-byte code\'s resolution), EVERY PQ variant\'s direct ranking
    collapses to tie-noise — that regime belongs to :func:`ivf_topk`,
    which re-ranks exact cosines inside probed cells. Like
    :func:`pq_topk`, this tier\'s production shape is shortlist (k ≈
    50–100) → exact re-rank downstream.

    Asymmetric similarity decomposes without per-cell lookup tables:
    ``sim(q, v) ≈ ⟨q, c(cell_v)⟩ + Σ_j ⟨q_j, book_j[code_vj]⟩`` — a
    per-(query, cell) constant (an nq × n_cells matmul, driver-side)
    plus the SAME per-subspace LUT sum as :func:`pq_topk`. The code
    scan is PRUNED to the union of all queries\' probed cells by a
    plain Catalyst filter (``__cell IN (...)``, ≤ nq·n_probe ids)
    BEFORE the mapInPandas pass, and each query\'s ranking is
    additionally masked to its OWN ``n_probe`` cells batch-side — so
    the scan does IVF\'s candidate bounding AND PQ\'s byte bounding in
    I/O, not just in results: at 100 TB, ~n_probe/n_cells of the
    corpus is read (exactly that fraction when the persisted codes
    are laid out by cell — see :func:`ivfpq_encode_table`), at m
    bytes per vector, with only each code batch\'s per-query top-k
    leaving for the final rank.

    ``centroids`` / ``codebooks`` / ``codes`` (optional): persisted
    :func:`ivfpq_centroids_table` / :func:`ivfpq_encode_table`
    artifacts — with all three, the probe runs NO training and NO
    corpus-encode jobs (bounded centroid/codebook reads and the code
    scan only); stamped parameters are validated against this call\'s,
    and the coarse/residual pair must carry the SAME joint stamp.

    The query count picks the scan shape, as in :func:`pq_topk`, with
    the same per-batch memory bound (at most 1,024 queries scored
    against one code batch at a time). While the lookup tables fit in
    64 MiB, queries collect driver-side and the probed-cell union
    prunes the code scan as an ``isin`` literal. Past that, queries
    stay a DataFrame: the probed-cell union becomes a broadcast
    LEFT-SEMI join on a ≤ n_cells-row cells frame
    (:func:`_probed_cells_frame`) — still a Catalyst filter pushable
    into a cell-partitioned ``codes=`` layout — and the scan runs as
    the cogrouped block rectangle with per-task coarse terms and probe
    masks."""
    fp = ivfpq_fingerprint(
        n_cells, m, ks, train_sample, kmeans_iters, kmeans_sample, seed
    )
    if (centroids is None) != (codebooks is None):
        raise ValueError(
            "centroids= and codebooks= must be passed together (they "
            "train jointly and carry one stamp)"
        )
    if codes is not None and centroids is None:
        raise ValueError(
            "codes= requires centroids=/codebooks= (the query-side "
            "probe is built from the same model)"
        )
    if centroids is not None:
        _validate_ann_params(centroids, fp, "IVF-PQ centroids")
        _validate_ann_params(codebooks, fp, "IVF-PQ codebooks")
        cents = _load_ivf_centroids(centroids)
        books = _load_pq_codebooks(codebooks)
    else:
        cents, books = _train_ivfpq(
            candidates, n_cells, m, ks, train_sample, kmeans_iters,
            kmeans_sample, seed, cand_id, cand_vec,
        )

    if codes is not None:
        _validate_ann_params(codes, fp, "IVF-PQ codes")
        codes_df = codes.select(
            F.col(cand_id),
            F.col("cell").alias("__cell"),
            F.col("code").alias("__code"),
        )
    else:
        codes_df = _ivfpq_encode(candidates, cents, books, cand_id, cand_vec)

    return _pq_scan(
        queries, codes_df, books, cents, n_probe, k,
        query_id, query_vec, cand_id,
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    kmeans_sample: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    centroids: DataFrame | None = None,
    return_decisions: bool = False,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then inside
    each cluster greedily drop every vector whose cosine similarity to
    an already-kept cluster member is ≥ ``threshold``. Unlike
    :func:`cosine_neardup_pairs` (exact, all-pairs) this only compares
    WITHIN clusters — the published trade-off: a near-dup pair split
    across cluster boundaries survives, in exchange for O(Σ c_i²)
    instead of O(N²) comparisons.

    ``keep`` orders the greedy scan (ties broken by id ascending):

    - ``"min_id"`` (default) — deterministic, id order;
    - ``"far_from_centroid"`` — the paper's choice: prefer the LEAST
      prototypical member (lowest cosine to its centroid), which keeps
      diversity inside the cluster.

    Scale shape: centroid training is a bounded driver-side sample
    (``_train_ivf``); assignment is one Arrow-batched matmul pass; the
    per-cluster greedy runs as one ``applyInPandas`` task per cell —
    per-task memory is O(c·d + c²) for cell size c, so size ``n_cells``
    to the target cell size (N / n_cells ≈ a few thousand — the paper
    likewise scales cluster count with corpus size). No full-corpus
    collect, no cross-cell shuffle beyond the single cell-hash exchange.

    ``centroids`` (optional): a persisted :func:`ivf_centroids_table`
    — same build-once/probe-many contract and parameter-stamp
    validation as :func:`ivf_topk`, so an ingest loop dedups each batch
    against stable cluster geometry.

    Returns the surviving rows of ``df`` (all columns); with
    ``return_decisions`` instead returns one row per input id:
    (id, cell, centroid_sim, kept).
    """
    import numpy as np
    import pandas as pd

    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"keep must be min_id|far_from_centroid, got {keep!r}")
    fp = ivf_fingerprint(n_cells, kmeans_iters, kmeans_sample, seed)
    if centroids is not None:
        _validate_ann_params(centroids, fp, "IVF centroids")
        cents = _load_ivf_centroids(centroids)
    else:
        cents = _train_ivf(
            df, n_cells, kmeans_iters, kmeans_sample, seed, id_col, vec_col
        )
    b_cents = safe_broadcast(df.sparkSession, cents)

    assigned = _ivf_assign(df, cents, id_col, vec_col).join(
        df.select(id_col, vec_col), id_col
    )
    by_centroid = keep == "far_from_centroid"
    # id-type-generic output schema: mirror df's id field (long, string, …)
    # instead of hardcoding long — same contract as minhash_dedup's keep_by.
    id_ddl = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_ddl}, cell int, centroid_sim double, kept boolean"

    def _greedy(key, pdf):
        C = b_cents.value
        M = np.array(list(pdf[vec_col]), dtype=np.float64)
        # Non-finite guard (r9 ADVICE): a corrupt (NaN/Inf) embedding's
        # normalized row is all-NaN, NaN similarities propagate through
        # np.max, and `NaN < threshold` is False — an unguarded greedy
        # would silently drop every OTHER vector in the cell whenever
        # the corrupt one is scanned first. Mirror the Spark-side IVF
        # guard: non-finite rows match nothing — they are kept verbatim
        # and never serve as comparison targets.
        finite = np.isfinite(M).all(axis=1)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[~np.isfinite(norms)] = 1.0
        norms[norms == 0.0] = 1.0
        M = M / norms
        ids = pdf[id_col].to_numpy()
        cell = int(key[0])
        csim = M @ C[cell]
        # scan order: the greedy keeps the FIRST member of each dup group.
        # Stable two-pass sort (secondary key first) rather than np.lexsort,
        # which rejects object-dtype (string) id arrays.
        order = np.argsort(ids, kind="stable")
        if by_centroid:
            order = order[np.argsort(csim[order], kind="stable")]
        S = M @ M.T
        kept_pos: list[int] = []  # finite kept rows — comparison targets
        kept_flags = np.zeros(len(ids), dtype=bool)
        for i in order:
            if not finite[i]:
                kept_flags[i] = True  # matches nothing, drops nothing
                continue
            if not kept_pos or S[i, kept_pos].max() < threshold:
                kept_pos.append(i)
                kept_flags[i] = True
        return pd.DataFrame({
            id_col: ids,
            "cell": np.full(len(ids), cell, dtype=np.int32),
            "centroid_sim": np.round(csim, 6),
            "kept": kept_flags,
        })

    decisions = assigned.groupBy("__cell").applyInPandas(_greedy, out_schema)
    if return_decisions:
        return decisions
    survivors = decisions.filter(F.col("kept")).select(id_col)
    return df.join(survivors, id_col, "left_semi")
