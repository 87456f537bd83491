"""Spark Connect compatibility shims (r11 verdict #4,
``compat.py``) — unit-level fallback behavior plus an equivalence pin
that an operator computing through the degraded ClosureBroadcast path
produces byte-identical results to the classic torrent-broadcast path.
Mirrors ``test_ensure_parallelism_is_plan_aware``'s philosophy: pin the
degradation from both sides (fallback engages; semantics unchanged)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datawarehouse_vehicule_insurance_spark import compat
from datawarehouse_vehicule_insurance_spark.compat import (
    ClosureBroadcast,
    persistent_rdd_ids,
    safe_broadcast,
    safe_set_log_level,
)


class _NoContextSession:
    """A session facade whose classic bridge is unreachable — what the
    Connect client looks like to these helpers (attribute access on
    ``sparkContext`` raises)."""

    @property
    def sparkContext(self):
        raise AttributeError("sparkContext is not supported in Connect")


class _BrokenBroadcastSession:
    """A session with a WORKING classic bridge whose broadcast call
    itself fails (pickle error, broadcast OOM) — this must propagate,
    not silently degrade into closure capture (r12 advice)."""

    class _Ctx:
        def broadcast(self, obj):  # noqa: ARG002
            raise RuntimeError("broadcast OOM")

    sparkContext = _Ctx()


def test_safe_broadcast_classic_and_fallback(spark):
    real = safe_broadcast(spark, {"a": 1})
    assert real.value == {"a": 1}
    assert not isinstance(real, ClosureBroadcast)
    real.unpersist()

    boxed = safe_broadcast(_NoContextSession(), {"a": 1})
    assert isinstance(boxed, ClosureBroadcast)
    assert boxed.value == {"a": 1}
    boxed.unpersist()  # full Broadcast API surface, all no-ops
    boxed.destroy()


def test_safe_broadcast_propagates_classic_broadcast_failures():
    # only an UNREACHABLE context degrades; a genuine broadcast fault
    # on a reachable context stays loud
    with pytest.raises(RuntimeError, match="broadcast OOM"):
        safe_broadcast(_BrokenBroadcastSession(), {"a": 1})


def test_safe_broadcast_unpicklable_raises_on_real_session(spark):
    """r13 verdict #7: the loud-failure branch on a REAL classic
    session — an artifact that cannot pickle must raise at broadcast
    time (classic broadcast serializes eagerly), never degrade into
    closure capture where the same pickle failure would move to every
    task serialization instead."""

    class _UnpicklableArtifact:
        def __reduce__(self):
            raise TypeError("cannot pickle this artifact")

    with pytest.raises(Exception, match="cannot pickle this artifact"):
        safe_broadcast(spark, _UnpicklableArtifact())


def test_block_accounting_degrades(spark):
    assert isinstance(persistent_rdd_ids(spark), set)
    assert persistent_rdd_ids(_NoContextSession()) is None

    from datawarehouse_vehicule_insurance_spark.operators.plancut import (
        release_cuts,
    )

    # classic path still live: a checkpoint created after the baseline
    # is found, and releasing its frame frees it
    base = persistent_rdd_ids(spark)
    cut = spark.range(10).localCheckpoint()
    assert cut.count() == 10
    assert persistent_rdd_ids(spark) - base
    release_cuts([cut])
    assert persistent_rdd_ids(spark) - base == set()


def test_safe_set_log_level_degrades(spark):
    safe_set_log_level(spark, "WARN")  # classic: no error
    safe_set_log_level(_NoContextSession(), "WARN")  # Connect: no-op


def test_closure_broadcast_operator_equivalence(spark, monkeypatch):
    """The degraded path is not just non-crashing — it computes the
    SAME answer: IVF assignment over the closure-captured centroids
    equals the classic broadcast run row-for-row."""
    from datawarehouse_vehicule_insurance_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = rng.normal(size=(4, 8))

    classic = sorted(
        S._ivf_assign(df, cents, "vec_id", "embedding")
        .select("vec_id", "__cell")
        .collect()
    )

    monkeypatch.setattr(
        S, "safe_broadcast", lambda _spark, obj: ClosureBroadcast(obj)
    )
    degraded = sorted(
        S._ivf_assign(df, cents, "vec_id", "embedding")
        .select("vec_id", "__cell")
        .collect()
    )
    assert degraded == classic


def test_ingest_loops_fail_fast_under_connect(tmp_path):
    """r12 verdict #7: the foreachBatch ingest loops are classic-only —
    on a Connect-like session (block accounting unreachable) they must
    raise a clear error at loop START, not degrade mid-run into silent
    no-release behavior."""
    from datawarehouse_vehicule_insurance_spark.streaming.curation import (
        run_incremental_curation,
        run_incremental_embedding_ingest,
    )

    sess = _NoContextSession()
    with pytest.raises(RuntimeError, match="classic.*driver"):
        run_incremental_curation(
            sess, str(tmp_path / "src"), str(tmp_path / "corpus"),
            str(tmp_path / "index"), str(tmp_path / "hash"),
            str(tmp_path / "ckpt"),
        )
    with pytest.raises(RuntimeError, match="classic.*driver"):
        run_incremental_embedding_ingest(
            sess, str(tmp_path / "src"), str(tmp_path / "corpus"),
            str(tmp_path / "cents"), str(tmp_path / "assign"),
            str(tmp_path / "ckpt"),
        )


def test_explain_shuffles_is_documented_classic_only():
    from datawarehouse_vehicule_insurance_spark.operators.scale import (
        explain_shuffles,
    )

    assert "classic" in explain_shuffles.__doc__.lower()
    with pytest.raises(Exception):
        explain_shuffles(_NoContextSession())  # no silent zeros
