"""Spark Connect compatibility shims (r11 verdict #4).

Classic PySpark exposes the JVM through ``df._jdf`` / ``spark
.sparkContext``; Spark Connect's client does not. Rather than failing
ad hoc wherever an operator touches the JVM, every such site in this
package is classified (the full table lives in README "Spark Connect
compatibility"):

- **wrap-and-degrade** — the JVM feature is an optimization or
  housekeeping, and a slower/no-op fallback preserves semantics.
  Those sites route through the helpers here.
- **hard-require classic** — the feature IS the point (plan
  introspection diagnostics like ``scale.explain_shuffles``, the JVM
  block-manager walk in ``plancut.release_cuts``); degrading silently
  would make a diagnostic lie or a test vacuously pass. Those raise
  whatever the Connect client raises, documented per-site.

The helpers never catch specific exception types: the classic/Connect
split shows up as ``PySparkAttributeError``, ``AttributeError``, or a
client-specific error depending on version, and the correct behavior
on ANY introspection failure is the same documented fallback.
"""

from __future__ import annotations

from typing import Any


class ClosureBroadcast:
    """Duck-typed stand-in for ``pyspark.Broadcast`` when no
    ``sparkContext`` is reachable (Spark Connect): the object rides
    INSIDE the serialized UDF closure instead of the torrent
    broadcast. Semantics identical; cost model different — classic
    broadcast ships one copy per executor, closure capture one copy
    per serialized task closure. Fine for the bounded model artifacts
    this package broadcasts (centroids, codebooks, BPE merge ranks —
    all << 100 MB); a future huge artifact should be made a join
    instead."""

    __slots__ = ("value",)

    def __init__(self, value: Any) -> None:
        self.value = value

    # pyspark.Broadcast API surface the operators use
    def unpersist(self, blocking: bool = False) -> None:  # noqa: ARG002
        pass

    def destroy(self, blocking: bool = False) -> None:  # noqa: ARG002
        pass


def safe_broadcast(spark, obj: Any):
    """``spark.sparkContext.broadcast(obj)`` on classic Spark; a
    :class:`ClosureBroadcast` under Connect (or any context failure).
    Call sites use the returned handle's ``.value`` inside UDF
    closures exactly as before — both paths pickle fine.

    Only the CONTEXT probe degrades (r12 advice): a session whose
    ``sparkContext`` is unreachable is Connect, and closure capture is
    the documented fallback. A ``broadcast()`` call that fails on a
    session with a working context (pickle error, broadcast OOM) is a
    genuine fault and propagates — silently re-shipping a
    gigabyte-scale unpicklable-for-broadcast artifact inside every
    task closure would convert a loud failure into quiet task-size
    bloat."""
    try:
        sc = spark.sparkContext
    except Exception:  # noqa: BLE001 — Connect/introspection failure
        return ClosureBroadcast(obj)
    return sc.broadcast(obj)


def safe_set_log_level(spark, level: str) -> None:
    """``sparkContext.setLogLevel`` where available; silently keeps
    the server-side default under Connect (the client has no log-level
    API — tune the server's log4j instead)."""
    try:
        spark.sparkContext.setLogLevel(level)
    except Exception:  # noqa: BLE001
        pass


def persistent_rdd_ids(spark) -> set[int] | None:
    """Ids of the JVM block manager's persistent RDDs, or ``None``
    when the map is unreachable (Connect) — callers treat ``None`` as
    "cannot account for blocks": baseline snapshots come back empty
    and releases free nothing, so checkpoint blocks simply live until
    the session ends (the pre-accounting behavior, never an error)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}
    except Exception:  # noqa: BLE001
        return None
