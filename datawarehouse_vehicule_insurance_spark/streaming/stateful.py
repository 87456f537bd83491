"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the escape hatch for stream semantics the built-in windows can't express
(the built-ins cover the reference-parity scope; this is the additive
"custom stateful operator" surface, SURVEY.md §7.2 step 6).

Example operator: per-user running profile (event count, value total,
last-seen timestamp) emitted on every update, with idle-timeout state
eviction — the streaming analogue of the gold ``fact_client_summary``
row, maintained incrementally instead of recomputed per batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..worker import prune_zip_importers

OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, last_seen timestamp"
)
STATE_SCHEMA = "n_events long, total_value double, last_seen timestamp"


def _update_user_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State update function: fold each micro-batch's events for one user
    into (n_events, total_value, last_seen); emit the refreshed row."""
    prune_zip_importers()
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total, last = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        batch_max = pdf["ts"].max()
        last = batch_max if last is None else max(last, batch_max)
    state.update((n, round(total, 2), last))
    try:
        state.setTimeoutDuration(60 * 60 * 1000)  # evict after 1h idle
    except Exception:
        pass  # timeout not configured (evict_idle=False)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_seen": [last],
        }
    )


def running_user_profile(
    events: DataFrame, evict_idle: bool = False
) -> DataFrame:
    """Incrementally-maintained per-user profile over an event stream.
    State is partitioned by user_id (Spark's state store shards it with
    the shuffle) and Arrow-batched per group.

    ``evict_idle=True`` enables processing-time timeout eviction for
    unbounded key spaces (the 100-TB concern: state must not grow
    forever). Off by default: with a timeout configured Spark schedules
    extra empty micro-batches to fire expirations, which a finite
    replay-to-verify harness doesn't want."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_idle
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary stateful processing v2)
# ---------------------------------------------------------------------------

CONTEXT_OUTPUT_SCHEMA = (
    "user_id long, total_seen long, n_ctx long, ctx_types string, "
    "last_ts_us long"
)


def rolling_context_window(events: DataFrame, n: int = 5) -> DataFrame:
    """Per-user rolling context window (last ``n`` events) maintained
    with the Spark 4 ``transformWithStateInPandas`` API — the v2
    arbitrary-stateful surface (typed composable state variables,
    RocksDB-backed) next to the v1 ``applyInPandasWithState`` operator
    above.

    The feature-store pattern: state is a ListState of the user's most
    recent (ts, event_id, event_type) triples plus a ValueState lifetime
    counter; each micro-batch folds its rows in, trims to the window,
    and emits one summary row (total_seen is monotonic, so downstream
    picks a user's latest emission by max total_seen). State size is
    bounded by construction — ``n`` triples per user — which is the
    100-TB requirement for an unbounded key space; ordering ties are
    broken by event_id so replays are deterministic.

    Requires the RocksDB state-store provider (Spark bundles it):
    ``spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider`` — and ``google.protobuf`` in
    the Python env (the TWS state protocol is protobuf-framed; standard
    Spark distros ship it, this container does not, so the equality
    test skips here and the v1 operator above stays the locally-verified
    stateful surface).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _ContextWindow(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ctx = handle.getListState(
                "ctx", "ts_us long, event_id long, event_type string"
            )
            self._seen = handle.getValueState("seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            cur = [tuple(r) for r in self._ctx.get()]
            seen = self._seen.get()[0] if self._seen.exists() else 0
            for pdf in rows:
                seen += len(pdf)
                ts_us = (
                    pdf["ts"].to_numpy().astype("datetime64[us]")
                    .astype("int64").tolist()
                )
                cur.extend(
                    zip(ts_us, pdf["event_id"].tolist(),
                        pdf["event_type"].tolist())
                )
            cur.sort(key=lambda t: (t[0], t[1]))
            cur = cur[-n:]
            self._ctx.put(cur)
            self._seen.update((seen,))
            yield pd.DataFrame({
                "user_id": [user_id],
                "total_seen": [seen],
                "n_ctx": [len(cur)],
                "ctx_types": ["|".join(t[2] for t in cur)],
                "last_ts_us": [cur[-1][0] if cur else None],
            })

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _ContextWindow(),
        outputStructType=CONTEXT_OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
