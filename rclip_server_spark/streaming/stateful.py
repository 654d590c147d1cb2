"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §F: 'applyInPandasWithState for custom stateful operators').

The built-in windows/dedup cover the declarative cases; this module holds
the escape hatch for state machines Spark has no primitive for: a
streaming as-of join that keeps each user's recent views as state.

Contract: in batch mode the same rows come from the shuffle+window
``operators.joins.asof_join`` — the tests drive the stream to completion
and compare. At 100 TB the state store shards by the group key across
executors, exactly like any keyed agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ASOF_OUTPUT_SCHEMA = (
    "click_id bigint, user_id bigint, click_us bigint, "
    "view_id bigint, view_us bigint, gap_us bigint"
)
# state = parallel arrays of retained views (ts micros asc, ids aligned)
ASOF_STATE_SCHEMA = "view_us array<bigint>, view_id array<bigint>"


def streaming_asof_last_view(events: DataFrame,
                             horizon_us: int = 3_600_000_000) -> DataFrame:
    """Streaming as-of join: each click is attributed to the same user's
    most recent view with ``view_ts <= click_ts`` (the stateful twin of
    operators.joins.asof_join / the ev_asof_click_view contract row).

    Spark has no streaming as-of primitive — stream-stream joins support
    interval bounds but not "latest match" — so this is the escape-hatch
    shape: key by user, applyInPandasWithState keeps the user's recent
    views (pruned to ``horizon_us`` behind that user's max event time, the
    state-expiry contract a watermark would give), and each micro-batch
    merges state views with batch views, binary-searches the insertion
    point per click, and emits attributions immediately. Clicks that
    arrive AFTER a later view but BEFORE their true match (cross-batch
    event-time disorder beyond the horizon) attribute at-arrival — the
    same semantics any online attribution system has.

    Batch mode: same answer from the shuffle+window asof_join (one
    definition, two runtimes — the batch run is the oracle)."""
    if not events.isStreaming:
        from ..operators.joins import asof_join

        base = events.where(F.col("event_type").isin("click", "view"))
        clicks = base.where(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        )
        views = base.where(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), "ts"
        )
        # equal-ts views dedupe to max(event_id) inside the asof window
        # (latest_by) — the same tie-break the streaming path applies, so
        # both runtimes pick the same view_id, without the pre-agg's
        # second exchange of the view rows (r14 opt)
        out = asof_join(clicks, views, on="user_id", ts="ts",
                        latest_by="view_id")
        return out.select(
            "click_id",
            "user_id",
            F.unix_micros("ts").alias("click_us"),
            F.col("r_view_id").alias("view_id"),
            F.col("r_ts_us").alias("view_us"),
            "gap_us",
        )

    prepped = events.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    hz = int(horizon_us)

    def _attribute(key, pdfs, state: GroupState):
        # closure-self-contained (executor workers cannot import this repo)
        import numpy as np
        import pandas as _pd

        st_us, st_id = state.get if state.exists else ([], [])
        # accumulate the WHOLE group first: Arrow may deliver one group as
        # several chunks within a micro-batch, and processing chunk-by-chunk
        # would hide a later chunk's views from an earlier chunk's clicks
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((list(st_us), list(st_id)))
            return
        pdf = _pd.concat(chunks, ignore_index=True).sort_values(
            "ts_us", kind="mergesort"
        )
        is_view = (pdf["event_type"] == "view").to_numpy()
        b_us = pdf["ts_us"].to_numpy()
        b_id = pdf["event_id"].to_numpy()
        # merge retained views with this batch's views (both ts-sorted)
        v_us = np.concatenate([np.asarray(st_us, dtype=np.int64),
                               b_us[is_view]])
        v_id = np.concatenate([np.asarray(st_id, dtype=np.int64),
                               b_id[is_view]])
        # dedupe equal-ts views keeping max view_id (matches the batch
        # twin's max(event_id)-per-(user, ts) semantics regardless of
        # arrival order): sort by (ts, id), keep the last entry per ts
        order = np.lexsort((v_id, v_us))
        v_us, v_id = v_us[order], v_id[order]
        if len(v_us) > 1:
            keep = np.ones(len(v_us), dtype=bool)
            keep[:-1] = v_us[1:] != v_us[:-1]
            v_us, v_id = v_us[keep], v_id[keep]
        clicks_us = b_us[~is_view]
        clicks_id = b_id[~is_view]
        # per click: latest view with view_us <= click_us
        pos = np.searchsorted(v_us, clicks_us, side="right") - 1
        ok = pos >= 0
        out = _pd.DataFrame({
            "click_id": clicks_id,
            "user_id": key[0],
            "click_us": clicks_us,
            "view_id": _pd.array(
                [int(v_id[p]) if o else None for p, o in zip(pos, ok)],
                dtype="Int64"),
            "view_us": _pd.array(
                [int(v_us[p]) if o else None for p, o in zip(pos, ok)],
                dtype="Int64"),
            "gap_us": _pd.array(
                [int(c - v_us[p]) if o else None
                 for c, p, o in zip(clicks_us, pos, ok)],
                dtype="Int64"),
        })
        # prune state to the horizon behind this user's max event time
        if len(v_us):
            hi = int(max(b_us.max() if len(b_us) else v_us[-1], v_us[-1]))
            keep = v_us >= hi - hz
            st_us = [int(x) for x in v_us[keep]]
            st_id = [int(x) for x in v_id[keep]]
        state.update((list(st_us), list(st_id)))
        yield out

    return prepped.groupBy("user_id").applyInPandasWithState(
        _attribute,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
