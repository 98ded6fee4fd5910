"""Streaming alert escalation: the running-count-in-state variant of
``AlertSystem._apply_escalation`` (``/root/reference/src/
anomaly_detection_toolkit/predictive_maintenance.py:577-596``).

The reference keeps ``self.alert_counts[key]`` alive for the lifetime
of the AlertSystem object and, per ``check_thresholds`` call,
increments it for every alert then escalates each alert against the
END-of-call count (``:560-561`` increments inside the loop,
``:577-596`` reads the final dict). Here that long-lived dict is
Spark state:

- the stateless stage (unpivot → level → message) is
  ``operators.alerts.alert_rows`` — no window/agg, so it runs
  unchanged on a streaming DataFrame;
- the per-(asset, feature) running count lives in
  ``applyInPandasWithState`` state, surviving micro-batches and (on a
  cluster) executor loss — the property the reference's in-process
  dict lacks;
- every alert in a micro-batch is escalated against the
  end-of-batch cumulative count, exactly the reference's semantics
  (so a single-batch stream reproduces the batch
  ``check_thresholds`` output bit-for-bit);
- optional TTL evicts idle keys so the state store stays bounded
  under asset churn — processing-time by default, EVENT-time opt-in
  (``ttl_eviction=True``, the ``sliding_buffer_scores`` pattern) so
  a dead asset's alert count expires deterministically in replays.

Scale: state is one int64 per (asset, feature) ever alerted — tiny —
and the only shuffle is the groupBy on the (sparse) alert rows.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.alerts import _ESCALATE_NEXT, alert_rows

OUTPUT_SCHEMA = (
    "asset_id string, feature string, value double, raw_level string, "
    "level string, threshold double, key_count long, message string"
)
STATE_SCHEMA = "count long"
# event-time mode also persists the key's newest alert time so the
# eviction timeout stays monotonic across out-of-order batches
STATE_SCHEMA_EVENT = "count long, max_ts double"


def _escalate_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    escalation: dict[str, dict[str, int]],
    ttl_ms: int | None,
    event_time: bool,
) -> Iterator[pd.DataFrame]:
    asset_id, feature = key
    if state.hasTimedOut:
        state.remove()  # idle key: running count evicted
        yield pd.DataFrame(
            {c.split()[0]: [] for c in OUTPUT_SCHEMA.split(", ")}
        )
        return
    if event_time:
        (count, max_ts) = state.get if state.exists else (0, float("-inf"))
    else:
        (count,) = state.get if state.exists else (0,)
    rows = pd.concat(list(pdfs), ignore_index=True)
    count += len(rows)  # all increments land before any escalation
    if event_time:
        # _event_time arrives as datetime64[ns]; keep seconds like
        # sliding_buffer's max_ts. An all-NaT batch has no max; NaT's
        # .value is INT64_MIN, which would become the max_ts of a key
        # that has not yet seen an event time.
        batch_max = rows["_event_time"].max()
        if not pd.isna(batch_max):
            max_ts = max(max_ts, batch_max.value / 1e9)
        state.update((count, max_ts))
        # evict once the GLOBAL watermark passes (newest alert + TTL);
        # clamped above the current watermark — Spark rejects
        # timeouts at/behind it. A key that has never seen an event
        # time counts its TTL from the current watermark instead of
        # timing out at the next watermark advance.
        wm_ms = state.getCurrentWatermarkMs()
        newest_ms = int(max_ts * 1000) if max_ts > float("-inf") else wm_ms
        state.setTimeoutTimestamp(max(newest_ms + ttl_ms, wm_ms + 1))
    else:
        state.update((count,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    def bump(raw: str) -> str:
        rules = escalation.get(raw)
        if rules and "min_count" in rules and count >= rules["min_count"]:
            return _ESCALATE_NEXT.get(raw, raw)
        return raw

    yield pd.DataFrame(
        {
            "asset_id": asset_id,
            "feature": feature,
            "value": rows["value"].astype(float),
            "raw_level": rows["raw_level"],
            "level": rows["raw_level"].map(bump),
            "threshold": rows["threshold"].astype(float),
            "key_count": count,
            "message": rows["message"],
        }
    )


def streaming_check_thresholds(
    stream_df: DataFrame,
    thresholds: dict[str, dict[str, float]],
    asset_col: str,
    escalation: dict[str, dict[str, int]] | None = None,
    state_ttl: str | None = None,
    ts_col: str | None = None,
    ttl_eviction: bool = False,
) -> DataFrame:
    """Streaming ``AlertSystem.check_thresholds`` with stateful
    escalation. Input: a streaming DataFrame carrying ``asset_col``
    plus the watched feature columns. Output stream: one alert row
    per breach with the escalated ``level`` and the cumulative
    ``key_count`` (reference ``alert_counts``) at end of batch.

    ``state_ttl`` (e.g. ``"1 hour"``): TTL after which an idle
    (asset, feature) key's running count is evicted. By default the
    clock is PROCESSING time (wall clock of the running query).

    ``ttl_eviction=True`` (requires ``state_ttl`` + ``ts_col``)
    switches eviction to EVENT time — the ``sliding_buffer_scores``
    pattern: a watermark on ``ts_col`` (delay = ``state_ttl``) drives
    ``EventTimeTimeout``, so a dead asset's count expires when the
    GLOBAL watermark passes (its newest alert + TTL) — deterministic
    in replay tests, unlike wall-clock TTL. CAVEAT (why opt-in, see
    CLAUDE.md): under EventTimeTimeout Spark also late-filters input
    rows at/behind the global watermark before the state fn, coupling
    assets — a slow-but-in-order asset's alerts are silently
    discarded once faster assets advance the watermark. Wall-clock
    TTL keeps inputs decoupled.
    """
    from anomaly_detection_toolkit_spark.streaming import parse_duration_s

    ttl_ms: int | None = None
    if state_ttl is not None:
        ttl_ms = int(parse_duration_s(state_ttl) * 1000)

    if ttl_eviction:
        if state_ttl is None or ts_col is None:
            raise ValueError(
                "ttl_eviction=True requires state_ttl and ts_col"
            )
        src = stream_df.withColumn(
            "_event_time", F.col(ts_col).cast("timestamp")
        ).withWatermark("_event_time", state_ttl)
        # the event-time column rides through the stateless stage as
        # an entity column so the state fn can read each batch's max
        alerts = alert_rows(
            src, thresholds, asset_col, entity_cols=["_event_time"]
        )
        timeout = GroupStateTimeout.EventTimeTimeout
        state_schema = STATE_SCHEMA_EVENT
    else:
        alerts = alert_rows(stream_df, thresholds, asset_col)
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl is not None
            else GroupStateTimeout.NoTimeout
        )
        state_schema = STATE_SCHEMA

    def fn(key, pdfs, state):
        return _escalate_group(
            key, pdfs, state, escalation or {}, ttl_ms, ttl_eviction
        )

    return alerts.groupBy("asset_id", "feature").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
