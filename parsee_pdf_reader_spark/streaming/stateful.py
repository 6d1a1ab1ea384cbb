"""Custom stateful streaming operator: per-user session tracking with
``applyInPandasWithState``.

The batch engine's gap-sessionization (G1/T4 skeleton) as a streaming
operator: state carries (open-session start, last-seen ts, event count)
per user; a session closes when the user's next event comes more than
the gap later. Emits one row per CLOSED session — the standard shape
for incremental training-data telemetry.
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd

from pyspark.sql.streaming.state import (
    GroupState,
    GroupStateTimeout,
)

from parsee_pdf_reader_spark.streaming.incremental import EVENTS_DDL, _drain

SESSION_GAP_SEC = 1800

OUTPUT_SCHEMA = ("user_id long, session_start timestamp, "
                 "session_end timestamp, n_events long")
STATE_SCHEMA = "start long, last long, cnt long"


def _track_sessions(key: Tuple[Any], batches: Iterable[pd.DataFrame],
                    state: GroupState):
    """Grouped-map-with-state function (one call per user per batch)."""
    user_id = key[0]
    closed = []
    ts_list = []
    for pdf in batches:
        ts_list.extend(
            int(t.value // 10**9) for t in pd.to_datetime(pdf["ts"]))
    ts_list.sort()
    if state.exists:
        start, last, cnt = state.get
    else:
        start = last = cnt = None
    for t in ts_list:
        if start is None:
            start, last, cnt = t, t, 1
        elif t - last > SESSION_GAP_SEC:
            closed.append((user_id, start, last, cnt))
            start, last, cnt = t, t, 1
        else:
            last = t
            cnt += 1
    if start is not None:
        state.update((start, last, cnt))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="s")
                                  for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="s")
                                for c in closed],
                "n_events": [c[3] for c in closed],
            }
        )


def stream_user_sessions(events_stream):
    """events stream -> closed-session stream.

    A user's open session stays in state until a later event closes
    it. There is no state timeout: under an ``availableNow`` drain a
    processing-time timeout keeps the query waiting for a timeout
    batch that never comes, so the drain would not stop."""
    return (
        events_stream
        .groupBy("user_id")
        .applyInPandasWithState(
            _track_sessions,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_user_sessions(spark, input_dir: str, output_dir: str,
                             checkpoint_dir: str):
    src = (
        spark.readStream
        .schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    out = stream_user_sessions(src)
    return _drain(out, output_dir, checkpoint_dir)
