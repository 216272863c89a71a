"""Streaming event-time LATENESS monitor — the online twin of the
batch ``event_disorder_audit`` query.

``lateness_stream`` is a custom stateful operator
(applyInPandasWithState): per event_type it carries ONE long of state —
the event-time high-water mark (max ts seen so far, in µs) — and emits,
per micro-batch, how many of the batch's rows arrived with event time
BELOW the running high-water mark and how far below (max/total
lateness). This is the live dashboard for the number the batch audit
measures offline: if p95 lateness creeps past the configured
``withWatermark`` delay, the windowed aggregates downstream have
started silently dropping rows — this monitor is what fires first.

Semantics match the batch audit exactly: rows are ordered by a
monotone arrival column (``event_id`` — the groupBy exchange does NOT
preserve arrival order inside a micro-batch, DEVNOTES round-3;
re-sorting in the kernel is mandatory for an order-sensitive
operator), lateness = running max(ts up to and including this row) −
ts, and the high-water mark carries across triggers. A single
availableNow drain over a static file therefore reproduces the batch
audit's (n_events, n_late, max_late) per type — that equivalence is
the parity test; a two-trigger split must produce the same totals as
the one-shot drain (prefix-consistency test).

PRECONDITION for batch equivalence: trigger splits must be
event_id-PREFIX-ALIGNED per type — every event_id in trigger T+1 is
greater than every event_id the type saw through trigger T (true for
any source that delivers in arrival order, e.g. an append-only log
consumed in sequence). If a source replays or reorders ACROSS
triggers — a later trigger carrying event_ids that precede
already-processed ones — the carried high-water mark (legitimately,
from the monitor's arrival-time view) scores those rows as late,
which the offline batch audit, sorting the whole history by
event_id, would not. That is a property of cross-trigger replay, not
a bug: the monitor measures lateness as experienced by the pipeline.

Scale shape: 1 long of state per event_type; the only exchange is the
groupBy(event_type) hash partitioning; output is |types| rows per
trigger regardless of volume.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from svs_spark.session import drop_zip_importers

_STATE_SCHEMA = StructType([StructField("hwm_us", LongType())])

_OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("n_events", LongType()),
    StructField("n_late", LongType()),
    StructField("max_late_us", LongType()),
    StructField("sum_late_us", LongType()),
    StructField("hwm_us", LongType()),
])


def lateness_stream(events: DataFrame) -> DataFrame:
    """Per-type per-trigger lateness stats. Input needs (event_type,
    event_id, us) where ``us`` is event time in integer µs and
    ``event_id`` is the monotone arrival order."""

    def update(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import numpy as np

        (event_type,) = key
        (hwm,) = state.get if state.exists else (None,)
        frames = [p for p in pdfs if len(p)]  # empty frames poison concat
        if not frames:
            yield pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "n_events": pd.Series([], dtype="int64"),
                    "n_late": pd.Series([], dtype="int64"),
                    "max_late_us": pd.Series([], dtype="int64"),
                    "sum_late_us": pd.Series([], dtype="int64"),
                    "hwm_us": pd.Series([], dtype="int64"),
                }
            )
            return
        batch = pd.concat(frames, ignore_index=True).sort_values("event_id")
        us = batch["us"].to_numpy(dtype=np.int64)
        run = np.maximum.accumulate(us)
        if hwm is not None:
            run = np.maximum(run, hwm)
        late = run - us
        new_hwm = int(run[-1])
        state.update((new_hwm,))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_events": [len(us)],
                "n_late": [int((late > 0).sum())],
                "max_late_us": [int(late.max())],
                "sum_late_us": [int(late.sum())],
                "hwm_us": [new_hwm],
            }
        )

    return (
        events.select("event_type", "event_id", "us")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
