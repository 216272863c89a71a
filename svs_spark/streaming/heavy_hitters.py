"""Streaming heavy hitters: Misra-Gries summaries in stream state.

The streaming complement of the batch ``frequent_items`` sketch
(operators/sketch.py): per group (e.g. per event_type), keep at most
``capacity`` counters in ``applyInPandasWithState`` state and emit the
current frequent-item estimates every micro-batch. State is O(capacity)
per key forever — the property that lets a heavy-hitter monitor run
unbounded over a firehose (top tokens, top URLs, hot join keys for
skew detection) where an exact per-item count would grow without limit.

Same MG guarantee as the batch twin, applied to the stream prefix seen
so far: estimates undercount true prefix counts by at most
``n_seen/capacity``, and any item with true frequency above
``2·n_seen/capacity`` is in the emitted set.

Output mode: ``update`` — each micro-batch re-emits the groups that
changed.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from svs_spark.operators.sketch import _mg_reduce
from svs_spark.session import drop_zip_importers

_STATE_SCHEMA = StructType([
    StructField("items", ArrayType(StringType())),
    StructField("counts", ArrayType(LongType())),
    StructField("n", LongType()),
])

_OUT_SCHEMA = StructType([
    StructField("group_key", StringType()),
    StructField("item", StringType()),
    StructField("est_count", LongType()),
    StructField("n_seen", LongType()),
])


def heavy_hitters_stream(
    events: DataFrame,
    group_col: str,
    item_col: str,
    capacity: int = 64,
) -> DataFrame:
    """Per-group Misra-Gries heavy hitters over an unbounded stream.

    Emits (group_key, item, est_count, n_seen) rows per micro-batch for
    every group that received data, keeping only items whose estimate
    exceeds ``n_seen/capacity`` (so true frequency > 2·n_seen/capacity
    guarantees presence)."""

    def update(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        (group_key,) = key
        if state.exists:
            items, counts, n = state.get
            mg = dict(zip(items, counts))
        else:
            mg, n = {}, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vc = pdf[item_col].astype(str).value_counts()
            n += int(vc.sum())
            for item, c in vc.items():
                mg[item] = mg.get(item, 0) + int(c)
            mg = _mg_reduce(mg, capacity)
        state.update((list(mg), [int(v) for v in mg.values()], n))
        out = [
            (group_key, item, int(c), n)
            for item, c in sorted(mg.items(), key=lambda t: (-t[1], t[0]))
            if c > n / capacity
        ]
        yield pd.DataFrame(
            out, columns=["group_key", "item", "est_count", "n_seen"]
        )

    return (
        events.select(
            events[group_col].cast("string").alias(group_col),
            events[item_col].cast("string").alias(item_col),
        )
        .groupBy(group_col)
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_DECAY_STATE_SCHEMA = StructType([
    StructField("items", ArrayType(StringType())),
    StructField("weights", ArrayType(DoubleType())),
    StructField("w_total", DoubleType()),
    StructField("last_ts", DoubleType()),
])

_DECAY_OUT_SCHEMA = StructType([
    StructField("group_key", StringType()),
    StructField("item", StringType()),
    StructField("weight", DoubleType()),
    StructField("w_total", DoubleType()),
])


def decayed_heavy_hitters_stream(
    events: DataFrame,
    group_col: str,
    item_col: str,
    ts_col: str,
    half_life: float,
    capacity: int = 64,
) -> DataFrame:
    """TRENDING items per group: Misra-Gries over exponentially
    time-decayed weights. Each occurrence at event time t contributes
    2^(-(T - t)/half_life) at reference time T (the max event time the
    group has seen), so an item must keep occurring to stay ranked —
    the monitor that distinguishes "bursting now" from "big last week",
    in the same O(capacity) state as the plain heavy-hitter screen.

    Decay composes with the MG reduction because it is a uniform
    positive rescaling: advancing T multiplies EVERY counter (and the
    decayed total) by the same factor, preserving counter order and the
    relative-error contract (error ≤ decayed_total/capacity). Within a
    micro-batch the per-row weights are computed vectorized against the
    batch max; state carries (items, weights, decayed_total, last_T).

    ``ts_col`` is numeric event time in the same unit as ``half_life``.
    Emits (group_key, item, weight, w_total) per batch, update mode,
    for items whose decayed weight clears w_total/capacity.
    """

    def update(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        import numpy as np

        (group_key,) = key
        if state.exists:
            items, weights, w_total, last_ts = state.get
            mg = dict(zip(items, weights))
        else:
            mg, w_total, last_ts = {}, 0.0, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = pdf[ts_col].to_numpy(dtype=np.float64)
            t_new = float(ts.max())
            if last_ts is not None and t_new < last_ts:
                # late batch: never decay backwards — fold with the
                # existing reference instead
                t_new = last_ts
            # advance the reference: uniform rescale of all state
            if last_ts is not None and t_new > last_ts:
                f = 2.0 ** (-(t_new - last_ts) / half_life)
                mg = {k: v * f for k, v in mg.items()}
                w_total *= f
            w = 2.0 ** (-(t_new - ts) / half_life)
            frame = pd.DataFrame({"item": pdf[item_col].astype(str), "w": w})
            for item, wsum in frame.groupby("item", sort=False)["w"].sum().items():
                mg[item] = mg.get(item, 0.0) + float(wsum)
            w_total += float(w.sum())
            mg = _mg_reduce(mg, capacity)
            last_ts = t_new
        state.update(
            (list(mg), [float(v) for v in mg.values()],
             float(w_total), float(last_ts if last_ts is not None else 0.0))
        )
        out = [
            (group_key, item, float(v), float(w_total))
            for item, v in sorted(mg.items(), key=lambda t: (-t[1], t[0]))
            if v > w_total / capacity
        ]
        yield pd.DataFrame(
            out, columns=["group_key", "item", "weight", "w_total"]
        )

    return (
        events.select(
            events[group_col].cast("string").alias(group_col),
            events[item_col].cast("string").alias(item_col),
            events[ts_col].cast("double").alias(ts_col),
        )
        .groupBy(group_col)
        .applyInPandasWithState(
            update,
            outputStructType=_DECAY_OUT_SCHEMA,
            stateStructType=_DECAY_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
