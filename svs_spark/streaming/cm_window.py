"""Windowed count-min sketches as a PURE built-in streaming aggregate.

Count-min is a LINEAR sketch: the (depth x width) counter matrix of a
window is the elementwise sum of per-row contributions. That linearity
means the streaming form needs NO custom state kernel at all — each
event explodes into its ``depth`` cell coordinates and a watermarked
windowed ``count(*)`` over (window, row, col) IS the sketch, built by
Spark's own incremental stateful aggregation (state bounded by the
watermark, exactly-once per closed window in append mode).

Per (event-time window, group) this emits the non-zero sketch cells;
downstream, any item's frequency in any window — or any UNION of
windows, again by linearity — is ``min over rows of cell sums``, with
the standard one-sided overcount bound (true <= est <= true + eps*n).
This is the shape a 100 TB firehose wants: per-window state is at most
depth*width cells regardless of item cardinality, and closed windows
ship as tiny cell tables to cheap storage where they stay queryable
without re-reading the stream.

Positions are the SAME splitmix64-over-polynomial-fingerprint family
as the batch ``count_min`` (operators/sketch.py) — a drained window's
cells answer point queries identically to a batch sketch built over
that window's rows (equality, not just bound, is tested).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from svs_spark.operators.sketch import _cm_positions, _cm_positions_many
from svs_spark.session import drop_zip_importers


def _positions_udf(width: int, depth: int):
    """Arrow-batched positions kernel: item string -> array<long> of the
    ``depth`` cell columns; each batch's distinct items are hashed in
    one call (value_counts-style corpora repeat items heavily)."""

    def kernel(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_zip_importers()
        for s in batches:
            codes, uniq = pd.factorize(s.astype(str))
            pos = _cm_positions_many(uniq, width, depth)
            yield pd.Series(pos[codes].tolist())

    return F.pandas_udf(kernel, "array<long>")


def cm_cells(
    df: DataFrame,
    item_col: str,
    width: int = 1024,
    depth: int = 4,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Explode each row into its ``depth`` (row, col) sketch-cell
    coordinates (plus ``extra_cols`` passthrough). Works on batch and
    streaming DataFrames alike — the explode is stateless."""
    extra = list(extra_cols or [])
    udf = _positions_udf(width, depth)
    return (
        df.select(*extra, udf(F.col(item_col).cast("string")).alias("_pos"))
        .select(*extra, F.posexplode("_pos").alias("row", "col"))
    )


def cm_sketch_stream(
    events: DataFrame,
    item_col: str,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Per-window count-min sketch cells over an event-time stream.

    ``ts_col`` must be a timestamp column. Returns the streaming
    DataFrame of (window_start, window_end, row, col, cnt) — run it
    with ``outputMode("append")``; each window's cells emit once, when
    the watermark passes the window end.
    """
    cells = cm_cells(
        events.withWatermark(ts_col, watermark),
        item_col,
        width=width,
        depth=depth,
        extra_cols=[ts_col],
    )
    return (
        cells.groupBy(F.window(ts_col, window_duration), "row", "col")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "row",
            "col",
            "cnt",
        )
    )


def cm_estimate_cells(
    cells: "pd.DataFrame | list", item: str, width: int, depth: int
) -> int:
    """Point-frequency estimate from a drained cell table (one window,
    or several windows pre-summed by (row, col) — linearity makes the
    union of windows just another cell table). ``cells`` is an iterable
    of (row, col, cnt) or a pandas frame with those columns."""
    if isinstance(cells, pd.DataFrame):
        it = cells[["row", "col", "cnt"]].itertuples(index=False)
    else:
        it = iter(cells)
    table: dict[tuple[int, int], int] = {}
    for row, col, cnt in it:
        key = (int(row), int(col))
        table[key] = table.get(key, 0) + int(cnt)
    return min(
        table.get((row, p), 0)
        for row, p in enumerate(_cm_positions(str(item), width, depth))
    )
