"""Temporal join operators (as-of join) — beyond-reference extension.

An as-of join matches each left row to the most recent right row at or
before (backward) its timestamp, per key — the core primitive for
point-in-time feature joins in training-data pipelines ("what was the
last purchase before this event?").

Spark has no native ASOF JOIN; the scalable formulation is the
union+window trick: tag both sides, union, sort within each key by
(time, side), and carry the last-seen right payload forward with
``last(..., ignorenulls=True)``. One shuffle on the key, no range
explosion — O(n log n) per key vs the O(n·m) naive range join. The
correctness oracle runs DuckDB's *native* ASOF JOIN, so the two
implementations are genuinely independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from svs_spark.session import drop_zip_importers


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    direction: str = "backward",
    strict: bool = True,
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join, all three directions, via one union+window pass.

    - ``backward``: greatest ``right_ts`` < (≤ when not strict) left_ts
    - ``forward``: smallest ``right_ts`` > (≥ when not strict) left_ts
    - ``nearest``: whichever of the two is closer in |Δt| (tie → the
      earlier/backward row, pandas ``merge_asof`` convention)
    - ``tolerance``: matches farther than this (in ts units) become
      NULL, keeping left-join semantics

    Returns the left DataFrame plus ``asof_ts`` and ``asof_<payload>``
    columns (NULL when no qualifying right row exists).

    Scale shape: both sides union into one frame shuffled once on the
    key; the backward carry is ``last(payload, ignorenulls)`` over the
    preceding frame and the forward carry is ``first(...)`` over the
    following frame — two window functions over the same partitioning
    (one exchange; at most one extra local sort when both directions'
    equal-time orderings differ). No range explosion, O(n log n) per
    key vs the O(n·m) naive inequality join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction}")
    payload_struct = F.struct(
        F.col(right_ts).alias("_rts"),
        *[F.col(c) for c in payload_cols],
    )
    rt = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(1).alias("_sb"),
        F.lit(1).alias("_sf"),
        payload_struct.alias("_payload"),
    )
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    lt = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        # equal-time visibility is an ordering choice per direction:
        # backward strict ⇒ left (0) sorts before the same-instant
        # right (1), which then falls outside the preceding frame;
        # forward strict ⇒ left (2) sorts after it, pushing it out of
        # the following frame. Non-strict flips each.
        F.lit(0 if strict else 2).alias("_sb"),
        F.lit(2 if strict else 0).alias("_sf"),
        left_struct.alias("_left"),
    ).withColumn("_payload", F.lit(None).cast(rt.schema["_payload"].dataType))
    rt = rt.withColumn(
        "_left", F.lit(None).cast(lt.schema["_left"].dataType)
    ).select("_k", "_t", "_sb", "_sf", "_left", "_payload")

    carried = lt.unionByName(rt)
    cols = []
    if direction in ("backward", "nearest"):
        wb = (
            Window.partitionBy("_k")
            .orderBy("_t", "_sb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = carried.withColumn(
            "_back", F.last("_payload", ignorenulls=True).over(wb)
        )
        cols.append("_back")
    if direction in ("forward", "nearest"):
        wf = (
            Window.partitionBy("_k")
            .orderBy("_t", "_sf")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = carried.withColumn(
            "_fwd", F.first("_payload", ignorenulls=True).over(wf)
        )
        cols.append("_fwd")

    def _within(c: str) -> F.Column:
        ok = F.col(c).isNotNull()
        if tolerance is not None:
            ok = ok & (
                F.abs(F.col(f"{c}._rts") - F.col("_t")) <= F.lit(tolerance)
            )
        return ok

    if direction == "nearest":
        back_ok, fwd_ok = _within("_back"), _within("_fwd")
        back_d = F.abs(F.col("_back._rts") - F.col("_t"))
        fwd_d = F.abs(F.col("_fwd._rts") - F.col("_t"))
        chosen = (
            F.when(back_ok & (~fwd_ok | (back_d <= fwd_d)), F.col("_back"))
            .when(fwd_ok, F.col("_fwd"))
            .otherwise(F.lit(None).cast(rt.schema["_payload"].dataType))
        )
    else:
        c = cols[0]
        chosen = F.when(_within(c), F.col(c)).otherwise(
            F.lit(None).cast(rt.schema["_payload"].dataType)
        )

    out = carried.filter(F.col("_left").isNotNull()).withColumn(
        "_chosen", chosen
    )
    return out.select(
        F.col("_left.*"),
        F.col("_chosen._rts").alias("asof_ts"),
        *[F.col(f"_chosen.{c}").alias(f"asof_{c}") for c in payload_cols],
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    strict: bool = True,
) -> DataFrame:
    """Backward as-of join (see ``asof_join``)."""
    return asof_join(
        left, right, key, left_ts, right_ts, payload_cols,
        direction="backward", strict=strict,
    )


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_point: str,
    right_lo: str,
    right_hi: str,
    band: int,
    how: str = "inner",
) -> DataFrame:
    """Range (interval-containment) join without a cross join: match
    left rows whose ``left_point`` falls in a right row's
    [``right_lo``, ``right_hi``) interval, same ``key``.

    Naive inequality joins degenerate to per-key cross products (Spark
    plans BroadcastNestedLoopJoin when the only equi-key is skewed or
    absent). The banded rewrite makes the join an EQUI join: each
    interval is exploded onto the fixed grid of ``band``-width bands it
    overlaps, each probe point maps to exactly one band, and the hash
    join on (key, band) bounds candidates to one grid cell before the
    precise containment filter. Choose ``band`` ≈ typical interval
    width: intervals then explode to ≤2 grid rows, and the exchange
    stays O(|right| + |left|) instead of O(|left|×|right| per key).

    All three range columns must be integer-typed (epoch seconds/us).
    ``how='left'``: left rows with no containing interval survive with
    NULL right payload (count with F.count of a right column).
    """
    r_bands = right.withColumn(
        "_band",
        F.explode(
            F.sequence(
                (F.col(right_lo) / band).cast("long"),
                # hi is exclusive: a hi exactly on a grid line adds no band
                ((F.col(right_hi) - 1) / band).cast("long"),
            )
        ),
    )
    l_banded = left.withColumn("_band", (F.col(left_point) / band).cast("long"))
    cond = (
        (l_banded[key] == r_bands[key])
        & (l_banded["_band"] == r_bands["_band"])
        & (r_bands[right_lo] <= l_banded[left_point])
        & (l_banded[left_point] < r_bands[right_hi])
    )
    joined = l_banded.join(r_bands, cond, how)
    # drop the right key/band duplicates, keep left intact
    return joined.drop(r_bands[key]).drop(r_bands["_band"]).drop(
        l_banded["_band"]
    )


def ewma_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-series exponential smoothing + residual anomaly flags.

    For each series (``key_col``), scan rows in ``ts_col`` order and
    maintain the EWMA level and an EWMA of squared residuals (same
    alpha); flag rows where |value − level_before| exceeds
    ``z_threshold``·sqrt(var_before). Returns the input columns plus
    (level, resid, is_anomaly).

    The recurrence is inherently sequential PER SERIES — no window
    frame expresses it — so this is the documented applyInPandas
    case: one exchange partitions by series key, each series folds
    in-memory with NumPy (bounded by the longest single series, the
    same bound every per-series op in this module carries; a series
    too long for one task should be rolled up first — see rollup.py).
    First rows of a series: level seeds at the first value, variance
    at 0, so rows 1-2 are never flagged (var needs two residuals).
    """
    import numpy as np
    import pandas as pd

    a = float(alpha)
    zt = float(z_threshold)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_importers()
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(
            drop=True
        )
        v = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(v)
        level = np.empty(n)
        resid = np.empty(n)
        flag = np.zeros(n, dtype=bool)
        lv = v[0] if n else 0.0
        var = 0.0
        seen = 0
        for i in range(n):
            r = v[i] - lv
            resid[i] = r
            if seen >= 2 and var > 0:
                flag[i] = abs(r) > zt * (var ** 0.5)
            lv = lv + a * r
            var = var + a * (r * r - var)
            level[i] = lv
            seen += 1
        out = pdf.copy()
        out["level"] = level
        out["resid"] = resid
        out["is_anomaly"] = flag
        return out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, level double, resid double, is_anomaly boolean"
    return df.groupBy(key_col).applyInPandas(fold, schema)


def holt_winters(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season_length: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Per-series additive Holt-Winters (level + trend + season) —
    the forecasting tier above ``ewma_anomalies``' level-only
    smoothing. For each series, scan rows in ``ts_col`` order and
    maintain:

        level_t  = α·(y_t − season_{t−m}) + (1−α)·(level + trend)
        trend_t  = β·(level_t − level) + (1−β)·trend
        season_t = γ·(y_t − level_t) + (1−γ)·season_{t−m}

    Initialization is the standard first-season recipe: level = mean
    of season 1, trend = (mean of season 2 − mean of season 1)/m,
    season_i = y_i − mean(season 1); the first 2m rows are warm-up
    (fitted values start at row m). Returns the input columns plus
    (fitted, resid, forecast_1) where fitted_t = level_{t−1} +
    trend_{t−1} + season_{t−m} (the one-step-ahead prediction made
    BEFORE seeing y_t) and forecast_1 is the next-step forecast from
    the state at t. Rows are dropped for series shorter than 2m (no
    honest initialization exists).

    The recurrence is sequential PER SERIES — the documented
    applyInPandas case (see ewma_anomalies): one exchange on the
    series key, NumPy fold per series, memory bounded by the longest
    single series; pre-aggregate to coarser buckets first
    (rollup.py) when a series outgrows a task."""
    import numpy as np
    import pandas as pd

    a, b, g, m = float(alpha), float(beta), float(gamma), int(season_length)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_importers()
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(
            drop=True
        )
        y = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(y)
        if n < 2 * m:
            out = pdf.iloc[0:0].copy()
            out["fitted"] = np.empty(0)
            out["resid"] = np.empty(0)
            out["forecast_1"] = np.empty(0)
            return out
        s1, s2 = y[:m].mean(), y[m : 2 * m].mean()
        level, trend = s1, (s2 - s1) / m
        season = (y[:m] - s1).copy()
        fitted = np.full(n, np.nan)
        resid = np.full(n, np.nan)
        fcast = np.full(n, np.nan)
        for t in range(m, n):
            si = t % m
            pred = level + trend + season[si]
            fitted[t] = pred
            resid[t] = y[t] - pred
            new_level = a * (y[t] - season[si]) + (1 - a) * (level + trend)
            trend = b * (new_level - level) + (1 - b) * trend
            level = new_level
            season[si] = g * (y[t] - level) + (1 - g) * season[si]
            fcast[t] = level + trend + season[(t + 1) % m]
        out = pdf.copy()
        out["fitted"] = fitted
        out["resid"] = resid
        out["forecast_1"] = fcast
        return out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, fitted double, resid double, forecast_1 double"
    return df.groupBy(key_col).applyInPandas(fold, schema)
