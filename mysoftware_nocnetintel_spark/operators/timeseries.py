"""Time-series operators: as-of join, sessionization, rolling features,
gap interpolation, resampling, sequence assembly.

Reference parity: the preprocessing stage of the forecasting pipeline —
"Cleansing missing/nulls, noise filtering", "Timestamp alignment,
interpolation", "Scaling, encoding categorical signals" (reference
README.md:35-38) and the feature stage "lag features", "moving average",
"rate of failure" (README.md:43-44); sequence assembly feeds the model input
"Sequence of multivariate time series" (README.md:47). SURVEY.md §2 rows
J3-J4, W1-W3, W5-W6, A7, T3(batch).

Scale notes (100 TB posture):
- Every operator here is one window/groupBy over the entity key → exactly one
  hash-partition shuffle on that key; chains of these ops reuse the same
  partitioning (Catalyst elides adjacent exchanges on equal keys).
- The as-of join is the union-grid formulation: union the two inputs, one
  window pass carries the last right-side payload forward. This is
  shuffle-minimal (no per-key pandas, no range explosion) and skew-tolerant
  compared to ``pd.merge_asof`` inside ``applyInPandas``.
- Nothing collects to the driver; all functions are DataFrame → DataFrame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cols(keys: str | Sequence[str]) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def with_lag_features(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1,),
    tiebreak: str | None = None,
) -> DataFrame:
    """W1: lag features per entity. ``tiebreak`` pins deterministic order."""
    order = [F.col(order_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*_cols(keys)).orderBy(*order)
    for n in lags:
        df = df.withColumn(f"{value_col}_lag{n}", F.lag(value_col, n).over(w))
    return df


def with_rolling(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    value_col: str,
    window_rows: int = 10,
    aggs: Sequence[str] = ("avg",),
    tiebreak: str | None = None,
) -> DataFrame:
    """W2/W3: trailing row-frame rolling aggregates (avg/sum/min/max/stddev)."""
    order = [F.col(order_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(*_cols(keys))
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), 0)
    )
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "stddev": F.stddev}
    for a in aggs:
        df = df.withColumn(f"{value_col}_roll_{a}{window_rows}", fns[a](value_col).over(w))
    return df


def sessionize(
    df: DataFrame,
    keys: str | Sequence[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    tiebreak: str | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """T3 (batch form): lag-gap sessionization.

    A new session starts when the gap to the previous event exceeds ``gap``.
    Interval arithmetic stays on the timestamp type directly (works for NTZ,
    no epoch casts → time-zone independent). One shuffle on ``keys``.
    """
    num, _, unit = gap.partition(" ")
    gap_interval = F.expr(f"INTERVAL '{int(num)}' {unit.rstrip('s').upper()}")
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*_cols(keys)).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col(ts_col) - prev_ts > gap_interval), 1
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    tolerance: str | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """J3: as-of join — for each left row, the latest right row with
    ``right_ts <= left_ts`` per key (backward; forward = earliest >=).

    ``right_tiebreak`` names a right-side column that totally orders right
    rows sharing the same (key, ts); the row with the LARGEST tiebreak wins
    (pick-latest rule), making the matched payload deterministic across
    partitionings. Without it, equal-(key, ts) right rows have no total
    order and the carried payload is partitioning-dependent.

    Union-grid formulation (Spark has no native ASOF JOIN as of 4.x):
    union both sides with a side tag, one window pass per key ordered by
    (ts, side) carries the most recent right payload onto left rows. Exactly
    one shuffle, no range-join explosion; ties (right_ts == left_ts) match,
    matching DuckDB ``ASOF JOIN`` semantics for the oracle.

    ``tolerance`` (e.g. ``"1 hour"``) nulls out matches further away than the
    interval. Payload columns arrive as ``<name><suffix>``.
    """
    key_list = _cols(keys)
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in key_list and c != right_ts
        ]
    payload = F.struct(
        F.col(right_ts).alias("__asof_ts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    tb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)
    r = right.select(
        *key_list,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        tb.alias("__tb"),
        payload.alias("__payload"),
    )
    left_struct = F.struct(*[F.col(c) for c in left.columns]).alias("__row")
    l = left.select(
        *key_list,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__tb"].dataType).alias("__tb"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        left_struct,
    )
    r = r.withColumn("__row", F.lit(None).cast(l.schema["__row"].dataType))

    if direction == "backward":
        # right rows sort before left rows at equal ts → ties match;
        # __tb asc makes F.last pick the max-tiebreak right row on (key, ts)
        # collisions (left rows carry a NULL __tb but sort after on __side)
        w = (
            Window.partitionBy(*key_list)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__tb").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        carried = F.last("__payload", ignorenulls=True).over(w)
    elif direction == "forward":
        # __tb desc makes F.first hit the max-tiebreak right row first
        w = (
            Window.partitionBy(*key_list)
            .orderBy(F.col("__ts").asc(), F.col("__side").desc(), F.col("__tb").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        carried = F.first("__payload", ignorenulls=True).over(w)
    else:
        raise ValueError(f"direction must be backward/forward, got {direction!r}")

    joined = (
        l.unionByName(r)
        .withColumn("__match", carried)
        .filter(F.col("__side") == 1)
    )
    if tolerance is not None:
        num, _, unit = tolerance.partition(" ")
        tol = F.expr(f"INTERVAL '{int(num)}' {unit.rstrip('s').upper()}")
        in_range = (
            (F.col("__ts") - F.col("__match.__asof_ts") <= tol)
            if direction == "backward"
            else (F.col("__match.__asof_ts") - F.col("__ts") <= tol)
        )
        joined = joined.withColumn(
            "__match", F.when(in_range, F.col("__match"))
        )

    out = joined.select(
        F.col("__row.*"),
        F.col("__match.__asof_ts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def interpolate_linear(
    df: DataFrame,
    keys: str | Sequence[str],
    ts_col: str,
    value_col: str,
    out_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """W5: linear interpolation of NULL gaps per entity, weighted by time.

    Boundary semantics: leading NULLs take the first observed value
    (backfill), trailing NULLs the last (forward-fill) — pinned by tests.
    Two window passes over one partitioning → one shuffle.
    """
    out_col = out_col or f"{value_col}_interp"
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w_prev = (
        Window.partitionBy(*_cols(keys))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*_cols(keys))
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_ts = F.when(v.isNotNull(), F.col(ts_col))
    prev_v = F.last(value_col, ignorenulls=True).over(w_prev)
    prev_t = F.last(obs_ts, ignorenulls=True).over(w_prev)
    next_v = F.first(value_col, ignorenulls=True).over(w_next)
    next_t = F.first(obs_ts, ignorenulls=True).over(w_next)
    interp = (
        df.withColumn("__prev_v", prev_v)
        .withColumn("__prev_t", prev_t)
        .withColumn("__next_v", next_v)
        .withColumn("__next_t", next_t)
    )
    # gap fraction in microseconds; timestampdiff is TZ-independent (NTZ-safe)
    frac = F.try_divide(
        F.expr(f"timestampdiff(MICROSECOND, __prev_t, {ts_col})").cast("double"),
        F.expr("timestampdiff(MICROSECOND, __prev_t, __next_t)").cast("double"),
    )
    filled = (
        F.when(v.isNotNull(), v)
        .when(F.col("__prev_v").isNull(), F.col("__next_v"))  # leading gap
        .when(F.col("__next_v").isNull(), F.col("__prev_v"))  # trailing gap
        .otherwise(
            F.col("__prev_v") + (F.col("__next_v") - F.col("__prev_v")) * frac
        )
    )
    return interp.withColumn(out_col, filled).drop(
        "__prev_v", "__prev_t", "__next_v", "__next_t"
    )


def resample_grid(
    df: DataFrame,
    keys: str | Sequence[str],
    ts_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """Per-key dense time grid from min(ts) to max(ts) at ``step`` —
    the alignment grid for interpolation / as-of alignment (README.md:37).
    ``sequence()`` is generated distributed per key (no driver loop)."""
    num, _, unit = step.partition(" ")
    step_interval = F.expr(f"INTERVAL '{int(num)}' {unit.rstrip('s').upper()}")
    key_list = _cols(keys)
    bounds = df.groupBy(*key_list).agg(
        F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")
    )
    return bounds.select(
        *key_list,
        F.explode(
            F.sequence(
                F.date_trunc(unit.rstrip("s"), F.col("__t0")).cast(
                    df.schema[ts_col].dataType
                ),
                F.col("__t1"),
                step_interval,
            )
        ).alias(ts_col),
    )


def assemble_sequences(
    df: DataFrame,
    keys: str | Sequence[str],
    ts_col: str,
    feature_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """A7: per-entity time-ordered array<struct> sequence (LSTM model input,
    reference README.md:47). Sorting happens inside ``array_sort`` on the
    struct's leading (ts, tiebreak) fields — no extra shuffle beyond the
    groupBy."""
    head = [F.col(ts_col).alias("__ts")] + (
        [F.col(tiebreak).alias("__tb")] if tiebreak else []
    )
    s = F.struct(*head, *[F.col(c) for c in feature_cols])
    return df.groupBy(*_cols(keys)).agg(
        F.array_sort(F.collect_list(s)).alias("sequence"),
        F.count(F.lit(1)).alias("seq_len"),
    )
