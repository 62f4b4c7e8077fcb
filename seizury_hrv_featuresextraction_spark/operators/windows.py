"""Windowing library: sliding grids, gap sessionization, lag/lead +
backfill, trailing sequence frames — all native window functions.

Reference parity targets:
- O41 sliding grid (data_processing_pipeline.py:692-713): integer-sample
  arithmetic, NOT F.window() alignment — generated explicitly with
  sequence()+explode so the grid matches the reference exactly.
- O45 trailing frames (lstm_sequences.py:104-160): 36-row trailing frame,
  label/timestamp from the LAST row, emitted only when full.
- O46 gap sessionization (evaluate_loso.py:91-115): new episode when the
  gap between consecutive timestamps exceeds a threshold.
- O48 debounce (stream_emulator.py:210-249): run-length state over a
  boolean stream, batch shape (gaps-and-islands of positives).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sliding_window_grid(
    doc_dims: DataFrame,
    window_samples: int,
    step_samples: int,
    sampling_rate: int,
) -> DataFrame:
    """(doc_id, n_samples) -> one row per (doc_id, window) with the
    reference's integer-sample grid. Native sequence()+explode (a UDTF
    shape, no Python)."""
    n_win = (F.col("n_samples") - window_samples) / step_samples  # floor via cast below
    n_win = F.floor(n_win).cast("long") + 1
    fs = float(sampling_rate)
    return (
        doc_dims.withColumn("n_windows", F.greatest(F.lit(0), n_win))
        .filter(F.col("n_windows") > 0)
        .withColumn("window_id", F.explode(F.sequence(F.lit(0), F.col("n_windows") - 1)))
        .select(
            "doc_id",
            "window_id",
            (F.col("window_id") * step_samples).alias("start_sample"),
            (F.col("window_id") * step_samples + window_samples // 2).alias("center_sample"),
            (F.col("window_id") * step_samples + window_samples).alias("end_sample"),
            (F.col("window_id") * step_samples / fs).alias("window_start_time"),
            ((F.col("window_id") * step_samples + window_samples // 2) / fs).alias("window_center_time"),
            ((F.col("window_id") * step_samples + window_samples) / fs).alias("window_end_time"),
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str] | str,
    gap: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Gaps-and-islands: new session when ts - lag(ts) > gap (strict >,
    evaluate_loso.py:96-98). session_id counts from 0 per key."""
    by = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*by).orderBy(ts_col)
    gap_flag = (F.col(ts_col) - F.lag(ts_col).over(w) > gap).cast("int")
    return df.withColumn(
        session_col,
        F.sum(F.coalesce(gap_flag, F.lit(0))).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_bounds(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str] | str,
    gap: float,
) -> DataFrame:
    """Sessionize then collapse to episodes (episode id, start, end,
    duration, n rows) — the O46 'seizure episodes' shape."""
    by = [by] if isinstance(by, str) else list(by)
    s = sessionize(df, ts_col, by, gap)
    return s.groupBy(*by, "session_id").agg(
        F.min(ts_col).alias("start_time"),
        F.max(ts_col).alias("end_time"),
        (F.max(ts_col) - F.min(ts_col)).alias("duration"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def backfill(
    df: DataFrame,
    value_col: str | Column,
    ts_col: str,
    by: Sequence[str] | str,
    out_col: str,
    direction: str = "backward",
) -> DataFrame:
    """Carry the last non-null value forward in time (direction=
    'backward': value observed at or before each row) or the next one
    back ('forward'). O13b/O45's NaN handling generalized."""
    by = [by] if isinstance(by, str) else list(by)
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    if direction == "backward":
        w = Window.partitionBy(*by).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
        filled = F.last(col, ignorenulls=True).over(w)
    else:
        w = Window.partitionBy(*by).orderBy(ts_col).rowsBetween(0, Window.unboundedFollowing)
        filled = F.first(col, ignorenulls=True).over(w)
    return df.withColumn(out_col, filled)


def trailing_frames(
    df: DataFrame,
    by: Sequence[str] | str,
    order_col: str,
    feature_cols: Sequence[str],
    seq_len: int,
    frame_col: str = "X",
    nan_to_zero: bool = True,
) -> DataFrame:
    """O45: per key ordered by ``order_col``, emit rows whose trailing
    ``seq_len``-row frame is full; frame = array of feature arrays
    (oldest first), label/ts from the last row (= the current row).

    NaN features are zeroed first (lstm_sequences.py:130-135).
    """
    by = [by] if isinstance(by, str) else list(by)
    feats = [
        F.coalesce(F.nanvl(F.col(c), F.lit(0.0)), F.lit(0.0)) if nan_to_zero else F.col(c)
        for c in feature_cols
    ]
    vec = F.array(*feats)
    w = Window.partitionBy(*by).orderBy(order_col).rowsBetween(-(seq_len - 1), 0)
    out = df.withColumn(frame_col, F.collect_list(vec).over(w))
    return out.filter(F.size(frame_col) == seq_len)


def debounce(
    df: DataFrame,
    by: Sequence[str] | str,
    order_col: str,
    positive: Column,
    k: int,
    alarm_col: str = "alarm",
) -> DataFrame:
    """O48: alarm fires on the k-th consecutive positive and then LATCHES
    for the rest of the key — the reference's ``alarm_active`` is set once
    (stream_emulator.py:231,242) and only reset between recordings
    (``reset_state``, :122-127,263), so at most ONE alarm per key.

    Batch gaps-and-islands: runs of positives get a run id; the alarm is
    the FIRST row whose within-run positive rank reaches k.
    """
    by = [by] if isinstance(by, str) else list(by)
    cum = Window.partitionBy(*by).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    pos = positive.cast("int")
    df = df.withColumn("__pos", pos)
    # run id: number of negatives seen so far
    df = df.withColumn("__run", F.sum(1 - F.col("__pos")).over(cum))
    wrun = Window.partitionBy(*by, "__run").orderBy(order_col)
    df = df.withColumn("__pos_rank", F.sum("__pos").over(wrun.rowsBetween(Window.unboundedPreceding, 0)))
    cand = ((F.col("__pos") == 1) & (F.col("__pos_rank") == k)).cast("int")
    df = df.withColumn("__cand", cand)
    out = df.withColumn(
        alarm_col, (F.col("__cand") == 1) & (F.sum("__cand").over(cum) == 1)
    )
    return out.drop("__pos", "__run", "__pos_rank", "__cand")

