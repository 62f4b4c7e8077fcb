"""The integer window grid, for every engine path.

Window ``w`` spans samples ``[w*step, w*step + spw]`` (reference
data_processing_pipeline.py:692-716), and a beat at integer-ms doc time
``t`` is in it iff ``start <= t <= end``, compared exactly as ``t*fs``
vs ``samples*1000`` in int64: a float cumsum puts beats landing exactly
on a boundary on a rounding-noise-dependent side, which no two
summation orders agree on. The chunk stage and the stream cut windows
here, so both always cut the same grid. ``oracle.window_grid`` keeps
its own copy on purpose: the gate must not share the code it checks.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .config import HRVConfig


def n_samples(total_ms: int, cfg: HRVConfig) -> int:
    return total_ms * cfg.sampling_rate // 1000


def n_windows(n_samp: int, cfg: HRVConfig) -> int:
    """Windows that fit in ``n_samp`` samples (0 when none does)."""
    return max(0, (n_samp - cfg.window_samples()) // cfg.step_samples() + 1)


def n_windows_col(n_samp: Column, cfg: HRVConfig) -> Column:
    n_win = F.floor((n_samp - cfg.window_samples()) / cfg.step_samples()).cast("long") + 1
    return F.greatest(F.lit(0), n_win)


def window_bounds(
    t_ms: np.ndarray, first_win: int, cfg: HRVConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(ids, lo, hi)``: the windows from ``first_win`` on that end by
    the last beat of a token slice, and each one's beats ``lo:hi``.

    ``t_ms`` is ``off_ms + cumsum(tok)`` in int64, ``off_ms`` being the
    doc time of the beat before the slice (0 at the doc start). An empty
    slice ends no window.
    """
    spw, step = cfg.window_samples(), cfg.step_samples()
    end_ms = int(t_ms[-1]) if t_ms.size else 0
    n_win = n_windows(n_samples(end_ms, cfg), cfg)
    ids = np.arange(first_win, max(first_win, n_win), dtype=np.int64)
    t_scaled = t_ms * cfg.sampling_rate
    lo = np.searchsorted(t_scaled, ids * step * 1000, side="left")
    hi = np.searchsorted(t_scaled, (ids * step + spw) * 1000, side="right")
    return ids, lo, hi


def first_needed_beat(t_ms: np.ndarray, next_win: int, cfg: HRVConfig) -> int:
    """First beat that window ``next_win`` or a later one can hold: the
    stream keeps the beats from here on."""
    start = next_win * cfg.step_samples() * 1000
    return int(np.searchsorted(t_ms * cfg.sampling_rate, start, side="left"))


def window_columns(cfg: HRVConfig) -> dict[str, Column]:
    """Sample and time (s) columns of each window as native expressions
    of ``window_id``: ``id*step [+ off]`` is exact in int64, and the one
    double division matches NumPy's bit for bit."""
    fs = F.lit(float(cfg.sampling_rate))
    spw = cfg.window_samples()
    start = F.col("window_id") * F.lit(cfg.step_samples())
    center = start + F.lit(spw // 2)
    end = start + F.lit(spw)
    return {
        "start_sample": start.alias("start_sample"),
        "center_sample": center.alias("center_sample"),
        "end_sample": end.alias("end_sample"),
        "window_start_time": (start / fs).alias("window_start_time"),
        "window_center_time": (center / fs).alias("window_center_time"),
        "window_end_time": (end / fs).alias("window_end_time"),
    }


def check_tokens(tok: np.ndarray, doc_ids: Sequence, offsets: Sequence, where: str = "") -> None:
    """Raise ``ValueError`` naming the first doc with a negative RR token
    (``tok[offsets[i]:offsets[i+1]]`` is ``doc_ids[i]``'s), then
    ``where`` or the token. A negative token makes beat times
    non-monotone, and ``searchsorted`` would cut wrong windows silently.
    Zero tokens are valid."""
    neg = offsets[0] + np.flatnonzero(tok[offsets[0] : offsets[-1]] < 0)
    if neg.size:
        d = int(np.searchsorted(offsets, neg[0], side="right") - 1)
        raise ValueError(f"doc_id {doc_ids[d]!r}: negative RR token {where or tok[neg[0]]}")
