"""Straight-line NumPy oracle — the np.allclose reference for the engine.

This module replicates, with plain Python loops and eager per-sample label
materialization, the semantics of the reference pipeline:

- per-window HRV kernels       -> /root/reference/hrv_features.py
- per-sample FixedSPH labeling -> /root/reference/labelers.py:44-101
- integer-sample window grid   -> /root/reference/data_processing_pipeline.py:692-716
- inclusive RR membership      -> /root/reference/ecg_processing.py:347-370

It is intentionally slow and simple (O(n^2) loops, per-frequency loops,
labels as a dense array) so that agreement with the vectorized engine
kernels and the distributed Spark plan is a meaningful check rather than a
tautology. Tests compare engine output against this module with
np.allclose(rtol=1e-9, atol=1e-12).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .config import DEFAULT_CONFIG, HRVConfig
from .functions.hrv import ALL_FEATURES


# ---------------------------------------------------------------------------
# kernels (loop style)
# ---------------------------------------------------------------------------


def _ls_periodogram(x: np.ndarray, y: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Normalized Lomb-Scargle, one frequency at a time.

    Carries the same degenerate-bin guard as the engine (see
    functions/spectral.py docstring): a quadrature term whose
    sum-of-squares is ~0 in exact arithmetic is pinned to 0 instead of
    evaluating a rounding-noise 0/0 (affects only f=0.5 on the reference
    grid with integer beat numbers).
    """
    out = np.zeros(freqs.size)
    ynorm = float(np.dot(y, y))
    tol = len(x) * 1e-24
    for fi, f in enumerate(freqs):
        w = 2.0 * math.pi * f
        s2 = math.fsum(math.sin(2.0 * w * t) for t in x)
        c2 = math.fsum(math.cos(2.0 * w * t) for t in x)
        tau = math.atan2(s2, c2) / (2.0 * w)
        yc = ys = cc = ss = 0.0
        for t, v in zip(x, y):
            cv = math.cos(w * (t - tau))
            sv = math.sin(w * (t - tau))
            yc += v * cv
            ys += v * sv
            cc += cv * cv
            ss += sv * sv
        term = 0.0
        if cc > tol:
            term += yc * yc / cc
        if ss > tol:
            term += ys * ys / ss
        out[fi] = 0.5 * term * 2.0 / ynorm
    return out


def _trapz(y: np.ndarray, x: np.ndarray) -> float:
    acc = 0.0
    for i in range(len(x) - 1):
        acc += (x[i + 1] - x[i]) * (y[i] + y[i + 1]) / 2.0
    return acc


def oracle_feature_row(rr_sec: np.ndarray, rr_t: np.ndarray, cfg: HRVConfig = DEFAULT_CONFIG) -> dict:
    """All 23 features for one window, reference semantics, loop style."""
    rr_sec = np.asarray(rr_sec, dtype=np.float64)
    rr_t = np.asarray(rr_t, dtype=np.float64)
    n = rr_sec.size
    row: dict[str, float] = {}

    # time domain (hrv_features.py:48-100)
    if n < 2:
        for k in ("NN50", "pNN50", "RMSSD", "SDNN", "SDSD", "RRMean", "RRMin", "RRMax", "RRVar"):
            row[k] = 0.0
    else:
        ms = rr_sec * 1000.0
        d = np.diff(ms)
        row["NN50"] = float(np.sum(np.abs(d) > 50))
        row["pNN50"] = row["NN50"] / len(d) * 100.0
        row["RMSSD"] = float(np.sqrt(np.mean(d**2)))
        row["SDNN"] = float(np.std(ms, ddof=1))
        row["SDSD"] = float(np.std(d, ddof=1))
        row["RRMean"] = float(np.mean(ms))
        row["RRMin"] = float(np.min(ms))
        row["RRMax"] = float(np.max(ms))
        row["RRVar"] = float(np.var(ms, ddof=1))

    # frequency domain (hrv_features.py:102-172)
    if n < cfg.min_beats_frequency:
        for k in ("TOTAL_POWER", "VLF_POWER", "LF_POWER", "HF_POWER",
                  "VLF_NORM", "LF_NORM", "HF_NORM", "LF_TO_HF"):
            row[k] = 0.0
    else:
        beat_no = np.arange(1, n + 1, dtype=np.float64)
        freqs = np.linspace(cfg.freq_min, cfg.freq_max, cfg.n_freqs)
        psd = _ls_periodogram(beat_no, rr_sec, freqs)

        def band_power(lo: float, hi: float) -> float:
            keep = [i for i in range(freqs.size) if lo <= freqs[i] <= hi]
            if len(keep) < 2:
                return 0.0
            return max(0.0, _trapz(psd[keep], freqs[keep])) * cfg.power_scale

        total = band_power(freqs[0], freqs[-1])
        vlf = band_power(*cfg.vlf_band)
        lf = band_power(*cfg.lf_band)
        hf = band_power(*cfg.hf_band)
        row["TOTAL_POWER"] = total
        row["VLF_POWER"] = vlf
        row["LF_POWER"] = lf
        row["HF_POWER"] = hf
        row["VLF_NORM"] = vlf / total * 100.0 if total > 0 else 0.0
        row["LF_NORM"] = lf / total * 100.0 if total > 0 else 0.0
        row["HF_NORM"] = hf / total * 100.0 if total > 0 else 0.0
        row["LF_TO_HF"] = lf / hf if hf > 0 else 0.0

    # Poincaré (hrv_features.py:216-252)
    if n < 2:
        row["SD1"] = row["SD2"] = row["SD1toSD2"] = 0.0
    else:
        ms = rr_sec * 1000.0
        sd1 = float(np.std(ms[:-1] - ms[1:], ddof=1) / math.sqrt(2.0))
        sd2 = float(np.std(ms[:-1] + ms[1:], ddof=1) / math.sqrt(2.0))
        row["SD1"] = sd1
        row["SD2"] = sd2
        row["SD1toSD2"] = sd1 / sd2 if sd2 > 0 else 0.0

    # entropies (hrv_features.py:254-346, gate :372-377). The engine caps
    # the O(n^2) kernels at cfg.entropy_max_beats (a documented divergence
    # from the reference, which runs the full window); the oracle applies
    # the SAME cap so the allclose gate detects any other drift.
    if n >= cfg.min_beats_entropy:
        rr_e = rr_sec[: cfg.entropy_max_beats]
        row["SampEn"] = _sampen_loops(rr_e, cfg.entropy_m, cfg.entropy_r)
        row["ApEn"] = _apen_loops(rr_e, cfg.entropy_m, cfg.entropy_r)
    else:
        row["SampEn"] = 0.0
        row["ApEn"] = 0.0

    # triangular index (engine extension)
    if n == 0:
        row["TRI_INDEX"] = 0.0
    else:
        counts: dict[int, int] = {}
        for v in rr_sec:
            b = int(math.floor(v / cfg.tri_bin_seconds))
            counts[b] = counts.get(b, 0) + 1
        row["TRI_INDEX"] = n / max(counts.values())
    return row


def _sampen_loops(rr: np.ndarray, m: int, r_tol: float) -> float:
    n = rr.size
    if n < m + 1:
        return 0.0
    sd = float(np.std(rr))
    if sd == 0.0:
        return 0.0
    z = (rr - np.mean(rr)) / sd
    r = r_tol * sd
    a = b = 0
    for i in range(n - m):
        for j in range(i + 1, n - m + 1):
            dm = max(abs(z[i + k] - z[j + k]) for k in range(m))
            if dm <= r:
                b += 1
                if j <= n - m - 1:
                    dm1 = max(abs(z[i + k] - z[j + k]) for k in range(m + 1))
                    if dm1 <= r:
                        a += 1
    if a == 0 or b == 0:
        return 0.0
    return float(-np.log((a / b) * ((n - m + 2) / (n - m))))


def _apen_loops(rr: np.ndarray, m: int, r_tol: float) -> float:
    n = rr.size
    if n < m + 1:
        return 0.0
    sd = float(np.std(rr))
    if sd == 0.0:
        return 0.0
    z = (rr - np.mean(rr)) / sd
    r = r_tol * sd

    def phi(mm: int) -> float:
        total = 0.0
        k = n - mm + 1
        for i in range(k):
            matches = 0
            for j in range(k):
                if max(abs(z[i + t] - z[j + t]) for t in range(mm)) <= r:
                    matches += 1
            if matches > 0:
                total += np.log(matches / float(k))
        return total / float(k)

    return float(phi(m) - phi(m + 1))


# ---------------------------------------------------------------------------
# labeling + window grid (eager, per-sample, like the reference)
# ---------------------------------------------------------------------------


def oracle_labels(n_samples: int, events: pd.DataFrame, cfg: HRVConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Dense per-sample label array, FixedSPH painting order.

    Events painted sequentially in row order: ictal first, then the SPH
    target window (skipped when t_target < 0, target_start < 0, or — with
    skip_overlap — when it touches the same event's ictal span); with
    skip_overlap=False the ictal span is re-painted after the target
    (labelers.py:61-99). Later events overwrite earlier ones.
    """
    fs = cfg.sampling_rate
    labels = np.zeros(n_samples, dtype=np.int64)
    for _, ev in events.iterrows():
        onset = float(ev["onset"])
        duration = float(ev.get("duration", 0.0) or 0.0)
        onset_s = int(onset * fs)
        end_s = onset_s + int(duration * fs)
        sz_lo = max(0, onset_s)
        sz_hi = min(n_samples, end_s)
        labels[sz_lo:sz_hi] = 2
        t_target = onset - cfg.sph_seconds
        if t_target < 0:
            continue
        tgt_start_t = t_target - cfg.label_width_seconds / 2.0
        tgt_end_t = t_target + cfg.label_width_seconds / 2.0
        if tgt_start_t < 0:
            continue
        tgt_lo = max(0, int(tgt_start_t * fs))
        tgt_hi = min(n_samples, int(tgt_end_t * fs))
        if cfg.skip_overlap:
            if tgt_hi <= sz_lo:
                labels[tgt_lo:tgt_hi] = 1
        else:
            labels[tgt_lo:tgt_hi] = 1
            labels[sz_lo:sz_hi] = 2
    return labels


def decode_tokens(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """tokens (int ms) -> (rr_sec, rr_time_sec, total_ms). FIXTURES.md F1."""
    tok = np.asarray(tokens, dtype=np.int64)
    rr_sec = tok.astype(np.float64) / 1000.0
    rr_t = np.cumsum(rr_sec)
    return rr_sec, rr_t, int(tok.sum())


def n_samples_for(total_ms: int, cfg: HRVConfig = DEFAULT_CONFIG) -> int:
    """Doc length in samples from total token milliseconds (exact int math)."""
    return total_ms * cfg.sampling_rate // 1000


def window_grid(n_samples: int, cfg: HRVConfig = DEFAULT_CONFIG) -> list[tuple[int, int, int, int]]:
    """[(win_id, start_sample, center_sample, end_sample)] per the
    reference's integer arithmetic (data_processing_pipeline.py:692-713)."""
    spw = cfg.window_samples()
    step = cfg.step_samples()
    n_win = (n_samples - spw) // step + 1
    grid = []
    for i in range(max(0, n_win)):
        start = i * step
        grid.append((i, start, start + spw // 2, start + spw))
    return grid


def oracle_pipeline(
    sequences: pd.DataFrame,
    annotations: pd.DataFrame,
    cfg: HRVConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """End-to-end expected output for the flagship plan.

    sequences: (doc_id, tokens) pandas frame; annotations: (doc_id, onset,
    duration, event_type). Returns one row per (doc_id, window) with key
    times, the 23 features and the center-sample label.
    """
    from .datagen import is_seizure_event_mask

    if len(annotations):
        seiz = annotations[is_seizure_event_mask(annotations["event_type"])]
        # Spark assigns painting order by (onset, duration, event_type);
        # mirror that here (the reference uses file order).
        seiz = seiz.sort_values(["doc_id", "onset", "duration", "event_type"], kind="mergesort")
    else:
        seiz = annotations
    out_rows = []
    fs = cfg.sampling_rate
    for _, srow in sequences.iterrows():
        doc = srow["doc_id"]
        rr_sec, rr_t, total_ms = decode_tokens(srow["tokens"])
        # EXACT membership (mirrors grid.py, not shared): integer-ms beat times
        # vs integer-sample bounds in the common ms*fs grid — float cumsum
        # noise must not decide boundary-exact beats
        t_scaled = np.cumsum(np.asarray(srow["tokens"], dtype=np.int64)) * fs
        n_samp = n_samples_for(total_ms, cfg)
        ev = seiz[seiz["doc_id"] == doc]
        labels = oracle_labels(n_samp, ev, cfg)
        for win_id, start, center, end in window_grid(n_samp, cfg):
            t0, tc, t1 = start / fs, center / fs, end / fs
            mask = (t_scaled >= start * 1000) & (t_scaled <= end * 1000)
            w_rr = rr_sec[mask]
            w_t = rr_t[mask]
            if w_rr.size >= cfg.min_beats_per_window:
                feats = oracle_feature_row(w_rr, w_t, cfg)
            else:
                feats = {k: float("nan") for k in ALL_FEATURES}
            out_rows.append(
                {
                    "doc_id": doc,
                    "window_id": win_id,
                    "window_start_time": t0,
                    "window_center_time": tc,
                    "window_end_time": t1,
                    "n_beats": int(w_rr.size),
                    **feats,
                    "label": int(labels[center]) if center < n_samp else 0,
                }
            )
    return pd.DataFrame(out_rows)
