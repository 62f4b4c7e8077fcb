"""Welch fallback path (hrv_features.py:174-195): cubic-interpolate RR
onto a uniform 4 Hz grid, Welch PSD, band powers. No scipy here, so the
check is internal consistency + known-signal behavior rather than a
scipy-parity gate (the Lomb-Scargle primary path carries the parity gate).
"""

from __future__ import annotations

import numpy as np

from seizury_hrv_featuresextraction_spark.config import HRVConfig
from seizury_hrv_featuresextraction_spark.functions.hrv import WindowKernel
from seizury_hrv_featuresextraction_spark.functions.spectral import cubic_interp, welch_psd


def test_cubic_interp_reproduces_knots_and_smooth():
    x = np.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0])
    y = np.sin(x)
    xq = np.linspace(0.2, 4.8, 50)
    got = cubic_interp(x, y, xq)
    assert np.allclose(cubic_interp(x, y, x), y, atol=1e-12)  # exact at knots
    # natural-spline boundary condition -> error concentrates at the ends
    assert np.max(np.abs(got - np.sin(xq))) < 0.08
    mid = (xq > 1.0) & (xq < 4.0)
    assert np.max(np.abs(got[mid] - np.sin(xq[mid]))) < 0.02


def test_welch_peak_detection():
    fs = 4.0
    t = np.arange(0, 120, 1 / fs)
    sig = 0.8 + 0.05 * np.sin(2 * np.pi * 0.1 * t)  # 0.1 Hz (LF band)
    freqs, psd = welch_psd(sig, fs, nperseg=min(256, sig.size // 2))
    peak = freqs[np.argmax(psd[1:]) + 1]
    assert abs(peak - 0.1) < 0.02


def test_welch_fallback_kernel_path():
    cfg = HRVConfig(use_welch_fallback=True)
    k = WindowKernel(cfg)
    rng = np.random.default_rng(42)
    rr = np.clip(0.8 + 0.1 * rng.standard_normal(40), 0.4, 1.5)
    t = np.cumsum(rr)
    v = k.feature_vector(rr, t)
    freq = v[9:17]
    assert np.isfinite(freq).all()
    assert freq[0] > 0  # total power
    assert 0 <= freq[4] <= 100 and 0 <= freq[6] <= 100  # normalized %

    # batched kernel path routes through the same fallback (window 0 spans
    # [0, 30 s]: a prefix of the series, passed as [lo, hi) beat bounds)
    mask = (t >= 0.0) & (t <= 30.0)
    feats = k.windows_from_bounds(rr, np.array([0]), np.array([mask.sum()]), t)
    v_win = k.feature_vector(rr[mask], t[mask])
    assert np.allclose(feats[0], v_win, rtol=1e-12, atol=0, equal_nan=True)


def test_welch_spark_e2e(spark):
    """Welch config through the full Spark plan: rr_t ships with chunks
    only in this mode; staged and fused paths agree."""
    import pandas as pd
    from seizury_hrv_featuresextraction_spark.datagen import make_sequences
    from seizury_hrv_featuresextraction_spark.schemas import SEQUENCES_SCHEMA
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features

    cfg = HRVConfig(use_welch_fallback=True, max_windows_per_chunk=32)
    seq = make_sequences(3, seed=7, short_range=(400, 700), long_range=(800, 900))
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    a = extract_features(sdf, None, cfg).toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    b = extract_features(sdf, None, cfg, fused=True).toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    assert len(a) > 0 and len(a) == len(b)
    full = a[a["n_beats"] >= 9]
    assert len(full) > 0 and np.isfinite(full["TOTAL_POWER"]).all() and (full["TOTAL_POWER"] > 0).all()
    for c in ("TOTAL_POWER", "LF_POWER", "HF_POWER", "SDNN"):
        assert np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=1e-9, atol=1e-12, equal_nan=True), c
