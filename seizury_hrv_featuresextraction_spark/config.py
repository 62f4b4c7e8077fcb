"""Pipeline configuration.

The reference hard-codes these across four files (and disagrees with
itself on the SPH default: 180 s at /root/reference/labelers.py:28 vs
2400 s at /root/reference/data_processing_pipeline.py:577).  The engine
makes every knob an explicit, hashable parameter; fixtures pin the
README defaults (fs=256, window=30 s, stride=5 s, sph=180 s, width=30 s).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class HRVConfig:
    # --- window grid (integer-sample arithmetic, reference
    #     data_processing_pipeline.py:692-713) ---
    sampling_rate: int = 256          # Hz
    window_seconds: float = 30.0
    stride_seconds: float = 5.0

    # --- labeling (reference labelers.py:28-99) ---
    sph_seconds: float = 180.0        # seizure prediction horizon
    label_width_seconds: float = 30.0
    skip_overlap: bool = True

    # --- kernel guards (reference data_processing_pipeline.py:724-728,
    #     hrv_features.py:60-61,116-117,372-377) ---
    min_beats_per_window: int = 5     # below -> all-NaN feature row
    min_beats_time: int = 2
    min_beats_frequency: int = 9
    min_beats_entropy: int = 10

    # --- spectral (reference hrv_features.py:34-46,119-149) ---
    freq_min: float = 0.001
    freq_max: float = 0.5
    n_freqs: int = 1000
    vlf_band: tuple = (0.003, 0.04)
    lf_band: tuple = (0.04, 0.15)
    hf_band: tuple = (0.15, 0.4)
    power_scale: float = 1e6          # seconds^2 -> ms^2
    resampling_rate: float = 4.0      # Welch fallback grid (Hz)
    use_welch_fallback: bool = False  # Lomb-Scargle is the primary path

    # --- entropy (reference hrv_features.py:254-346) ---
    entropy_m: int = 2
    entropy_r: float = 0.2
    entropy_max_beats: int = 4096     # defensive cap on the O(n^2) kernels

    # --- triangular index (engine extension per north_star; standard
    #     HRV definition, 1/128 s bins) ---
    tri_bin_seconds: float = 1.0 / 128.0

    # --- physiologic RR ceiling (reference ecg_processing.py:52-53);
    #     plan_stats' windows-per-doc estimate assumes no token exceeds it ---
    rr_max_seconds: float = 2.0

    # --- physical layer ---
    max_windows_per_chunk: int = 512  # salted split threshold for long docs
    repartition_chunks: bool = True   # to defaultParallelism, one task per slot

    def window_samples(self) -> int:
        return int(self.window_seconds * self.sampling_rate)

    def step_samples(self) -> int:
        return int(self.stride_seconds * self.sampling_rate)

    def config_hash(self) -> str:
        """md5[:8] of the param string (mirrors hrv_pipeline.py:304-310)."""
        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.md5(blob.encode()).hexdigest()[:8]


DEFAULT_CONFIG = HRVConfig()
