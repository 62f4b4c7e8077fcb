"""Vectorized HRV feature kernels (engine side).

These re-implement, with NumPy broadcasting and design-matrix caching, the
per-window statistics of the reference (/root/reference/hrv_features.py).
They are numerically equivalent to — but written independently from — the
loop-based oracle in ``seizury_hrv_featuresextraction_spark.oracle`` that
serves as the np.allclose gate.

Semantics pinned to the reference:
- RR is converted to milliseconds before time-domain stats
  (hrv_features.py:64); spectral features consume RR in *seconds*.
- SDNN/SDSD/RRVar use ddof=1 (hrv_features.py:79-88); the entropy
  tolerance uses the *population* std (hrv_features.py:277).
- NN50 counts strict ``> 50`` ms (hrv_features.py:70).
- Lomb-Scargle runs over beat indices 1..N, freqs linspace(0.001, 0.5,
  1000), normalize=True, powers trapezoid-integrated per band
  (inclusive mask) then scaled by 1e6 (hrv_features.py:119-157).
- SampEn uses the nonstandard correction -log((a/b) * (n-m+2)/(n-m)) and
  an asymmetric pair range (hrv_features.py:284-302); ApEn includes
  self-matches (hrv_features.py:328-346).
- Guards: <2 beats -> zero time features; <9 -> zero frequency features;
  <10 -> zero entropies; the *pipeline* additionally emits all-NaN rows
  for windows with <5 beats (data_processing_pipeline.py:724-728).
- TRI_INDEX is an engine extension (north_star): n / max bin count with
  1/128 s bins anchored at 0.
"""

from __future__ import annotations

import numpy as np

from ..config import HRVConfig
from .spectral import LSDesignCache, cubic_interp, trapz_band_weights, welch_psd

TIME_FEATURES = ["NN50", "pNN50", "RMSSD", "SDNN", "SDSD", "RRMean", "RRMin", "RRMax", "RRVar"]
FREQ_FEATURES = [
    "TOTAL_POWER", "VLF_POWER", "LF_POWER", "HF_POWER",
    "VLF_NORM", "LF_NORM", "HF_NORM", "LF_TO_HF",
]
NONLINEAR_FEATURES = ["SD1", "SD2", "SD1toSD2", "SampEn", "ApEn"]
REFERENCE_FEATURES = TIME_FEATURES + FREQ_FEATURES + NONLINEAR_FEATURES  # the 22
ALL_FEATURES = REFERENCE_FEATURES + ["TRI_INDEX"]  # +1 engine extension
N_FEATURES = len(ALL_FEATURES)

# feature name -> kernel part (see WindowKernel.windows_from_bounds)
_PART_OF = (
    {f: "time" for f in TIME_FEATURES}
    | {f: "freq" for f in FREQ_FEATURES}
    | {f: "poincare" for f in ("SD1", "SD2", "SD1toSD2")}
    | {f: "entropy" for f in ("SampEn", "ApEn")}
    | {"TRI_INDEX": "tri"}
)


def parts_for(features) -> frozenset:
    """Kernel part set needed to produce the named feature columns."""
    return frozenset(_PART_OF[f] for f in features)


# ---------------------------------------------------------------------------
# per-window kernels (each takes rr in seconds)
# ---------------------------------------------------------------------------


def time_features(rr_sec: np.ndarray, out: np.ndarray) -> None:
    """Write the 9 time-domain features into out[0:9]."""
    n = rr_sec.size
    if n < 2:
        out[0:9] = 0.0
        return
    rr = rr_sec * 1000.0
    d = np.diff(rr)
    nn50 = float(np.count_nonzero(np.abs(d) > 50.0))
    out[0] = nn50
    out[1] = nn50 / d.size * 100.0
    out[2] = np.sqrt(np.mean(d * d))
    out[3] = np.std(rr, ddof=1)
    out[4] = np.std(d, ddof=1) if d.size else 0.0
    out[5] = rr.mean()
    out[6] = rr.min()
    out[7] = rr.max()
    out[8] = np.var(rr, ddof=1)


class FrequencyKernel:
    """Lomb-Scargle band powers with cached per-length design matrices."""

    def __init__(self, cfg: HRVConfig):
        self.cfg = cfg
        freqs = np.linspace(cfg.freq_min, cfg.freq_max, cfg.n_freqs)
        self.freqs = freqs
        omega = 2.0 * np.pi * freqs
        self.cache = LSDesignCache(omega)
        self.w_total = trapz_band_weights(freqs, freqs[0], freqs[-1])
        self.w_vlf = trapz_band_weights(freqs, *cfg.vlf_band)
        self.w_lf = trapz_band_weights(freqs, *cfg.lf_band)
        self.w_hf = trapz_band_weights(freqs, *cfg.hf_band)
        # quadratic-form batch design per length n: each band power is
        #   band_b(y) = sum_f w_bf * (YC_f^2/cc_f + YS_f^2/ss_f)
        #             = y^T M_b y,   M_b = C^T diag(w_b/cc) C + S^T diag(w_b/ss) S
        # so the whole n_freqs-point grid collapses into four cached
        # (n, n) matrices: per window 4n^2 MACs instead of 2*n*2F —
        # ~13x fewer FLOPs at the default 1000-point grid (measured 14x,
        # max relative deviation 6e-15, zero round-6 flips; the engine
        # float contract is allclose, never bitwise). The scalar/Welch
        # paths keep the explicit grid design in self.cache.
        self._qf_cache: dict[int, np.ndarray] = {}

    def qf_design(self, n: int) -> np.ndarray:
        """(n, 4n) stack of the four band quadratic-form matrices."""
        m = self._qf_cache.get(n)
        if m is None:
            d = self.cache.get(n)
            parts = []
            for w in (self.w_total, self.w_vlf, self.w_lf, self.w_hf):
                wc = np.where(d.c_ok, w / d.cc, 0.0)
                ws = np.where(d.s_ok, w / d.ss, 0.0)
                parts.append((d.cosv * wc[:, None]).T @ d.cosv + (d.sinv * ws[:, None]).T @ d.sinv)
            if len(self._qf_cache) >= 256:
                self._qf_cache.clear()
            self._qf_cache[n] = m = np.ascontiguousarray(np.concatenate(parts, axis=1))
        return m

    def __call__(self, rr_sec: np.ndarray, rr_t: np.ndarray, out: np.ndarray) -> None:
        """Write the 8 frequency features into out[9:17]."""
        cfg = self.cfg
        if rr_sec.size < cfg.min_beats_frequency:
            out[9:17] = 0.0
            return
        if cfg.use_welch_fallback:
            grid = np.arange(rr_t[0], rr_t[-1], 1.0 / cfg.resampling_rate)
            if grid.size < 10:
                out[9:17] = 0.0
                return
            sig = cubic_interp(rr_t, rr_sec, grid)
            freqs, psd = welch_psd(sig, cfg.resampling_rate, min(256, sig.size // 2))
            w_total = trapz_band_weights(freqs, freqs[0], freqs[-1])
            w_vlf = trapz_band_weights(freqs, *cfg.vlf_band)
            w_lf = trapz_band_weights(freqs, *cfg.lf_band)
            w_hf = trapz_band_weights(freqs, *cfg.hf_band)
        else:
            psd = self.cache.get(rr_sec.size).power(rr_sec)
            w_total, w_vlf, w_lf, w_hf = self.w_total, self.w_vlf, self.w_lf, self.w_hf
        s = cfg.power_scale
        total = max(0.0, float(w_total @ psd)) * s
        vlf = max(0.0, float(w_vlf @ psd)) * s
        lf = max(0.0, float(w_lf @ psd)) * s
        hf = max(0.0, float(w_hf @ psd)) * s
        out[9] = total
        out[10] = vlf
        out[11] = lf
        out[12] = hf
        inv = 100.0 / total if total > 0 else 0.0
        out[13] = vlf * inv
        out[14] = lf * inv
        out[15] = hf * inv
        out[16] = lf / hf if hf > 0 else 0.0


def poincare_features(rr_sec: np.ndarray, out: np.ndarray) -> None:
    """Write SD1/SD2/SD1toSD2 into out[17:20]."""
    if rr_sec.size < 2:
        out[17:20] = 0.0
        return
    rr = rr_sec * 1000.0
    diff = rr[:-1] - rr[1:]
    summ = rr[:-1] + rr[1:]
    sd1 = np.std(diff, ddof=1) / np.sqrt(2.0)
    sd2 = np.std(summ, ddof=1) / np.sqrt(2.0)
    out[17] = sd1
    out[18] = sd2
    out[19] = sd1 / sd2 if sd2 > 0 else 0.0


def _chebyshev_pairs(z: np.ndarray, m: int) -> np.ndarray:
    """All-pairs Chebyshev distance matrix between length-m templates of z.

    Returns D with shape (K, K), K = len(z) - m + 1, D[i, j] =
    max_k |z[i+k] - z[j+k]|.  Vectorized over the pair axes; windows hold
    a few dozen beats so K^2 stays tiny.
    """
    k = z.size - m + 1
    emb = np.lib.stride_tricks.sliding_window_view(z, m)  # (K, m)
    return np.abs(emb[:, None, :] - emb[None, :, :]).max(axis=2)


def sample_entropy(rr_sec: np.ndarray, m: int = 2, r_tol: float = 0.2) -> float:
    """Reference-parity SampEn (vectorized).

    b counts pairs i<j over template starts 0..n-m (Chebyshev(m) <= r);
    a additionally requires j <= n-m-1 and Chebyshev(m+1) <= r; the final
    value is -log((a/b) * (n-m+2)/(n-m)) — the reference's exact
    (nonstandard) correction, hrv_features.py:284-302.
    """
    n = rr_sec.size
    if n < m + 1:
        return 0.0
    sd = np.std(rr_sec)
    if sd == 0.0:
        return 0.0
    z = (rr_sec - rr_sec.mean()) / sd
    r = r_tol * sd
    d_m = _chebyshev_pairs(z, m)  # (n-m+1, n-m+1)
    iu = np.triu_indices(n - m + 1, k=1)
    match_m = d_m[iu] <= r
    b = int(np.count_nonzero(match_m))
    # a: pairs with j <= n-m-1 (both m+1 templates exist)
    d_m1 = _chebyshev_pairs(z, m + 1)  # (n-m, n-m)
    iu1 = np.triu_indices(n - m, k=1)
    # match on BOTH lengths (m+1 match implies m match except the reference
    # nests the check — equivalent since Chebyshev(m+1) >= Chebyshev(m))
    a = int(np.count_nonzero((d_m1[iu1] <= r) & (d_m[: n - m, : n - m][iu1] <= r)))
    if a == 0 or b == 0:
        return 0.0
    return float(-np.log((a / b) * ((n - m + 2) / (n - m))))


def approximate_entropy(rr_sec: np.ndarray, m: int = 2, r_tol: float = 0.2) -> float:
    """Reference-parity ApEn (vectorized; self-matches included)."""
    n = rr_sec.size
    if n < m + 1:
        return 0.0
    sd = np.std(rr_sec)
    if sd == 0.0:
        return 0.0
    z = (rr_sec - rr_sec.mean()) / sd
    r = r_tol * sd

    def phi(mm: int) -> float:
        k = n - mm + 1
        d = _chebyshev_pairs(z, mm)
        counts = (d <= r).sum(axis=1)  # includes self-match
        nz = counts > 0
        return float(np.log(counts[nz] / k).sum() / k)

    return phi(m) - phi(m + 1)


def _neighbour_pairs(Z: np.ndarray, r: np.ndarray, rows: np.ndarray):
    """Yield batches (g, i, j) of every pair of positions i != j of row g
    of Z with ``|Z[g, i] - Z[g, j]| <= r[g]``, over the given rows, each
    pair once.

    Each row is sorted once. ``fl(x - y)`` is monotone in x, so along a
    sorted row the pairs (a, a + d) that match form a prefix in d: a row
    leaves the scan at its first lag d without a hit, and the scan ends
    when no row is left. A batch is yielded once it holds Z.size pairs,
    so memory stays O(Z.size).
    """
    Zr = Z[rows]
    order = np.argsort(Zr, axis=1)
    S = np.take_along_axis(Zr, order, axis=1)
    rs = r[rows, None]
    n = Z.shape[1]
    batch, held = [], 0
    for d in range(1, n):
        q = np.flatnonzero(S[:, d:] - S[:, :-d] <= rs)
        if not q.size:
            break
        w = q // (n - d)
        at = q + w * d  # flat position of (w, a) in the (rows, n) arrays
        of = order.ravel()
        batch.append((rows[w], of[at], of[at + d]))
        held += q.size
        if held >= Z.size:
            yield tuple(map(np.concatenate, zip(*batch)))
            batch, held = [], 0
        live = np.zeros(rows.size, dtype=bool)
        live[w] = True
        if not live.all():
            rows, order, S, rs = rows[live], order[live], S[live], rs[live]
    if batch:
        yield tuple(map(np.concatenate, zip(*batch)))


def _template_match_counts(
    Z: np.ndarray, r: np.ndarray, ok: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """(C2, C3), (kb, K) and (kb, K-1) int64: per template start, how
    many length-m (resp. m+1) templates lie within Chebyshev distance
    ``r`` of it, self-match included — the row sums of the lag-AND
    ``|z_i - z_j| <= r`` tables, counted from sorted-neighbour pairs.

    Only rows with ``ok`` are scanned (a constant row would match every
    pair); the others keep their diagonal count and must be masked by
    the caller.
    """
    kb, n = Z.shape
    K = n - m + 1
    zf = Z.ravel()
    c2 = np.zeros(kb * K, dtype=np.int64)
    c3 = np.zeros(kb * (K - 1), dtype=np.int64)
    for g, i, j in _neighbour_pairs(Z, r, np.flatnonzero(ok)):
        # a pair of length-m templates: both starts < K, lags 1..m-1 match
        keep = (i < K) & (j < K)
        g, i, j = g[keep], i[keep], j[keep]
        for t in range(1, m):
            keep = np.abs(zf[g * n + i + t] - zf[g * n + j + t]) <= r[g]
            g, i, j = g[keep], i[keep], j[keep]
        c2 += np.bincount(np.concatenate((g * K + i, g * K + j)), minlength=c2.size)
        # ... and of length m+1: both starts < K-1, lag m matches too
        keep = (i < K - 1) & (j < K - 1)
        g, i, j = g[keep], i[keep], j[keep]
        keep = np.abs(zf[g * n + i + m] - zf[g * n + j + m]) <= r[g]
        g, i, j = g[keep], i[keep], j[keep]
        c3 += np.bincount(np.concatenate((g * (K - 1) + i, g * (K - 1) + j)), minlength=c3.size)
    # the diagonal, by the same expression as every other pair
    E = np.abs(Z - Z) <= r[:, None]
    diag = E[:, :K]
    for t in range(1, m):
        diag = diag & E[:, t : t + K]
    C2 = c2.reshape(kb, K) + diag
    C3 = c3.reshape(kb, K - 1) + (diag[:, : K - 1] & E[:, m : m + K - 1])
    return C2, C3


def batch_entropies(
    Y: np.ndarray, m: int = 2, r_tol: float = 0.2, block: int = 512
) -> tuple[np.ndarray, np.ndarray]:
    """SampEn + ApEn for a (k, n) batch of same-length windows.

    Bit-identical to the scalar kernels by construction. A template pair
    matches when ``|z_i - z_j| <= r`` holds at every lag; candidates come
    from a scan of each sorted row (``_neighbour_pairs``) and each is then
    checked at the other lags with that same expression. Float
    subtraction is monotone, so the scan finds exactly the pairs with
    ``fl(|z_i - z_j|) <= r``: every pair is decided by the float
    operation the scalar kernels use, for any float input, ties included.
    The integer match counts are therefore equal, and so is every formula
    applied after them. The reference keeps ``r`` in seconds while it
    compares z-scores, so at an sd of 100 ms only pairs within ~2 ms
    match, a percent or two: a dense (n, n) table would be nearly all
    misses.

    Memory is O(block * n): no (block, n, n) table is built (64 windows
    of 4096 beats made that table 8.6 GB). ``block`` only bounds the
    working set; the outputs do not depend on it.
    """
    k, n = Y.shape
    out_s = np.zeros(k)
    out_a = np.zeros(k)
    if n < m + 1:
        return out_s, out_a
    K = n - m + 1
    corr = (n - m + 2) / (n - m)
    for lo in range(0, k, block):
        Yb = Y[lo : lo + block]
        kb = Yb.shape[0]
        sd = Yb.std(axis=1)
        ok = sd > 0
        Z = (Yb - Yb.mean(axis=1, keepdims=True)) / np.where(sd == 0, 1.0, sd)[:, None]
        r = r_tol * sd
        C2, C3 = _template_match_counts(Z, r, ok, m)
        # every match count is symmetric with its self-match on the
        # diagonal, so the SampEn pair counts i<j are (row-sum total - K)/2;
        # Chebyshev(m+1) >= Chebyshev(m) keeps a nested in b
        with np.errstate(divide="ignore", invalid="ignore"):
            phi_m = np.where(C2 > 0, np.log(C2 / K), 0.0).sum(axis=1) / K
            phi_m1 = np.where(C3 > 0, np.log(C3 / (K - 1)), 0.0).sum(axis=1) / (K - 1)
        b = (C2.sum(axis=1) - K) >> 1
        a = (C3.sum(axis=1) - (K - 1)) >> 1
        pos = (a > 0) & (b > 0) & ok
        se = np.zeros(kb)
        se[pos] = -np.log((a[pos] / b[pos]) * corr)
        out_s[lo : lo + block] = se
        out_a[lo : lo + block] = np.where(ok, phi_m - phi_m1, 0.0)
    return out_s, out_a


def batch_triangular_index(Y: np.ndarray, bin_seconds: float) -> np.ndarray:
    """Vectorized n / max-bin-count via per-row sort + max run length."""
    k, n = Y.shape
    B = np.floor(Y / bin_seconds).astype(np.int64)
    S = np.sort(B, axis=1)
    idx = np.arange(n)
    newgrp = np.concatenate([np.ones((k, 1), bool), S[:, 1:] != S[:, :-1]], axis=1)
    start_idx = np.maximum.accumulate(np.where(newgrp, idx[None, :], 0), axis=1)
    maxrun = (idx[None, :] - start_idx + 1).max(axis=1)
    return n / maxrun.astype(np.float64)


def triangular_index(rr_sec: np.ndarray, bin_seconds: float) -> float:
    """n / max histogram count, bins = floor(rr / bin) anchored at 0."""
    if rr_sec.size == 0:
        return 0.0
    bins = np.floor(rr_sec / bin_seconds).astype(np.int64)
    _, counts = np.unique(bins, return_counts=True)
    return float(rr_sec.size) / float(counts.max())


# ---------------------------------------------------------------------------
# full per-window vector + batched window kernel
# ---------------------------------------------------------------------------


class WindowKernel:
    """Computes the 23-feature vector for one window's RR slice."""

    def __init__(self, cfg: HRVConfig):
        self.cfg = cfg
        self.freq_kernel = FrequencyKernel(cfg)

    def feature_vector(self, rr_sec: np.ndarray, rr_t: np.ndarray) -> np.ndarray:
        cfg = self.cfg
        out = np.empty(N_FEATURES, dtype=np.float64)
        if rr_sec.size < cfg.min_beats_per_window:
            out[:] = np.nan
            return out
        time_features(rr_sec, out)
        self.freq_kernel(rr_sec, rr_t, out)
        poincare_features(rr_sec, out)
        if rr_sec.size >= cfg.min_beats_entropy:
            rr_e = rr_sec[: cfg.entropy_max_beats]
            out[20] = sample_entropy(rr_e, cfg.entropy_m, cfg.entropy_r)
            out[21] = approximate_entropy(rr_e, cfg.entropy_m, cfg.entropy_r)
        else:
            out[20] = 0.0
            out[21] = 0.0
        out[22] = triangular_index(rr_sec, cfg.tri_bin_seconds)
        return out

    ALL_PARTS = frozenset({"time", "freq", "poincare", "entropy", "tri"})

    def windows_from_bounds(
        self,
        rr_sec: np.ndarray,
        lo_idx: np.ndarray,
        hi_idx: np.ndarray,
        rr_t: np.ndarray | None = None,
        parts: frozenset | None = None,
    ) -> np.ndarray:
        """Features for windows given precomputed [lo, hi) beat bounds
        (the shuffle-thin path: bounds travel as int32 pairs instead of
        the rr_t array). ``rr_t`` is required only for the Welch
        fallback. ``parts`` restricts computation to the named feature
        groups (guide §4.1 — a consumer that only reads the time-domain
        columns should not pay for the spectral GEMM or the entropy
        match counts); skipped groups stay NaN and must not be read.

        Windows are batched BY BEAT COUNT: all windows with n beats share
        one (k, n) matrix, so the per-window kernels become row-wise array
        ops and the Lomb-Scargle becomes one (k, n) x (n, n_freq) GEMM per
        group instead of one mat-vec per window."""
        cfg = self.cfg
        if parts is None:
            parts = self.ALL_PARTS
        n_win = len(lo_idx)
        lens = hi_idx - lo_idx
        feats = np.full((n_win, N_FEATURES), np.nan, dtype=np.float64)

        for n in np.unique(lens):
            rows = np.flatnonzero(lens == n)
            if n < cfg.min_beats_per_window:
                continue  # all-NaN rows (data_processing_pipeline.py:724-728)
            Y = rr_sec[lo_idx[rows][:, None] + np.arange(n)[None, :]]  # (k, n)
            if "time" in parts:
                self._batch_time(Y, feats, rows)
            if "freq" in parts:
                self._batch_freq(Y, feats, rows, rr_t=rr_t, lo_idx=lo_idx[rows])
            if "poincare" in parts:
                self._batch_poincare(Y, feats, rows)
            if "entropy" in parts:
                if n >= cfg.min_beats_entropy:
                    se, ae = batch_entropies(
                        Y[:, : cfg.entropy_max_beats], cfg.entropy_m, cfg.entropy_r
                    )
                    feats[rows, 20] = se
                    feats[rows, 21] = ae
                else:
                    feats[rows, 20] = 0.0
                    feats[rows, 21] = 0.0
            if "tri" in parts:
                feats[rows, 22] = batch_triangular_index(Y, cfg.tri_bin_seconds)
        return feats

    def _batch_time(self, Y: np.ndarray, feats: np.ndarray, rows: np.ndarray) -> None:
        n = Y.shape[1]
        if n < 2:
            feats[rows, 0:9] = 0.0
            return
        ms = Y * 1000.0
        d = np.diff(ms, axis=1)
        nn50 = np.count_nonzero(np.abs(d) > 50.0, axis=1).astype(np.float64)
        feats[rows, 0] = nn50
        feats[rows, 1] = nn50 / d.shape[1] * 100.0
        feats[rows, 2] = np.sqrt(np.mean(d * d, axis=1))
        feats[rows, 3] = np.std(ms, axis=1, ddof=1)
        feats[rows, 4] = np.std(d, axis=1, ddof=1) if d.shape[1] else 0.0
        feats[rows, 5] = ms.mean(axis=1)
        feats[rows, 6] = ms.min(axis=1)
        feats[rows, 7] = ms.max(axis=1)
        feats[rows, 8] = np.var(ms, axis=1, ddof=1)

    def _batch_freq(
        self,
        Y: np.ndarray,
        feats: np.ndarray,
        rows: np.ndarray,
        rr_t: np.ndarray | None = None,
        lo_idx: np.ndarray | None = None,
    ) -> None:
        cfg = self.cfg
        n = Y.shape[1]
        if n < cfg.min_beats_frequency:
            feats[rows, 9:17] = 0.0
            return
        if cfg.use_welch_fallback:
            # fallback path needs per-window ABSOLUTE times; route through
            # the scalar kernel (exercised only when explicitly configured)
            if rr_t is None:
                raise ValueError("use_welch_fallback requires rr_t")
            out = np.empty(N_FEATURES)
            for j, r in enumerate(rows):
                t = rr_t[lo_idx[j] : lo_idx[j] + n]
                self.freq_kernel(Y[j], t, out)
                feats[r, 9:17] = out[9:17]
            return
        m = self.freq_kernel.qf_design(n)
        s = cfg.power_scale
        k = Y.shape[0]
        # band_b = max(0, (y^T M_b y) * 2/(y.y)) * s, all four quadratic
        # forms from ONE (k, n) @ (n, 4n) GEMM + four row-dot einsums —
        # the n_freqs grid never materializes in the batch path.
        t4 = Y @ m  # (k, 4n)
        qf = np.empty((k, 4))
        for b in range(4):
            qf[:, b] = np.einsum("ij,ij->i", t4[:, b * n : (b + 1) * n], Y)
        inv_yy = 1.0 / np.einsum("ij,ij->i", Y, Y)
        band = np.maximum(0.0, qf * inv_yy[:, None]) * s
        total = band[:, 0]
        vlf = band[:, 1]
        lf = band[:, 2]
        hf = band[:, 3]
        feats[rows, 9] = total
        feats[rows, 10] = vlf
        feats[rows, 11] = lf
        feats[rows, 12] = hf
        inv = np.where(total > 0, 100.0 / np.where(total > 0, total, 1.0), 0.0)
        feats[rows, 13] = vlf * inv
        feats[rows, 14] = lf * inv
        feats[rows, 15] = hf * inv
        feats[rows, 16] = np.where(hf > 0, lf / np.where(hf > 0, hf, 1.0), 0.0)

    def _batch_poincare(self, Y: np.ndarray, feats: np.ndarray, rows: np.ndarray) -> None:
        if Y.shape[1] < 2:
            feats[rows, 17:20] = 0.0
            return
        ms = Y * 1000.0
        diff = ms[:, :-1] - ms[:, 1:]
        summ = ms[:, :-1] + ms[:, 1:]
        sd1 = np.std(diff, axis=1, ddof=1) / np.sqrt(2.0)
        sd2 = np.std(summ, axis=1, ddof=1) / np.sqrt(2.0)
        feats[rows, 17] = sd1
        feats[rows, 18] = sd2
        feats[rows, 19] = np.where(sd2 > 0, sd1 / np.where(sd2 > 0, sd2, 1.0), 0.0)
