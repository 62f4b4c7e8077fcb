"""Property-based tests (hypothesis): operator semantics vs pandas/NumPy
references on randomized inputs — the robustness layer SURVEY.md §5 notes
the reference lacks entirely.

One shared Spark session; small deadline-free profiles because each
example round-trips through the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from seizury_hrv_featuresextraction_spark.operators.asof import asof_join
from seizury_hrv_featuresextraction_spark.operators.windows import sessionize
from seizury_hrv_featuresextraction_spark.functions.hrv import WindowKernel, ALL_FEATURES
from seizury_hrv_featuresextraction_spark.oracle import oracle_feature_row
from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ts_lists = st.lists(
    st.floats(min_value=0.0, max_value=1e4, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=40,
)


@given(left_ts=ts_lists, right_ts=ts_lists)
@SETTINGS
def test_asof_backward_matches_merge_asof(spark, left_ts, right_ts):
    left = pd.DataFrame({"k": "a", "ts": sorted(set(left_ts))})
    right = pd.DataFrame({"k": "a", "ts": sorted(set(right_ts))})
    right["rv"] = np.arange(len(right), dtype=float)
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="ts", by="k", value_cols=["rv"], direction="backward",
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(left.sort_values("ts"), right[["ts", "rv"]].sort_values("ts"), on="ts").reset_index(drop=True)
    pd.testing.assert_series_equal(got["rv"], exp["rv"], check_names=False)


@given(
    ts=st.lists(
        st.floats(min_value=0.0, max_value=1e4, allow_nan=False, allow_infinity=False),
        min_size=1, max_size=50,
    ),
    gap=st.floats(min_value=0.5, max_value=500.0),
)
@SETTINGS
def test_sessionize_matches_pandas(spark, ts, gap):
    pdf = pd.DataFrame({"k": "x", "ts": sorted(set(ts))})
    got = (
        sessionize(spark.createDataFrame(pdf), "ts", "k", gap=gap)
        .toPandas()
        .sort_values("ts")["session_id"]
        .to_numpy()
    )
    t = pdf["ts"].to_numpy()
    exp = np.concatenate([[0], np.cumsum(np.diff(t) > gap)])
    assert (got == exp).all()


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=5, max_value=60),
)
@SETTINGS
def test_kernel_matches_oracle_on_random_series(seed, n):
    rng = np.random.default_rng(seed)
    rr = np.clip(0.8 + 0.25 * rng.standard_normal(n), 0.2, 2.0)
    t = np.cumsum(rr)
    kern = WindowKernel(DEFAULT_CONFIG)
    got = kern.feature_vector(rr, t)
    exp = np.array([oracle_feature_row(rr, t, DEFAULT_CONFIG)[f] for f in ALL_FEATURES])
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


# --- the integer window grid vs the oracle's per-window mask ------------

# whole-second beats put many beats exactly on window starts and ends
# (every 5 s at both rates); 0 ms beats stack several on one boundary
grid_tokens = st.one_of(
    st.lists(st.sampled_from([0, 1000, 2500, 5000]), max_size=60),
    st.lists(st.integers(min_value=0, max_value=2000), max_size=120),
)


@given(toks=grid_tokens, fs=st.sampled_from([256, 100]), cut=st.floats(min_value=0.0, max_value=1.0))
@example(toks=[5000] * 12, fs=256, cut=0.5)
@example(toks=[800] * 30, fs=256, cut=1.0)
@settings(max_examples=300, deadline=None)
def test_grid_bounds_match_oracle_mask(toks, fs, cut):
    """``grid.window_bounds`` gives the oracle's window count and, per
    window, exactly the beats of its ``start <= t <= end`` mask; cutting
    the slice at ``first_needed_beat`` with its carried ms offset (the
    stream's tail rule) gives the same bounds for every later window."""
    from seizury_hrv_featuresextraction_spark import grid
    from seizury_hrv_featuresextraction_spark.config import HRVConfig
    from seizury_hrv_featuresextraction_spark.oracle import n_samples_for, window_grid

    cfg = HRVConfig(sampling_rate=fs)
    tok = np.asarray(toks, dtype=np.int64)
    t_ms = np.cumsum(tok)
    ids, lo, hi = grid.window_bounds(t_ms, 0, cfg)
    exp = window_grid(n_samples_for(int(tok.sum()), cfg), cfg)
    assert ids.tolist() == [w[0] for w in exp]
    t_scaled = t_ms * fs
    for (_, start, _, end), a, b in zip(exp, lo, hi):
        mask = (t_scaled >= start * 1000) & (t_scaled <= end * 1000)
        assert np.flatnonzero(mask).tolist() == list(range(a, b))
        assert a == np.count_nonzero(t_scaled < start * 1000)

    # stream tail: the beats seen so far finish next_win windows; keep
    # from the first beat a later window can need, carry the offset
    k = int(cut * len(tok))
    next_win = len(grid.window_bounds(t_ms[:k], 0, cfg)[0])
    drop = grid.first_needed_beat(t_ms[:k], next_win, cfg)
    off_ms = int(t_ms[drop - 1]) if drop else 0
    ids2, lo2, hi2 = grid.window_bounds(off_ms + np.cumsum(tok[drop:]), next_win, cfg)
    assert ids2.tolist() == ids[next_win:].tolist()
    assert (lo2 + drop).tolist() == lo[next_win:].tolist()
    assert (hi2 + drop).tolist() == hi[next_win:].tolist()


# --- streaming flagship chunk-boundary invariance (E18) ----------------

tok_lists = st.lists(st.integers(min_value=400, max_value=1499), min_size=60, max_size=400)
cut_fracs = st.lists(st.floats(min_value=0.02, max_value=0.98), min_size=1, max_size=6)


@given(toks=tok_lists, cuts=cut_fracs)
@SETTINGS
def test_streaming_hrv_chunking_invariant(spark, toks, cuts):
    """However a doc's token stream is cut into ordered chunks, the
    streaming operator's (batch-path) output equals the whole-doc batch
    kernel — window ids, beat counts and every feature (allclose)."""
    import numpy as np
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.config import HRVConfig
    from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features
    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import (
        streaming_hrv_features,
    )

    cfg = HRVConfig(n_freqs=16)
    bounds = sorted({max(1, min(len(toks) - 1, int(f * len(toks)))) for f in cuts})
    pieces = np.split(np.asarray(toks, dtype=np.int64), bounds)
    chunks = pd.DataFrame(
        {
            "doc_id": "d0",
            "chunk_idx": range(len(pieces)),
            "tokens": [[int(x) for x in p] for p in pieces],
        }
    )
    got = (
        streaming_hrv_features(
            spark.createDataFrame(chunks, "doc_id string, chunk_idx int, tokens array<int>"),
            cfg,
        )
        .toPandas()
        .sort_values("window_id")
        .reset_index(drop=True)
    )
    seq = pd.DataFrame({"doc_id": ["d0"], "tokens": [list(toks)], "n_tok": [len(toks)], "source": ["t"]})
    exp = (
        extract_features(spark.createDataFrame(seq), None, cfg)
        .select("window_id", "n_beats", *ALL_FEATURES)
        .toPandas()
        .sort_values("window_id")
        .reset_index(drop=True)
    )
    assert got["window_id"].tolist() == exp["window_id"].tolist()
    assert got["n_beats"].tolist() == exp["n_beats"].tolist()
    for name in ALL_FEATURES:
        assert np.allclose(
            got[name].to_numpy(float), exp[name].to_numpy(float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        ), name


# --- streaming flagship cross-microbatch reorder invariance (r4) -------


@given(
    toks=tok_lists,
    cuts=cut_fracs,
    perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_batches=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_streaming_hrv_reorder_invariant(toks, cuts, perm_seed, n_batches):
    """VERDICT r3 item 4 (property form): deliver a doc's chunks in an
    ARBITRARY permutation, partitioned arbitrarily into microbatches —
    the drained output must equal strictly in-order delivery: window ids
    and beat counts exactly, features allclose (the batch partition
    changes the kernel's GEMM shapes, and BLAS results shift ~1 ulp with
    shape/alignment — the engine contract is allclose, never bitwise)."""
    from seizury_hrv_featuresextraction_spark.config import HRVConfig
    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import (
        STREAM_FEATURES_SCHEMA,
        make_hrv_stream_fn,
    )

    cfg = HRVConfig(n_freqs=16)
    bounds = sorted({max(1, min(len(toks) - 1, int(f * len(toks)))) for f in cuts})
    pieces = [p for p in np.split(np.asarray(toks, dtype=np.int64), bounds)]
    chunks = [("d0", ci, [int(x) for x in p]) for ci, p in enumerate(pieces)]

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def drive(deliveries):
        fn = make_hrv_stream_fn(cfg)
        state = FakeState()
        outs = []
        for batch in deliveries:
            pdf = pd.DataFrame(batch, columns=["doc_id", "chunk_idx", "tokens"])
            outs.extend(fn(("d0",), iter([pdf]), state))
        # a doc shorter than one window yields no frame at all
        out = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
            columns=[f.name for f in STREAM_FEATURES_SCHEMA.fields]
        )
        return out.sort_values("window_id").reset_index(drop=True), state

    expected, _ = drive([chunks])  # everything in order, one batch

    rng = np.random.default_rng(perm_seed)
    order = rng.permutation(len(chunks))
    splits = sorted(rng.integers(0, len(chunks), size=n_batches - 1).tolist()) if n_batches > 1 else []
    shuffled = [chunks[i] for i in order]
    deliveries, lo = [], 0
    for s in splits + [len(chunks)]:
        deliveries.append(shuffled[lo:s])
        lo = s
    got, state = drive(deliveries)

    assert got["window_id"].tolist() == expected["window_id"].tolist()
    assert got["n_beats"].tolist() == expected["n_beats"].tolist()
    for name in ALL_FEATURES:
        a = got[name].to_numpy(float)
        b = expected[name].to_numpy(float)
        assert np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True), name
    # all chunks consumed: nothing left pending, same resume point
    buf, off_ms, next_win, next_chunk, pend_idx, pend_toks, gap_age, truncated = state._v
    assert next_chunk == len(chunks)
    assert not pend_idx


words_strategy = st.lists(
    st.sampled_from(["a", "b", "c", "dog", "cat", "xyz", "q"]),
    min_size=0,
    max_size=60,
)


@given(ws=st.lists(words_strategy, min_size=1, max_size=6))
@SETTINGS
def test_repetition_stats_match_python_reference(spark, ws):
    """E25 single-pass sorted-run aggregates vs a direct Counter-based
    reference, on randomized small vocab word lists (heavy duplication —
    the regime where the run-length formulation can go wrong)."""
    from collections import Counter

    from seizury_hrv_featuresextraction_spark.operators.curation import repetition_stats

    pdf = pd.DataFrame({"doc_id": range(len(ws)), "text": [" ".join(w) for w in ws]})
    got = {
        r["doc_id"]: r
        for r in repetition_stats(spark.createDataFrame(pdf))
        .select("doc_id", "n_words", "dup_word_frac", "top_word_frac", "dup_2gram_frac")
        .collect()
    }
    for i, w in enumerate(ws):
        n = len(w)
        grams = [" ".join(w[j : j + 2]) for j in range(n - 1)]
        exp_dup = (n - len(set(w))) / n if n else 0.0
        exp_top = max(Counter(w).values()) / n if n else 0.0
        exp_g = (len(grams) - len(set(grams))) / len(grams) if grams else 0.0
        assert got[i]["n_words"] == n
        assert abs(got[i]["dup_word_frac"] - exp_dup) < 1e-12, (w, got[i])
        assert abs(got[i]["top_word_frac"] - exp_top) < 1e-12, (w, got[i])
        assert abs(got[i]["dup_2gram_frac"] - exp_g) < 1e-12, (w, got[i])


@given(
    train=st.lists(st.lists(st.integers(0, 5), min_size=0, max_size=25), min_size=1, max_size=5),
    ev=st.lists(st.lists(st.integers(0, 5), min_size=0, max_size=25), min_size=1, max_size=3),
    n=st.integers(2, 4),
)
@SETTINGS
def test_decontaminate_matches_python_reference(spark, train, ev, n):
    """E28 broadcast shingle join vs a set-based reference (tiny token
    vocab so overlaps actually occur)."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        decontaminate_overlap,
    )

    tdf = spark.createDataFrame(
        [(f"t{i}", toks) for i, toks in enumerate(train)], "doc_id string, tokens array<int>"
    )
    edf = spark.createDataFrame(
        [(f"e{i}", toks) for i, toks in enumerate(ev)], "doc_id string, tokens array<int>"
    )
    got = {r["doc_id"]: r["n_overlap"] for r in decontaminate_overlap(tdf, edf, n=n).collect()}

    def sh(toks):
        return {"-".join(map(str, toks[j : j + n])) for j in range(len(toks) - n + 1)}

    eset = set().union(*(sh(t) for t in ev)) if ev else set()
    exp = {}
    for i, toks in enumerate(train):
        k = len(sh(toks) & eset)
        if k:
            exp[f"t{i}"] = k
    assert got == exp, (got, exp)


@given(
    texts=st.lists(
        st.text(alphabet=" abcXYZ\t", min_size=0, max_size=30), min_size=1, max_size=5
    )
)
@SETTINGS
def test_tokenize_detokenize_roundtrip_property(spark, texts):
    """E34: detokenize(tokenize(x)) == the normalized word join, for
    arbitrary text incl. mixed case, repeated/odd whitespace and empty
    strings (empty docs produce no row on either side)."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        build_vocab,
        detokenize,
        tokenize,
    )

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    vocab = build_vocab(df)
    rt = {
        r["doc_id"]: r["text_rt"]
        for r in detokenize(tokenize(df, vocab), vocab).collect()
    }
    for i, t in enumerate(texts):
        expected = " ".join(t.lower().split())
        if expected:
            assert rt[i] == expected, (t, rt.get(i))
        else:
            assert i not in rt


def test_batch_entropies_bitwise_matches_scalar_kernels():
    """r9: the boolean lag-AND batch entropy counter (diagonal-shifted
    views of one |zi-zj| <= r table; SampEn pair counts derived from the
    symmetric ApEn row counts) must be BIT-IDENTICAL to the scalar
    kernels — integer match counts admit no tolerance."""
    import numpy as np

    from seizury_hrv_featuresextraction_spark.functions.hrv import (
        approximate_entropy,
        batch_entropies,
        sample_entropy,
    )

    rng = np.random.default_rng(7)
    for n in (10, 11, 15, 37, 60):
        Y = 0.8 + 0.25 * rng.standard_normal((200, n))
        Y[3] = 0.7  # sd == 0 row must yield 0.0 entropies
        se, ae = batch_entropies(Y)
        assert np.array_equal(se, np.array([sample_entropy(y) for y in Y])), n
        assert np.array_equal(ae, np.array([approximate_entropy(y) for y in Y])), n


@st.composite
def entropy_batches(draw):
    """(Y, m, r_tol, block): a (k, n) batch of integer-ms, arbitrary
    float or heavily tied rows, some of them constant, with r_tol fixed,
    or set from a real pair gap so that comparisons sit exactly on r."""
    m = draw(st.sampled_from([1, 2, 3]))
    n = draw(st.integers(m + 1, 300))
    k = draw(st.integers(1, 9))
    kind = draw(st.sampled_from(["int_ms", "float", "ties"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    if kind == "int_ms":
        sd_ms = draw(st.sampled_from([20, 100, 250]))
        Y = np.rint(np.clip(800 + sd_ms * rng.standard_normal((k, n)), 300, 2000)) / 1000.0
    elif kind == "float":
        Y = rng.standard_normal((k, n)) * draw(st.sampled_from([1e-3, 1.0, 1e3]))
    else:
        vals = draw(st.lists(st.floats(-10, 10), min_size=2, max_size=3, unique=True))
        Y = rng.choice(vals, size=(k, n))
    for g in draw(st.lists(st.integers(0, k - 1), max_size=2)):
        Y[g] = Y[g, 0]
    mode = draw(st.sampled_from(["fixed", "gap"]))
    if mode == "fixed":
        r_tol = draw(st.sampled_from([0.0, 0.2, 1.0]))
    else:
        y = Y[draw(st.integers(0, k - 1))]
        i, j = draw(st.lists(st.integers(0, n - 1), min_size=2, max_size=2, unique=True))
        sd = np.std(y) or 1.0
        z = (y - y.mean()) / sd
        r_tol = abs(z[i] - z[j]) / sd
        step = draw(st.sampled_from([-1, 0, 1]))
        if step:
            r_tol = np.nextafter(r_tol, step * np.inf)
    block = draw(st.sampled_from([1, 4, 512]))
    return Y, m, float(r_tol), block


@given(batch=entropy_batches())
@settings(max_examples=80, deadline=None)
def test_sorted_neighbour_entropies_bitwise_match_scalar(batch):
    """The sorted-neighbour match counter behind batch_entropies is exact
    for any float rows: ties, constant rows, m in {1, 2, 3}, r_tol 0, and
    pair gaps that sit exactly on r, across block boundaries."""
    from seizury_hrv_featuresextraction_spark.functions.hrv import (
        approximate_entropy,
        batch_entropies,
        sample_entropy,
    )

    Y, m, r_tol, block = batch
    se, ae = batch_entropies(Y, m, r_tol, block=block)
    assert np.array_equal(se, [sample_entropy(y, m, r_tol) for y in Y])
    assert np.array_equal(ae, [approximate_entropy(y, m, r_tol) for y in Y])


def test_batch_entropies_memory_is_linear_in_window_length():
    """64 windows of entropy_max_beats (4096) beats: the dense (64, n, n)
    float64 |z_i - z_j| table was 8.6 GB; the sorted-neighbour counter
    peaks at tens of MB, and stays exact at that length. The scalar
    references it is checked against stay bounded too."""
    import tracemalloc

    from seizury_hrv_featuresextraction_spark.functions.hrv import (
        approximate_entropy,
        batch_entropies,
        sample_entropy,
    )

    rng = np.random.default_rng(3)
    Y = np.rint(800 + 100 * rng.standard_normal((64, 4096))) / 1000.0
    tracemalloc.start()
    try:
        se, ae = batch_entropies(Y)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 4096**2 * 8 / 32, peak
    assert (se > 0).all() and (ae > 0).all()
    for g in (0, 63):
        # the scalar reference works in row blocks: one 4096-beat call
        # peaks at tens of MB, where its (K, K, m) broadcast took ~1.1 GB
        tracemalloc.start()
        try:
            se_g = sample_entropy(Y[g])
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 64 * 2**20, peak
        assert se[g] == se_g and ae[g] == approximate_entropy(Y[g]), g


def test_batch_freq_quadform_allclose_to_scalar_grid():
    """r9: the quadratic-form batch band powers (y^T M_b y with cached
    (n, n) matrices) vs the scalar explicit-grid Lomb-Scargle path —
    allclose at the engine contract (rtol 1e-9) and identical after the
    cross-engine round-6, at BOTH the default 1000-point grid and the
    oracle-twin 12-point grid."""
    import numpy as np

    from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG, HRVConfig
    from seizury_hrv_featuresextraction_spark.functions.hrv import WindowKernel

    rng = np.random.default_rng(11)
    for cfg in (DEFAULT_CONFIG, HRVConfig(freq_min=0.003, freq_max=0.4, n_freqs=12)):
        k = WindowKernel(cfg)
        for n in (9, 12, 37):
            Y = 0.4 + 1.1 * rng.random((300, n))
            feats = np.full((300, 23), np.nan)
            k._batch_freq(Y, feats, np.arange(300))
            out = np.empty(23)
            ref = np.empty((300, 8))
            for i in range(300):
                k.freq_kernel(Y[i], np.cumsum(Y[i]), out)
                ref[i] = out[9:17]
            assert np.allclose(feats[:, 9:17], ref, rtol=1e-9, atol=1e-12), (cfg.n_freqs, n)
            assert np.array_equal(np.round(feats[:, 9:17], 6), np.round(ref, 6)), (cfg.n_freqs, n)
