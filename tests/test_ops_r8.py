"""Round-8 operator semantics: E76 fuzzy pairs, E77 link graph,
E79 span-corruption plan (twin parity is separately
gated by tools/check_queries.py; these pin planted-case behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_fuzzy_dup_pairs_finds_typo_pair_and_respects_blocking(spark):
    """A 1-character typo pair must be found (edit distance 1 kills
    every crossing shingle, so the set-similarity family misses it);
    a pair whose FIRST word differs must be missed (the documented
    blocking contract); block_cap drops boilerplate blocks."""
    from seizury_hrv_featuresextraction_spark.operators.dedup import fuzzy_dup_pairs

    rows = [
        (1, "quarterly report for the acme corporation fiscal year twenty four"),
        (2, "quarterly reprot for the acme corporation fiscal year twenty four"),  # typo
        (3, "annual report for the acme corporation fiscal year twenty four"),  # first word differs
        (4, "completely different text with no relation to anything else here"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_dup_pairs(df, "text", "doc_id", prefix_words=8, max_dist=5).collect()
    }
    assert got.get((1, 2)) == 2  # 'report' -> 'reprot': a transposition = 2 plain edits
    assert (1, 3) not in got and (2, 3) not in got  # blocked away (first word)
    assert all(a != 4 and b != 4 for a, b in got)

    # block_cap: a boilerplate block bigger than the cap emits nothing
    boiler = [(100 + i, f"login page for site number {i} please enter password") for i in range(12)]
    bdf = spark.createDataFrame(boiler, "doc_id long, text string")
    capped = fuzzy_dup_pairs(bdf, "text", "doc_id", prefix_words=8, max_dist=8, block_cap=8)
    uncapped = fuzzy_dup_pairs(bdf, "text", "doc_id", prefix_words=8, max_dist=8)
    assert uncapped.count() > 0
    assert capped.count() == 0


def test_domain_link_graph_extraction_semantics(spark):
    """Multiplicity kept in n_links, deduped in n_docs; self-loops and
    non-http(s) schemes dropped; port kept as part of the origin."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        domain_link_graph,
        extract_links,
    )

    rows = [
        (1, "a.com", '<a href="http://b.com/x">1</a> <a href="http://b.com/y">2</a> <a href="ftp://c.com/z">no</a>'),
        (2, "a.com", '<a href="http://b.com/z">3</a> <a href="https://a.com/self">self</a>'),
        (3, "b.com", '<a href="https://a.com:8080/p">ported</a>'),
        (4, "c.com", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src_domain string, html string")
    links = extract_links(df, "html", "doc_id")
    assert links.count() == 5  # the ftp anchor never matches the https? pattern
    g = {
        (r["src_domain"], r["dst_domain"]): (r["n_links"], r["n_docs"])
        for r in domain_link_graph(df, "html", "doc_id").collect()
    }
    assert g[("a.com", "b.com")] == (3, 2)  # 3 links from 2 docs
    assert g[("b.com", "a.com:8080")] == (1, 1)  # port distinguishes the origin
    assert ("a.com", "a.com") not in g  # self-loop dropped
    assert all(src != "c.com" for src, _ in g)  # NULL html -> nothing


def test_span_corruption_plan_invariants(spark):
    """Spans in-bounds, pairwise non-overlapping, count = the density
    formula, short docs emit nothing, and the plan is a pure function
    of (id, n_tokens) — partitioning-invariant."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        span_corruption_plan,
    )

    rows = [(i, 2 + 7 * i) for i in range(60)]  # n_tokens 2..415
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = span_corruption_plan(df, "n_tokens", "doc_id", density=0.15, span_len=3)
    pdf = out.toPandas()
    n_of = dict(rows)
    for did, grp in pdf.groupby("doc_id"):
        n = n_of[did]
        k = max(1, int(n * 0.15 / 3))
        assert len(grp) == k, (did, n)
        spans = sorted(zip(grp["start"], grp["length"]))
        for (s, ln) in spans:
            assert 0 <= s and s + ln <= n, (did, s, ln, n)
        for (s1, l1), (s2, _) in zip(spans, spans[1:]):
            assert s1 + l1 <= s2, (did, spans)
    # docs too short for one span emit nothing
    assert set(pdf["doc_id"]) == {i for i, n in rows if n >= 3}

    # partitioning invariance
    again = span_corruption_plan(
        df.repartition(13), "n_tokens", "doc_id", density=0.15, span_len=3
    ).toPandas()
    a = pdf.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
    assert a.equals(b)


def test_epoch_shard_plan_slices_equal_per_epoch_shuffles(spark):
    """E78: epoch e's slice of the one-scan multi-epoch plan must equal
    an independent shuffle_shards run with seed '0:e' — same shards,
    same positions — and epochs must be DIFFERENT permutations."""
    from seizury_hrv_featuresextraction_spark.operators.stats import (
        epoch_shard_plan,
        shuffle_shards,
    )

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    plan = epoch_shard_plan(df, "doc_id", n_shards=4, n_epochs=3, seed=0).toPandas()
    orders = {}
    for e in range(3):
        mine = {
            r.doc_id: (r.shard, r.pos)
            for r in plan[plan["epoch"] == e].itertuples(index=False)
        }
        ref = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_shards(df, "doc_id", n_shards=4, seed=f"0:{e}").collect()
        }
        assert mine == ref, e
        orders[e] = tuple(sorted(mine.items()))
    assert orders[0] != orders[1] and orders[1] != orders[2]


def test_pit_leakage_audit_counts(spark):
    """E82: a user whose labels keep arriving after observations shows
    future-label counts + horizon; a clean user scores zeros; a user
    with no labels at all scores zeros with a NULL horizon."""
    from seizury_hrv_featuresextraction_spark.operators.evaluation import pit_leakage_audit

    obs = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 10.0), (2, 20.0), (3, 15.0)],
        "user_id long, e double",
    )
    labels = spark.createDataFrame(
        [(1, 5.0, 1.0), (1, 15.0, 2.0), (1, 30.0, 9.0), (2, 1.0, 5.0)],
        "user_id long, e double, lab double",
    )
    got = {
        r["user_id"]: r
        for r in pit_leakage_audit(obs, labels, on="e", by="user_id", label_col="lab").collect()
    }
    r1 = got[1]
    assert r1["n_obs"] == 2
    assert r1["n_future_label"] == 2          # naive label (t=30) is future for both obs
    assert r1["n_value_mismatch"] == 2        # naive 9.0 vs as-of 1.0 / 2.0
    assert r1["max_leak_horizon"] == 20.0     # 30 - 10
    r2 = got[2]
    assert (r2["n_future_label"], r2["n_value_mismatch"]) == (0, 0)
    assert r2["max_leak_horizon"] is None
    r3 = got[3]
    assert (r3["n_obs"], r3["n_future_label"], r3["n_value_mismatch"]) == (1, 0, 0)
    assert r3["max_leak_horizon"] is None


def test_correlation_matrix_planted_relationships(spark):
    """E83: perfectly correlated, anti-correlated, independent and
    constant features against hand arithmetic; null rows drop."""
    from seizury_hrv_featuresextraction_spark.operators.stats import correlation_matrix

    rows = [
        (0.0, 3.0, 0.0, 7.0, 0.0),
        (1.0, 5.0, -1.0, 7.0, 1.0),
        (2.0, 7.0, -2.0, 7.0, 1.0),
        (3.0, 9.0, -3.0, 7.0, 0.0),
        (None, 1.0, 1.0, 1.0, 1.0),   # dropped: null x
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double, c double, v double")
    out = {
        (r["feat_i"], r["feat_j"]): r
        for r in correlation_matrix(
            df, [("x", 1), ("y", 1), ("z", 1), ("c", 1), ("v", 1)]
        ).collect()
    }
    assert len(out) == 10
    assert all(r["n"] == 4 for r in out.values())
    assert out[("x", "y")]["corr"] == 1.0      # y = 2x + 3
    assert out[("x", "z")]["corr"] == -1.0     # z = -x
    assert out[("x", "c")]["corr"] is None     # constant: zero variance
    assert out[("x", "v")]["corr"] == 0.0      # cov = 4*3 - 6*2 = 0
    r = out[("x", "y")]
    assert (r["sum_i"], r["sum_j"], r["sum_ij"]) == (6, 24, 46)  # 0*3+1*5+2*7+3*9


def test_drift_psi_planted_shift_and_replay(spark):
    """E85: PSI terms replay exactly in pure Python from the counts; a
    planted distribution shift yields PSI > 0.25 while self-vs-self
    stays ~2e-4 (Laplace floor); empty bins are defined (no NULL/inf)."""
    import math

    from seizury_hrv_featuresextraction_spark.operators.stats import drift_psi

    ref_vals = [float(i % 10) * 10.0 + 1.0 for i in range(400)]       # uniform 1..91
    cur_vals = [float(i % 3) * 10.0 + 61.0 for i in range(300)]       # shifted 61..81
    ref = spark.createDataFrame([(v,) for v in ref_vals], "value double")
    cur = spark.createDataFrame([(v,) for v in cur_vals], "value double")

    out = drift_psi(ref, cur, "value", bin_width=10.0, n_bins=12).collect()
    assert len(out) == 12                                             # every bin present
    assert all(r["psi_term"] is not None for r in out)                # empty bins defined

    # pure-Python replay of smoothing + ln term from the exact counts
    n_ref = sum(r["cnt_ref"] for r in out)
    n_cur = sum(r["cnt_cur"] for r in out)
    assert (n_ref, n_cur) == (400, 300)
    psi = 0.0
    for r in out:
        p_r = (r["cnt_ref"] + 1) / (n_ref + 12)
        p_c = (r["cnt_cur"] + 1) / (n_cur + 12)
        assert r["p_ref"] == round(p_r, 6)
        assert r["p_cur"] == round(p_c, 6)
        assert r["psi_term"] == round((p_c - p_r) * math.log(p_c / p_r), 6)
        psi += r["psi_term"]
    assert psi > 0.25                                                 # planted shift detected

    # self-vs-self: only the Laplace floor remains
    out2 = drift_psi(ref, ref, "value", bin_width=10.0, n_bins=12).collect()
    assert abs(sum(r["psi_term"] for r in out2)) < 1e-3


def test_drift_psi_clamps_out_of_range(spark):
    """Values below 0 and beyond the last edge land in the boundary
    bins rather than vanishing — total counts are conserved."""
    from seizury_hrv_featuresextraction_spark.operators.stats import drift_psi

    ref = spark.createDataFrame([(-5.0,), (3.0,), (999.0,)], "value double")
    cur = spark.createDataFrame([(1.0,)], "value double")
    out = {r["bin"]: r for r in drift_psi(ref, cur, "value", 10.0, 4).collect()}
    assert out[0]["cnt_ref"] == 2      # -5 clamped into bin 0, 3.0 natural
    assert out[3]["cnt_ref"] == 1      # 999 clamped into last bin
    assert sum(r["cnt_ref"] for r in out.values()) == 3


def test_target_encode_loo_excludes_own_row_and_replays(spark):
    """E86: hand-computed LOO encodings match; the planted outlier's own
    target does NOT enter its encoding; singleton group falls back
    toward the prior; m=0 rejected."""
    import pytest

    from seizury_hrv_featuresextraction_spark.operators.stats import target_encode_loo

    rows = [
        (0, "a", 10.0), (1, "a", 20.0), (2, "a", 90.0),   # outlier in group a
        (3, "b", 30.0), (4, "b", 50.0),
        (5, "c", 70.0),                                    # singleton
    ]
    df = spark.createDataFrame(rows, "id long, cat string, t double")
    out = {r["id"]: r["te_cat"] for r in target_encode_loo(df, "cat", "t", m=2).collect()}

    prior = 270.0 / 6.0  # 45
    def loo(sum_g, t_i, cnt_g):
        return round(((sum_g - t_i) + 2.0 * prior) / (cnt_g - 1 + 2), 6)

    assert out[2] == loo(120.0, 90.0, 3)       # own 90 excluded -> pulled DOWN
    assert out[0] == loo(120.0, 10.0, 3)
    assert out[0] > out[2]                     # outlier's encoding is the smallest in-group
    assert out[3] == loo(80.0, 30.0, 2)
    assert out[5] == loo(70.0, 70.0, 1) == round(prior, 6)  # singleton -> pure prior

    with pytest.raises(ValueError):
        target_encode_loo(df, "cat", "t", m=0)


def test_ks_statistic_exact_vs_scipy_formula(spark):
    """E87: KS replays exactly against a pure-Python sup-distance over
    pooled distinct values (ties included); identical samples give 0;
    disjoint supports give 1; one-sided keys are dropped."""
    from seizury_hrv_featuresextraction_spark.operators.stats import ks_statistic

    ref_rows = [("k1", v) for v in [1.0, 2.0, 2.0, 3.0, 5.0]] + [("k2", 1.0), ("k2", 2.0)]
    cur_rows = [("k1", v) for v in [2.0, 4.0, 4.0, 6.0]] + [("k3", 9.0)]
    ref = spark.createDataFrame(ref_rows, "k string, v double")
    cur = spark.createDataFrame(cur_rows, "k string, v double")

    out = {r["k"]: r for r in ks_statistic(ref, cur, "v", ["k"]).collect()}
    assert set(out) == {"k1"}  # k2/k3 one-sided -> dropped

    # pure-Python replay for k1
    rv = sorted([1.0, 2.0, 2.0, 3.0, 5.0])
    cv = sorted([2.0, 4.0, 4.0, 6.0])
    pooled = sorted(set(rv + cv))
    d_num = max(
        abs(sum(1 for x in rv if x <= t) * len(cv) - sum(1 for x in cv if x <= t) * len(rv))
        for t in pooled
    )
    r = out["k1"]
    assert (r["n_ref"], r["n_cur"], r["d_num"]) == (5, 4, d_num)
    assert r["ks"] == round(d_num / (5 * 4), 6)

    same = ks_statistic(ref, ref, "v", ["k"]).collect()
    assert all(r["ks"] == 0.0 for r in same)

    lo = spark.createDataFrame([("k", float(i)) for i in range(5)], "k string, v double")
    hi = spark.createDataFrame([("k", float(i + 100)) for i in range(5)], "k string, v double")
    assert ks_statistic(lo, hi, "v", ["k"]).collect()[0]["ks"] == 1.0


def test_auc_by_group_matches_sklearn_formula_with_ties(spark):
    """E91: AUC matches a pure-Python pairwise count (ties = 1/2 credit)
    on a tied sample; perfect ranking gives 1.0, inverted 0.0, constant
    scores 0.5; single-class groups are dropped."""
    from seizury_hrv_featuresextraction_spark.operators.evaluation import auc_by_group

    scores = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 5.0]
    labels = [0, 0, 1, 0, 1, 1, 0, 1]
    rows = [("g", s, y) for s, y in zip(scores, labels)]
    rows += [("perfect", float(i), 1 if i >= 5 else 0) for i in range(10)]
    rows += [("inverted", float(i), 1 if i < 5 else 0) for i in range(10)]
    rows += [("const", 7.0, i % 2) for i in range(10)]
    rows += [("onesided", 1.0, 1), ("onesided", 2.0, 1)]
    df = spark.createDataFrame(rows, "k string, s double, y long")
    out = {r["k"]: r for r in auc_by_group(df, "s", "y", ["k"]).collect()}

    # pure-Python pairwise AUC for the tied group
    pos = [s for s, y in zip(scores, labels) if y == 1]
    neg = [s for s, y in zip(scores, labels) if y == 0]
    num = sum(1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg)
    assert out["g"]["auc"] == round(num / (len(pos) * len(neg)), 6)
    assert (out["g"]["n_pos"], out["g"]["n_neg"]) == (4, 4)

    assert out["perfect"]["auc"] == 1.0
    assert out["inverted"]["auc"] == 0.0
    assert out["const"]["auc"] == 0.5
    assert "onesided" not in out


def test_vocab_growth_hand_corpus(spark):
    """E92: first-bucket attribution is exact on a hand corpus; the
    cumulative vocab equals brute-force distinct counts over nested
    prefixes; token totals conserve."""
    import hashlib

    from seizury_hrv_featuresextraction_spark.operators.curation import vocab_growth

    texts = {
        0: "alpha beta gamma",
        1: "alpha beta delta",
        2: "alpha epsilon",
        3: "zeta",
        4: None,
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = vocab_growth(df, "text", "doc_id", n_buckets=4, seed="t:").collect()

    def bkt(i):
        return int(hashlib.md5(f"t:{i}".encode()).hexdigest()[:8], 16) % 4

    # brute-force replay
    from collections import defaultdict
    first = {}
    tok = defaultdict(int)
    for i, t in texts.items():
        for w in (t or "").split():
            b = bkt(i)
            tok[b] += 1
            first[w] = min(first.get(w, 99), b)
    exp_new = defaultdict(int)
    for w, b in first.items():
        exp_new[b] += 1

    got = {r["bucket"]: r for r in out}
    assert {b: r["new_words"] for b, r in got.items()} == dict(exp_new)
    cum = 0
    for b in sorted(got):
        cum += exp_new[b]
        assert got[b]["cum_vocab"] == cum
        assert got[b]["n_tokens"] == tok[b]
    assert cum == len(first)  # total vocab = distinct words overall


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_negative_samples_replay_and_contract(spark):
    """E93: full pure-Python replay of pool draw + per-anchor hash
    ranking must match the Spark plan row-for-row; negatives never the
    anchor itself nor the anchor's own group; draw invariant to input
    partitioning (resume-stability contract)."""
    from seizury_hrv_featuresextraction_spark.operators.stats import negative_samples

    rows = [(i, f"s{i % 5}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        (r["anchor_id"], r["rank"]): (r["neg_id"], r["neg_source"])
        for r in negative_samples(df, k=3, pool_size=8, n_buckets=4, seed="t:").collect()
    }

    # pure-Python replay
    pool: dict[int, list[tuple[int, str]]] = {b: [] for b in range(4)}
    cand = sorted(rows, key=lambda r: (_md5_60(f"t:o:{r[0]}"), r[0]))
    for cid, cg in cand:
        b = _md5_60(f"t:b:{cid}") % 4
        if len(pool[b]) < 8:
            pool[b].append((cid, cg))
    want = {}
    for aid, ag in rows:
        p = _md5_60(f"t:p:{aid}") % 4
        cs = [(c, g) for c, g in pool[p] if c != aid and g != ag]
        cs.sort(key=lambda cg_: (_md5_60(f"t:r:{aid}:{cg_[0]}"), cg_[0]))
        for rk, (c, g) in enumerate(cs[:3], 1):
            want[(aid, rk)] = (c, g)
    assert got == want
    assert all(nid != aid for (aid, _), (nid, _) in got.items())
    src = dict(rows)
    assert all(g != src[aid] for (aid, _), (_, g) in got.items())

    # partitioning invariance
    got2 = {
        (r["anchor_id"], r["rank"]): (r["neg_id"], r["neg_source"])
        for r in negative_samples(
            df.repartition(7, "source"), k=3, pool_size=8, n_buckets=4, seed="t:"
        ).collect()
    }
    assert got2 == got


def test_logodds_keyness_planted_word_and_replay(spark):
    """E94: a word frequent in one group and absent elsewhere must top
    that group's keyness ranking; z-scores replay against the
    Monroe et al. informed-Dirichlet formula in pure Python."""
    import math

    from seizury_hrv_featuresextraction_spark.operators.curation import logodds_keyness

    filler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{filler} zebra zebra", "a") for i in range(10)] + [
        (100 + i, filler, "b") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = logodds_keyness(df, "text", "source", alpha0=10.0, min_count=3, k=5).collect()
    top_a = next(r for r in out if r["source"] == "a" and r["rank"] == 1)
    assert top_a["word"] == "zebra"
    assert top_a["n_in_group"] == 20 and top_a["n_corpus"] == 20
    assert top_a["zscore"] > 0

    # replay every emitted z against the formula
    from collections import Counter

    cnt: Counter = Counter()
    for _, text, g in rows:
        for w in text.lower().split():
            cnt[(g, w)] += 1
    yw = Counter()
    ni = Counter()
    for (g, w), c in cnt.items():
        yw[w] += c
        ni[g] += c
    n = sum(ni.values())
    for r in out:
        c = cnt[(r["source"], r["word"])]
        a_w = 10.0 * yw[r["word"]] / n
        rest = yw[r["word"]] - c
        delta = math.log((c + a_w) / (ni[r["source"]] + 10.0 - c - a_w)) - math.log(
            (rest + a_w) / (n - ni[r["source"]] + 10.0 - rest - a_w)
        )
        z = delta / math.sqrt(1.0 / (c + a_w) + 1.0 / (rest + a_w))
        assert abs(r["zscore"] - round(z, 6)) < 2e-6, r


def test_key_skew_report_uniform_and_degenerate(spark):
    """E98: all-equal key counts -> gini 0, max_to_mean 1; one dominant
    key -> gini = (n-1)/n * (1 - n/rows ... ) checked against the exact
    closed form; exact percentiles from the count-of-counts cumulative."""
    from seizury_hrv_featuresextraction_spark.operators.stats import key_skew_report

    # uniform: 10 keys x 4 rows
    rows = [(k,) for k in range(10) for _ in range(4)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_report(df, ["k"]).collect()[0]
    assert (r["n_keys"], r["n_rows"], r["max_cnt"]) == (10, 40, 4)
    assert r["gini"] == 0.0 and r["max_to_mean"] == 1.0
    assert r["p50_cnt"] == r["p99_cnt"] == 4

    # skewed: 9 keys x 1 row + 1 key x 91 rows
    rows = [(k,) for k in range(9)] + [(99,)] * 91
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_report(df, ["k"]).collect()[0]
    assert (r["n_keys"], r["n_rows"], r["max_cnt"]) == (10, 100, 91)
    assert r["top1_share"] == 0.91
    assert r["max_to_mean"] == 9.1
    assert r["p50_cnt"] == 1 and r["p99_cnt"] == 91
    # exact Gini: sorted counts [1]*9 + [91]; S1 = sum i*x_i = 45 + 10*91
    s1 = sum((i + 1) * x for i, x in enumerate(sorted([1] * 9 + [91])))
    want = round(2 * s1 / (10 * 100) - 11 / 10, 6)
    assert r["gini"] == want


def test_grouped_mad_outliers_exact_medians_and_flags(spark):
    """E100: exact lower-median rule, per-group independence, the
    planted spike flags, the tight cluster doesn't; MAD=0 group flags
    any nonzero deviation."""
    from seizury_hrv_featuresextraction_spark.operators.filters import (
        grouped_mad_outliers,
    )

    rows = (
        # group a: tight cluster around 10 + one spike
        [("a", i, 10.0 + 0.1 * (i % 3)) for i in range(9)]
        + [("a", 99, 1000.0)]
        # group b: all identical except one -> MAD=0 path
        + [("b", i, 5.0) for i in range(5)]
        + [("b", 50, 7.0)]
    )
    df = spark.createDataFrame(rows, "g string, id long, value double")
    out = grouped_mad_outliers(df, "value", ["g"], "id", z_thresh=3.5).collect()
    got = {(r["g"], r["id"]): r for r in out}
    assert ("a", 99) in got
    assert got[("a", 99)]["med"] == 10.1  # lower median of the 10 values
    assert all(k == ("a", 99) for k in got if k[0] == "a")
    # MAD=0 group: the single deviating row flags, rz is NULL
    assert ("b", 50) in got and got[("b", 50)]["rz"] is None
    assert len([k for k in got if k[0] == "b"]) == 1

    # partitioning invariance
    out2 = grouped_mad_outliers(
        df.repartition(5), "value", ["g"], "id", z_thresh=3.5
    ).collect()
    assert {(r["g"], r["id"]) for r in out2} == set(got)


def test_quantile_normalize_replay_and_properties(spark):
    """E101: target = smallest global value whose global CDF >= the
    group CDF, replayed in pure Python; a uniform group maps onto the
    global spread; max of every group maps to the global max."""
    from collections import Counter

    from seizury_hrv_featuresextraction_spark.operators.stats import quantile_normalize

    rows = (
        [("a", v) for v in [1, 1, 2, 3, 10]]
        + [("b", v) for v in [100, 200, 200, 300]]
        + [("c", v) for v in [5]]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = quantile_normalize(df, "v", "g").collect()
    got = {(r["g"], r["v"]): (r["n"], r["cdf"], r["target"]) for r in out}

    # pure-Python replay
    per_g: dict[str, Counter] = {}
    for g, v in rows:
        per_g.setdefault(g, Counter())[v] += 1
    glob = Counter(v for _, v in rows)
    gvals = sorted(glob)
    N = sum(glob.values())
    want = {}
    for g, cnt in per_g.items():
        ns = sum(cnt.values())
        cum = 0
        for v in sorted(cnt):
            cum += cnt[v]
            q = cum / ns
            cg = 0
            target = None
            for gv in gvals:
                cg += glob[gv]
                if cg / N >= q:
                    target = gv
                    break
            want[(g, v)] = (cnt[v], round(q, 6), target)
    assert got == want
    # every group's max value maps to the global max
    assert got[("a", 10)][2] == 300
    assert got[("b", 300)][2] == 300
    assert got[("c", 5)][2] == 300  # single row: CDF 1.0


def test_rollup_and_pivot_consistency(spark):
    """E105/E106: rollup level sums are conserved (leaf -> source ->
    grand total); pivot row sums equal per-source doc counts."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    roll = e.queries()["rollup_corpus_stats"](spark, sf).collect()
    leafs = [r for r in roll if r["gid"] == 0]
    mids = {r["source"]: r for r in roll if r["gid"] == 1}
    total = [r for r in roll if r["gid"] == 3]
    assert len(total) == 1 and total[0]["source"] == "__all__"
    assert total[0]["n_docs"] == sum(r["n_docs"] for r in leafs)
    for s, m in mids.items():
        assert m["n_docs"] == sum(r["n_docs"] for r in leafs if r["source"] == s)
        assert m["total_chars"] == sum(
            r["total_chars"] for r in leafs if r["source"] == s
        )

    piv = e.queries()["pivot_lang_by_source"](spark, sf).collect()
    for r in piv:
        row_sum = r["en"] + r["de"] + r["fr"] + r["es"] + r["other"]
        assert row_sum == mids[r["source"]]["n_docs"]


def test_skew_join_equals_plain_join_and_salts_hot_keys(spark):
    """E108: hot/cold salted join is row-for-row (incl. multiplicity)
    equal to the plain join, with duplicate right keys, cold-only keys,
    hot-only keys, and a left key absent from the right."""
    from seizury_hrv_featuresextraction_spark.operators.skew import skew_join

    left = spark.createDataFrame(
        [(i, 1 if i < 50 else (2 if i < 55 else 3)) for i in range(60)],
        "id long, k long",
    )
    # right: key 1 twice (multiplicity), key 2 once, key 4 unmatched
    right = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (4, "d")], "k long, v string"
    )
    got = sorted(
        (r["id"], r["k"], r["v"])
        for r in skew_join(
            left, right, on="k", left_id_col="id", hot_threshold=10, n_salts=4
        ).collect()
    )
    want = sorted(
        (r["id"], r["k"], r["v"]) for r in left.join(right, "k").collect()
    )
    assert got == want
    assert len(got) == 50 * 2 + 5  # key1 x2 rights, key2 x1, key3 dropped

    # all-cold fast path (no hot keys) is the plain join
    got2 = sorted(
        (r["id"], r["k"], r["v"])
        for r in skew_join(
            left, right, on="k", left_id_col="id", hot_threshold=1000, n_salts=4
        ).collect()
    )
    assert got2 == want

    # max_hot_keys guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skew_join(
            left, right, on="k", left_id_col="id",
            hot_threshold=0, n_salts=2, max_hot_keys=1,
        )


def test_contrastive_pipeline_stage_contracts_compose(spark):
    """E109: the closure's negatives are drawn only from kept+good
    docs — no negative may be a dropped duplicate or a quality reject."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    pairs = e.queries()["contrastive_pipeline"](spark, sf).collect()
    assert pairs, "pipeline should emit pairs at sf0.001"

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        hashed_linear_classifier,
        md5_feature_weights,
    )
    from seizury_hrv_featuresextraction_spark.operators.dedup import dedup_exact_keep
    from seizury_hrv_featuresextraction_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    kept = dedup_exact_keep(docs, "text", "doc_id")
    good = {
        r["doc_id"]
        for r in hashed_linear_classifier(
            kept, md5_feature_weights(1024), bias=0.0, threshold=0.0,
            score_round=6, extra_cols=("source",),
        )
        .filter(F.col("keep"))
        .collect()
    }
    src = {r["doc_id"]: r["source"] for r in docs.collect()}
    for r in pairs:
        assert r["anchor_id"] in good and r["neg_id"] in good
        assert src[r["anchor_id"]] != r["neg_source"]
        assert 1 <= r["rank"] <= 4


def test_target_encode_loo_keeps_null_category_rows(spark):
    """r8 review fix: NULL-category rows must survive the encoding
    transform (encoded as their own category), not vanish through a
    non-null-safe join."""
    from seizury_hrv_featuresextraction_spark.operators.stats import target_encode_loo

    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "cat string, y double")
    out = target_encode_loo(df, "cat", "y", m=1).collect()
    assert len(out) == len(rows)  # nothing dropped
    nulls = [r for r in out if r["cat"] is None]
    assert len(nulls) == 2
    # LOO within the NULL group: prior = 39/5; enc(10) = ((30-10)+1*7.8)/((2-1)+1)
    prior = 39.0 / 5.0
    want_10 = round(((30.0 - 10.0) + prior) / 2.0, 6)
    got_10 = next(r["te_cat"] for r in nulls if r["y"] == 10.0)
    assert got_10 == want_10


def test_null_handling_review_fixes(spark):
    """r8 review: NULL-group anchors still draw negatives; NULL values
    neither rank in the MAD median nor poison flags."""
    from seizury_hrv_featuresextraction_spark.operators.filters import (
        grouped_mad_outliers,
    )
    from seizury_hrv_featuresextraction_spark.operators.stats import negative_samples

    # negative sampling: NULL-group anchor pairs with every group
    rows = [(i, f"s{i % 3}") for i in range(20)] + [(100, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = negative_samples(df, k=2, pool_size=8, n_buckets=2, seed="n:").collect()
    anchors = {r["anchor_id"] for r in out}
    assert 100 in anchors  # NULL-group anchor not erased
    assert all(r["neg_source"] is not None for r in out if r["anchor_id"] == 100)
    # and NULL-group candidates are valid negatives for non-NULL anchors
    # (no assertion needed on presence — pool is hash-drawn — just that
    # nothing crashed and non-NULL anchors still emit)
    assert len(anchors) > 10

    # grouped MAD: NULLs don't shift the median or suppress flags
    rows = [("g", i, v) for i, v in enumerate([None, None, None, 5.0, 5.1, 4.9, 1000.0])]
    df = spark.createDataFrame(rows, "g string, id long, value double")
    out = grouped_mad_outliers(df, "value", ["g"], "id", z_thresh=3.5).collect()
    assert [r["id"] for r in out] == [6]  # the 1000.0 spike, nothing else
    assert out[0]["med"] == 5.0
