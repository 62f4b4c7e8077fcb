"""Round-8 operator semantics: E76 fuzzy pairs, E77 link graph,
E79 span-corruption plan (twin parity is separately
gated by tools/check_queries.py; these pin planted-case behavior)."""

from __future__ import annotations


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


def test_null_handling_review_fixes(spark):
    """r8 review: NULL values neither rank in the MAD median nor poison
    flags."""
    from seizury_hrv_featuresextraction_spark.operators.filters import (
        grouped_mad_outliers,
    )

    # grouped MAD: NULLs don't shift the median or suppress flags
    rows = [("g", i, v) for i, v in enumerate([None, None, None, 5.0, 5.1, 4.9, 1000.0])]
    df = spark.createDataFrame(rows, "g string, id long, value double")
    out = grouped_mad_outliers(df, "value", ["g"], "id", z_thresh=3.5).collect()
    assert [r["id"] for r in out] == [6]  # the 1000.0 spike, nothing else
    assert out[0]["med"] == 5.0
