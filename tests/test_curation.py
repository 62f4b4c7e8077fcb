"""Unit + plan tests for operators/curation.py (SURVEY §2.12 E25-E28):
Gopher repetition stats/filter, corpus-DF scrub, PII redaction, and
train/eval decontamination. Value semantics are additionally DuckDB-
oracled end-to-end by the registered driver queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seizury_hrv_featuresextraction_spark.operators.curation import (
    corpus_df_scrub,
    decontaminate_overlap,
    gopher_repetition_filter,
    high_df_words,
    redact_pii,
    repetition_stats,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_stats_known_values(spark):
    df = _docs(
        spark,
        [
            "a a b",          # dup 1/3, top 2/3, 2grams: (a,a),(a,b) distinct -> 0
            "x y z",          # no repetition
            "w w w w",        # all dup: dup 3/4, top 1, 2grams (w,w)x3 -> dup 2/3
            "",               # empty -> all zeros
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(df).select(
            "doc_id", "n_words", "dup_word_frac", "top_word_frac", "dup_2gram_frac"
        ).collect()
    }
    assert rows[0]["n_words"] == 3
    assert rows[0]["dup_word_frac"] == pytest.approx(1 / 3)
    assert rows[0]["top_word_frac"] == pytest.approx(2 / 3)
    assert rows[0]["dup_2gram_frac"] == 0.0
    assert rows[1]["dup_word_frac"] == 0.0 and rows[1]["top_word_frac"] == pytest.approx(1 / 3)
    assert rows[2]["dup_word_frac"] == pytest.approx(3 / 4)
    assert rows[2]["top_word_frac"] == 1.0
    assert rows[2]["dup_2gram_frac"] == pytest.approx(2 / 3)
    assert rows[3]["n_words"] == 0
    assert rows[3]["dup_word_frac"] == rows[3]["top_word_frac"] == rows[3]["dup_2gram_frac"] == 0.0


def test_gopher_filter_drops_repetitive(spark):
    diverse = " ".join(f"w{i}" for i in range(40))
    spammy = " ".join(["buy now"] * 20)  # top_word_frac 0.5
    short = "too short"
    kept = gopher_repetition_filter(_docs(spark, [diverse, spammy, short]))
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [0]


def test_repetition_stats_zero_shuffle_plan(spark):
    """The per-doc stats must stay in the scan stage: no Exchange on a
    many-split input (the 100 TB contract — repetition filtering runs at
    ingest rate)."""
    df = spark.range(0, 64, 1, 8).withColumn(
        "text", F.concat(F.lit("alpha beta alpha gamma doc"), F.col("id").cast("string"))
    )
    plan = _plan(repetition_stats(df, "text"))
    assert "Exchange" not in plan, plan


def test_high_df_words_and_scrub(spark):
    df = _docs(
        spark,
        ["the cat sat", "the dog ran", "the bird flew", "a fish swam"],
    )
    # 'the' in 3/4 docs = 0.75 > 0.5; everything else <= 0.25
    assert high_df_words(df, max_df_frac=0.5) == ["the"]
    assert high_df_words(df, max_df_frac=0.8) == []

    out = {
        r["doc_id"]: r
        for r in corpus_df_scrub(df, ["the"]).select(
            "doc_id", "text_scrubbed", "n_removed"
        ).collect()
    }
    assert out[0]["text_scrubbed"] == "cat sat" and out[0]["n_removed"] == 1
    assert out[3]["text_scrubbed"] == "a fish swam" and out[3]["n_removed"] == 0


def test_scrub_is_scan_stage_only(spark):
    """The blocked list is literal-folded: the big side is rewritten with
    no join and no shuffle of any kind."""
    df = spark.range(0, 64, 1, 8).withColumn(
        "text", F.concat(F.lit("the quick fox doc"), F.col("id").cast("string"))
    )
    plan = _plan(corpus_df_scrub(df, ["the", "quick"]))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_redact_pii_values(spark):
    df = _docs(spark, ["write bob.smith+x@corp.example.org or call +1-555-0100 from 192.168.1.77 ok"])
    r = redact_pii(df).collect()[0]
    assert r["n_email"] == 1 and r["n_ipv4"] == 1 and r["n_phone"] == 1
    assert r["text_redacted"] == "write <EMAIL> or call <PHONE> from <IP> ok"


def test_redact_pii_order_ip_before_phone(spark):
    # the IP must become <IP>, not be half-eaten by the phone pattern;
    # a digits-only run still matches phone
    df = _docs(spark, ["ip 10.0.3.7 and 123456789 done"])
    r = redact_pii(df).collect()[0]
    assert r["text_redacted"] == "ip <IP> and <PHONE> done"
    assert r["n_ipv4"] == 1 and r["n_phone"] == 1 and r["n_email"] == 0


def test_decontaminate_overlap_counts(spark):
    train = spark.createDataFrame(
        [("t1", [1, 2, 3, 4]), ("t2", [9, 9, 9, 9]), ("t3", [2, 3, 4, 5])],
        "doc_id string, tokens array<int>",
    )
    eval_df = spark.createDataFrame(
        [("e1", [0, 2, 3, 4, 9])], "doc_id string, tokens array<int>"
    )
    # eval 3-grams: 0-2-3, 2-3-4, 3-4-9
    out = {r["doc_id"]: r["n_overlap"] for r in decontaminate_overlap(train, eval_df, n=3).collect()}
    assert out == {"t1": 1, "t3": 1}  # both share 2-3-4; t2 shares nothing


def test_decontaminate_broadcasts_eval_side(spark):
    train = spark.createDataFrame(
        [(f"t{i}", list(range(i, i + 10))) for i in range(50)],
        "doc_id string, tokens array<int>",
    )
    eval_df = spark.createDataFrame(
        [("e1", list(range(5, 20)))], "doc_id string, tokens array<int>"
    )
    plan = _plan(decontaminate_overlap(train, eval_df, n=8))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_lm_score_values_and_broadcast(spark):
    """E33: hand-checked cross-entropy on a 2-doc corpus, and the model
    rides the broadcast side of the scoring join (the corpus is never
    shuffled on text)."""
    import math

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bigram_lm_model,
        bigram_lm_score,
    )

    df = _docs(spark, ["a b a b", "a b c"])
    model = bigram_lm_model(df, k=0.5)
    # corpus: words a=3,b=3,c=1 V=3; bigrams: (a,b)x2+1=3, (b,a)x1, (b,c)x1
    lp = {r["a"] + r["b"]: r["lnp"] for r in model.collect()}
    assert abs(lp["ab"] - math.log((3 + 0.5) / (3 + 1.5))) < 1e-12
    assert abs(lp["ba"] - math.log((1 + 0.5) / (3 + 1.5))) < 1e-12
    assert abs(lp["bc"] - math.log((1 + 0.5) / (3 + 1.5))) < 1e-12

    scored = bigram_lm_score(df, model)
    got = {r["doc_id"]: r for r in scored.collect()}
    exp0 = -(2 * lp["ab"] + lp["ba"]) / 3
    exp1 = -(lp["ab"] + lp["bc"]) / 2
    assert got[0]["n_bigrams"] == 3 and abs(got[0]["cross_entropy"] - round(exp0, 6)) < 1e-9
    assert got[1]["n_bigrams"] == 2 and abs(got[1]["cross_entropy"] - round(exp1, 6)) < 1e-9
    # doc 0 (pure repetition of the most common bigram) is more predictable
    assert got[0]["cross_entropy"] < got[1]["cross_entropy"]

    final = _plan(scored).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final


def test_tokenize_roundtrip_schema(spark):
    """E34: tokenization produces the engine's own input shape
    (doc_id, tokens array<int>, n_tok), ids are dense/deterministic,
    unknown words map to <unk>=0, word order survives."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        build_vocab,
        tokenize,
    )

    corpus = _docs(spark, ["b a c", "a a d"])
    vocab = {r["word"]: r["token_id"] for r in build_vocab(corpus).collect()}
    assert vocab == {"a": 1, "b": 2, "c": 3, "d": 4}

    out = {r["doc_id"]: r for r in tokenize(corpus, build_vocab(corpus)).collect()}
    assert out[0]["tokens"] == [2, 1, 3] and out[0]["n_tok"] == 3
    assert out[1]["tokens"] == [1, 1, 4]

    # scoring NEW text against the trained vocab: misses -> unk
    new = _docs(spark, ["a zzz b"])
    got = tokenize(new, build_vocab(corpus)).collect()[0]
    assert got["tokens"] == [1, 0, 2]


def test_detokenize_inverts_tokenize(spark):
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        build_vocab,
        detokenize,
        tokenize,
    )

    corpus = _docs(spark, ["The  Quick fox", "fox quick the the"])
    vocab = build_vocab(corpus)
    rt = {r["doc_id"]: r["text_rt"] for r in detokenize(tokenize(corpus, vocab), vocab).collect()}
    # lossless up to the tokenizer's normalization (lowercase, ws collapse)
    assert rt == {0: "the quick fox", 1: "fox quick the the"}
    # unknown id renders as <unk>
    weird = spark.createDataFrame([(9, [1, 999])], "doc_id long, tokens array<int>")
    got = detokenize(weird, vocab).collect()[0]["text_rt"]
    assert "<unk>" in got


def test_hashed_linear_classifier_semantics_and_plan(spark):
    """E40: score = mean w[md5(word) mod dim] + bias, hand-checked against
    a hashlib reference; null/empty text scores as bias with n_words=0
    (never -1 / never dropped); keep cuts on the (rounded) score; and the
    whole pass is scan-stage — ZERO Exchange of any kind in the plan (the
    model is a plan literal, not data)."""
    import hashlib
    import math

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        hashed_linear_classifier,
        md5_feature_weights,
    )

    dim = 64
    wts = md5_feature_weights(dim)
    # weights are exactly-representable and re-derivable
    assert all(-0.5 <= x < 0.5 for x in wts)
    assert wts[3] == int(hashlib.md5(b"w:3").hexdigest()[:8], 16) / 2**32 - 0.5

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha alpha"), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    out = hashed_linear_classifier(df, wts, bias=0.25, threshold=0.0)
    rows = {r["doc_id"]: r for r in out.collect()}

    def ref_score(txt):
        ws = [w for w in txt.lower().strip().split() if w]
        if not ws:
            return 0, 0.25
        s = sum(
            wts[int(hashlib.md5(f"f:{w}".encode()).hexdigest()[:15], 16) % dim]
            for w in ws
        )
        return len(ws), s / len(ws) + 0.25

    for i, txt in [(0, "alpha beta gamma"), (1, "alpha alpha")]:
        n, sc = ref_score(txt)
        assert rows[i]["n_words"] == n
        assert abs(rows[i]["score"] - sc) < 1e-12
        assert abs(rows[i]["prob"] - 1.0 / (1.0 + math.exp(-sc))) < 1e-12
        assert rows[i]["keep"] == (sc > 0.0)
    for i in (2, 3):  # empty / null text
        assert rows[i]["n_words"] == 0
        assert rows[i]["score"] == 0.25 and rows[i]["keep"] is True

    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_decontaminate_bloom_fp_rate_and_no_false_negatives(spark):
    """E28b: the Bloom decontamination path never misses a real overlap
    (every exact-path hit appears with n_overlap >= the exact count) and
    its false-positive rate on a planted all-clean corpus stays within
    ~2.5x the analytic bound (1 - e^(-k/bits))^k ~= 1.18% at 10/4."""
    import math

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        build_bloom_bitmap,
        decontaminate_overlap,
        decontaminate_overlap_bloom,
    )

    n = 8
    # eval suite: 50 docs x 20 tokens over a dedicated range
    eval_rows = [(i, [100_000 + i * 20 + j for j in range(20)]) for i in range(50)]
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, tokens array<int>")

    # train: 200 clean docs (disjoint token range -> zero true overlap)
    # + 10 contaminated docs embedding one full eval 8-gram
    clean = [(i, [10_000 + i * 40 + j for j in range(40)]) for i in range(200)]
    contam = [
        (1000 + i, [500_000 + i * 12 + j for j in range(12)] + eval_rows[i][1][:n])
        for i in range(10)
    ]
    train = spark.createDataFrame(clean + contam, "doc_id long, tokens array<int>")

    exact = {r["doc_id"]: r["n_overlap"] for r in decontaminate_overlap(train, eval_df, n=n).collect()}
    bloom = {
        r["doc_id"]: r["n_overlap"]
        for r in decontaminate_overlap_bloom(train, eval_df, n=n, bits_per_item=10, k=4).collect()
    }
    # no false negatives, and bloom can only overcount
    assert set(exact) <= set(bloom)
    for d, c in exact.items():
        assert bloom[d] >= c, (d, bloom[d], c)
    assert all(1000 + i in bloom for i in range(10))

    # measured FP rate over the clean docs' shingles
    clean_shingles = sum(len(t) - n + 1 for _, t in clean)
    fp_hits = sum(c for d, c in bloom.items() if d < 1000)
    fp_rate = fp_hits / clean_shingles
    analytic = (1 - math.exp(-4 / 10)) ** 4
    assert fp_rate <= 2.5 * analytic, (fp_rate, analytic)

    # bitmap sizing: m = bits_per_item x distinct shingles, word-rounded
    words_arr, m_bits = build_bloom_bitmap(eval_df, n=n, bits_per_item=10, k=4)
    n_eval_shingles = 50 * (20 - n + 1)
    assert m_bits == ((10 * n_eval_shingles + 63) // 64) * 64
    assert len(words_arr) == m_bits // 64
    assert any(w != 0 for w in words_arr)


def test_chunk_documents_overlap_and_plan(spark):
    """E43: chunk boundaries and overlap are exact (hand-checked on a
    known word stream), the final chunk truncates, empty/NULL docs emit
    nothing, and the pass is scan-stage (zero Exchange)."""
    from seizury_hrv_featuresextraction_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(1, 11))  # 10 words
    df = spark.createDataFrame(
        [(0, text), (1, "a b"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", "text", chunk_words=4, stride=3)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["start_word"], r["n_words"], r["chunk_text"]) for r in out.collect())
    )
    # doc 0: starts 1,4,7 -> lengths 4,4,4; the k=3 tail (start 10,
    # "w10" alone) is fully inside chunk 2 and is suppressed (r7)
    assert [r for r in rows if r[0] == 0] == [
        (0, 0, 1, 4, "w1 w2 w3 w4"),
        (0, 1, 4, 4, "w4 w5 w6 w7"),
        (0, 2, 7, 4, "w7 w8 w9 w10"),
    ]
    assert [r for r in rows if r[0] == 1] == [(1, 0, 1, 2, "a b")]
    assert not [r for r in rows if r[0] in (2, 3)]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_chunk_documents_coverage_invariants(spark):
    """E43 invariants over many lengths in one job: every word position
    is covered by >= 1 chunk, chunk starts advance by exactly the
    stride, only the FINAL chunk may be short, and consecutive chunks
    overlap by chunk_words - stride (when both are full)."""
    from seizury_hrv_featuresextraction_spark.operators.curation import chunk_documents

    chunk_words, stride = 7, 4
    docs = [(n, " ".join(f"t{n}_{i}" for i in range(1, n + 1))) for n in range(1, 40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_words, stride)
    rows = {}
    for r in out.collect():
        rows.setdefault(r["doc_id"], []).append(r)
    assert set(rows) == {n for n, _ in docs}
    for n, rs in rows.items():
        rs.sort(key=lambda r: r["chunk_id"])
        covered = set()
        for i, r in enumerate(rs):
            assert r["chunk_id"] == i and r["start_word"] == 1 + i * stride
            end = r["start_word"] + r["n_words"] - 1
            assert end <= n
            assert r["n_words"] == min(chunk_words, n - i * stride)
            got_words = r["chunk_text"].split()
            assert got_words == [f"t{n}_{j}" for j in range(r["start_word"], end + 1)]
            covered.update(range(r["start_word"], end + 1))
            if i + 1 < len(rs) and r["n_words"] == chunk_words:
                assert end - rs[i + 1]["start_word"] + 1 == chunk_words - stride
            # tail-suppression contract (r7): every chunk after the
            # first must ADD at least one new word position
            if i > 0:
                prev_end = rs[i - 1]["start_word"] + rs[i - 1]["n_words"] - 1
                assert end > prev_end, (n, i)
        assert covered == set(range(1, n + 1)), n


def test_quality_budget_select_semantics(spark):
    """E51: pandas replay of the budget rule — per source order by
    (round-6 prob desc, doc_id), cumsum n_words, keep while <= budget;
    the straddling doc is excluded (hard cap)."""
    import numpy as np
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        hashed_linear_classifier,
        md5_feature_weights,
        quality_budget_select,
    )

    rng = np.random.default_rng(5)
    vocab = [f"tok{i}" for i in range(60)]
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "source": [f"s{i % 3}" for i in range(40)],
            "text": [" ".join(rng.choice(vocab, rng.integers(5, 25))) for _ in range(40)],
        }
    )
    df = spark.createDataFrame(pdf)
    wts = md5_feature_weights(64)
    budget = 60

    got = quality_budget_select(df, wts, budget=budget).toPandas()

    scored = hashed_linear_classifier(
        df, wts, score_round=6, extra_cols=("source",)
    ).toPandas()
    keep = []
    for src, g in scored.groupby("source"):
        g = g.sort_values(["prob", "doc_id"], ascending=[False, True])
        cum = g["n_words"].cumsum()
        keep.extend(g.loc[cum <= budget, "doc_id"].tolist())
    assert sorted(got["doc_id"]) == sorted(keep)
    # per-source totals within budget, and adding the best excluded doc busts it
    for src, g in got.groupby("source"):
        assert g["n_words"].sum() <= budget
        assert g["cum_tokens"].max() == g["n_words"].sum()
        excl = scored[(scored["source"] == src) & (~scored["doc_id"].isin(got["doc_id"]))]
        sg = scored[scored["source"] == src].sort_values(
            ["prob", "doc_id"], ascending=[False, True]
        )
        ranks = {d: i for i, d in enumerate(sg["doc_id"])}
        if len(excl):
            first_excl = min(excl["doc_id"], key=lambda d: ranks[d])
            prefix = sg[sg.index.map(lambda ix: ranks[sg.loc[ix, "doc_id"]] <= ranks[first_excl])]
            assert prefix["n_words"].sum() > budget


def test_quality_budget_select_salted_identity(spark):
    """E51b: the quantile-salted two-level prefix sum is BIT-IDENTICAL
    to the single-window formulation — on a 90%-one-source skew (the
    case the salt exists for), across several salt widths, including
    n_salts larger than the hot source's row count."""
    import numpy as np
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        md5_feature_weights,
        quality_budget_select,
    )

    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(80)]
    n = 300
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            # 90% of docs in one hot source, the rest split over two
            "source": ["hot" if i % 10 else f"cold{i % 2}" for i in range(n)],
            "text": [" ".join(rng.choice(vocab, rng.integers(3, 30))) for _ in range(n)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    wts = md5_feature_weights(64)

    base = (
        quality_budget_select(df, wts, budget=900)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (base["source"] == "hot").mean() > 0.5  # the skew actually bites
    for n_salts in (2, 8, 512):
        got = (
            quality_budget_select(df, wts, budget=900, salted=True, n_salts=n_salts)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, base, check_exact=True)


def test_bpe_train_merges_matches_reference(spark):
    """E52 vs a direct dict-based replay of Sennrich get_stats/
    merge_vocab (greedy left-to-right merge, skip-consumed-index scan,
    lexicographic tie-break) — merge lists must be identical, including
    overlapping-run words ('aaaa') and single-char words."""
    import numpy as np

    from seizury_hrv_featuresextraction_spark.operators.curation import bpe_train_merges

    rng = np.random.default_rng(17)
    vocab = ["low", "lower", "newest", "widest", "aaaa", "aa", "b", "banana"]
    texts = [" ".join(rng.choice(vocab, rng.integers(3, 12))) for _ in range(25)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(99, None)], "doc_id long, text string"
    )

    def reference(texts, k):
        from collections import Counter

        wc = Counter(w for t in texts if t for w in t.lower().split())
        vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
        merges = []
        for _ in range(k):
            stats = Counter()
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    stats[(a, b)] += c
            if not stats:
                break
            best = max(stats, key=lambda p: (stats[p], [-ord(ch) for ch in p[0]]))
            # explicit deterministic tie-break: max count, then lexicographic min (l, r)
            m = max(stats.values())
            best = min(p for p, c in stats.items() if c == m)
            merges.append((best[0], best[1], m))
            new_vocab = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab
        return merges

    got = bpe_train_merges(df, "text", k=8)
    exp = reference(texts, 8)
    assert got == exp


def test_bpe_train_merges_local_bit_identical(spark):
    """E52c: the driver-local trainer (incremental pair counts +
    lazy-deletion heap over the collected frequency dict) must emit
    EXACTLY the merge list of the distributed per-round trainer —
    same pairs, same counts, same rank order — on a corpus engineered
    for ties, overlapping runs ('aaaa'), hapax words and NULL docs."""
    import numpy as np

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_train_merges,
        bpe_train_merges_local,
    )

    rng = np.random.default_rng(23)
    vocab = ["low", "lower", "newest", "widest", "aaaa", "aa", "b", "banana", "bandana"]
    texts = [" ".join(rng.choice(vocab, rng.integers(2, 10))) for _ in range(40)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(99, None), (100, "")],
        "doc_id long, text string",
    )
    for k in (6, 12, 40):
        assert bpe_train_merges_local(df, "text", k=k) == bpe_train_merges(
            df, "text", k=k
        ), k

    # exhaust the vocab: both trainers must stop at the same (shorter)
    # merge list when every word is fully merged into one symbol
    tiny = spark.createDataFrame([(1, "ab ab ba")], "doc_id long, text string")
    assert bpe_train_merges_local(tiny, "text", k=50) == bpe_train_merges(
        tiny, "text", k=50
    )


def test_bpe_encode_matches_reference(spark):
    """E52b: engine encode (nested plan-literal folds) vs a dict-based
    reference encode using the same merges — n_tokens and the md5 over
    the '-'-joined stream must match exactly (hashlib == Spark md5 over
    UTF-8), including empty/NULL docs."""
    import hashlib

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_encode,
        bpe_train_merges,
    )

    texts = {
        1: "low low low lower lower newest newest newest newest widest widest",
        2: "banana bandana aaaa",
        3: "",
        4: None,
        5: "low newest banana",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    merges = bpe_train_merges(df, "text", k=5)

    def ref_word(w):
        syms = list(w) + ["</w>"]
        for left, right, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r["doc_id"]: (r["n_tokens"], r["tok_md5"]) for r in bpe_encode(df, merges).collect()}
    for d, t in texts.items():
        toks = [s for w in (t or "").lower().split() for s in ref_word(w)]
        md5 = hashlib.md5("-".join(toks).encode()).hexdigest()
        assert got[d] == (len(toks), md5), d


def test_tokenizer_fertility_degenerate_group_yields_null(spark):
    """r7 advice: a source whose docs are all empty divides 0/0 —
    Spark's non-ANSI division yields NULL while other engines raise or
    produce inf/NaN. The operator (and its twin) must pin NULL
    explicitly so degenerate groups agree across engines."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_train_merges,
        tokenizer_fertility,
    )

    df = spark.createDataFrame(
        [
            ("good", "low lower low newest"),
            ("good", "widest newest"),
            ("husk", ""),
            ("husk", None),
        ],
        "source string, text string",
    )
    merges = bpe_train_merges(df, "text", k=3)
    got = {r["source"]: r for r in tokenizer_fertility(df, merges).collect()}
    assert got["husk"].total_words == 0 and got["husk"].total_tokens == 0
    assert got["husk"].fertility is None
    assert got["husk"].chars_per_token is None
    assert got["good"].fertility is not None and got["good"].fertility > 1.0


def test_assign_split_deterministic_and_hashlib_replay(spark):
    """E60: split labels replay the hashlib formula exactly and are
    stable across runs."""
    import hashlib

    from seizury_hrv_featuresextraction_spark.operators.curation import assign_split

    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", assign_split(F.col("doc_id"), val_pct=20, test_pct=20).alias("s")
        ).collect()
    }

    def ref(i):
        h = int(hashlib.md5(f"split:{i}".encode()).hexdigest()[:8], 16) % 100
        return "test" if h < 20 else ("val" if h < 40 else "train")

    assert got == {i: ref(i) for i in range(500)}
    # proportions land near 20/20/60 on 500 uniform hashes
    from collections import Counter

    c = Counter(got.values())
    assert 60 <= c["test"] <= 140 and 60 <= c["val"] <= 140


def test_split_leakage_audit_finds_planted_leak(spark):
    """A test doc whose near-duplicate sits in train must surface in
    the (test, train) group; replay the full audit in Python."""
    import hashlib

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        split_leakage_audit,
    )

    def split(i, val_pct=20, test_pct=20):
        h = int(hashlib.md5(f"split:{i}".encode()).hexdigest()[:8], 16) % 100
        return "test" if h < test_pct else ("val" if h < test_pct + val_pct else "train")

    # find one train id and one test id to plant a dup pair across
    train_id = next(i for i in range(1000) if split(i) == "train")
    test_id = next(i for i in range(1000) if split(i) == "test")
    other = [i for i in range(1000) if i not in (train_id, test_id)][:4]
    pairs = [(min(train_id, test_id), max(train_id, test_id))] + [
        (min(a, b), max(a, b)) for a, b in zip(other[::2], other[1::2])
    ]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r.split_a, r.split_b): (r.n_pairs, r.n_docs_a, r.n_docs_b)
        for r in split_leakage_audit(pdf, val_pct=20, test_pct=20).collect()
    }

    from collections import defaultdict

    exp_pairs = defaultdict(list)
    for a, b in pairs:
        sa, sb = split(a), split(b)
        (lo, hi, da, db) = (sa, sb, a, b) if sa <= sb else (sb, sa, b, a)
        exp_pairs[(lo, hi)].append((da, db))
    want = {
        k: (len(v), len({d for d, _ in v}), len({d for _, d in v}))
        for k, v in exp_pairs.items()
    }
    assert got == want
    assert ("test", "train") in got  # the planted leak is visible


def test_split_leakage_audit_plan_zero_joins_on_pairs(spark):
    """Both endpoints' splits are in-row hashes: no join is added on
    top of the pairs input; one aggregate exchange only."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        split_leakage_audit,
    )

    pdf = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    plan = (
        split_leakage_audit(pdf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_corpus_datacard_python_replay(spark):
    """E61: full data-card replay on a planted corpus — dup docs, a
    NULL-text doc, mixed languages, tie-free medians."""
    import hashlib
    import statistics

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        corpus_datacard,
        md5_feature_weights,
    )

    DOCS = [
        (0, "the cat sat on the mat", "web"),
        (1, "the cat sat on the mat", "web"),      # exact dup of 0
        (2, "der hund ist das beste und der", "web"),
        (3, None, "web"),                           # NULL text
        (4, "le chat est sur la table et les", "books"),
        (5, "just some words here", "books"),
        (6, "just some words here now", "books"),
    ]
    df = spark.createDataFrame(DOCS, "doc_id long, text string, source string")
    weights = md5_feature_weights(1024)
    got = {r.source: r.asDict() for r in corpus_datacard(df).collect()}

    def words(t):
        return [w for w in (t or "").lower().split() if w]

    def lang(t):
        ws = words(t)
        markers = {
            "en": {"the", "and", "of", "is", "to"},
            "de": {"der", "die", "und", "ist", "das"},
            "fr": {"le", "la", "et", "est", "les"},
            "es": {"el", "la", "y", "es", "los"},
        }
        best = max(
            (sum(w in m for w in ws), l) for l, m in markers.items()
        )
        return best[1] if best[0] > 0 else "und"

    def prob(t):
        ws = words(t)
        if not ws:
            return 0.5
        dot = sum(
            weights[int(hashlib.md5(f"f:{w}".encode()).hexdigest()[:15], 16) % 1024]
            for w in ws
        )
        import math

        return 1.0 / (1.0 + math.exp(-(dot / len(ws))))

    for src in ("web", "books"):
        rows = [d for d in DOCS if d[2] == src]
        r = got[src]
        assert r["n_docs"] == len(rows)
        assert r["n_tokens"] == sum(len(words(t)) for _, t, _ in rows)
        fps = {hashlib.md5((t or "").encode()).hexdigest() for _, t, _ in rows}
        assert r["dup_excess"] == len(rows) - len(fps)
        assert r["median_tokens"] == round(
            statistics.median(len(words(t)) for _, t, _ in rows), 6
        )
        langs = [lang(t) for _, t, _ in rows]
        top = max((langs.count(l), l) for l in set(langs))
        assert (r["top_lang"], r["top_lang_share"]) == (
            top[1],
            round(top[0] / len(rows), 6),
        )
        probs = [round(prob(t), 6) for _, t, _ in rows]
        assert abs(r["mean_quality"] - round(sum(probs) / len(probs), 6)) <= 1e-6


def test_corpus_datacard_plan_shape(spark):
    """Zero joins, zero Python stages; exactly two exchanges — the
    (source, fp) distinct pre-agg and the |sources|-key final."""
    from seizury_hrv_featuresextraction_spark.operators.curation import corpus_datacard

    df = spark.createDataFrame(
        [(0, "a b", "s")], "doc_id long, text string, source string"
    )
    plan = corpus_datacard(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Python" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_source_lexical_stats_entropy_and_zipf(spark):
    """E103: uniform vocabulary -> entropy ln(V) and slope ~0; a
    single-word source -> entropy 0 and NULL slope (one point); values
    replay against numpy closed forms."""
    import math

    import numpy as np

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        source_lexical_stats,
    )

    rows = (
        # source u: 8 distinct words, each exactly 3 times -> H = ln 8
        [(i, " ".join(f"w{j}" for j in range(8)), "u") for i in range(3)]
        # source z: strongly zipfian: w0 x 32, w1 x 16, ... w5 x 1
        + [(100, " ".join(f"z{j}" for j in range(6) for _ in range(2 ** (5 - j))), "z")]
        # source s: one word only
        + [(200, "solo solo solo", "s")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_lexical_stats(df, top_r=100).collect()}

    assert got["u"]["vocab"] == 8 and got["u"]["n_tokens"] == 24
    assert got["u"]["entropy"] == round(math.log(8), 6)
    assert abs(got["u"]["zipf_slope"]) < 1e-6  # flat counts -> slope 0

    # zipfian source: counts 2^k halving -> slope vs ln rank replayed
    cs = sorted([32, 16, 8, 4, 2, 1], reverse=True)
    x = np.log(np.arange(1, 7, dtype=float))
    y = np.log(np.array(cs, dtype=float))
    m = 6.0
    want = (m * (x * y).sum() - x.sum() * y.sum()) / (m * (x * x).sum() - x.sum() ** 2)
    assert abs(got["z"]["zipf_slope"] - round(want, 6)) < 2e-6
    n = sum(cs)
    h = math.log(n) - sum(c * math.log(c) for c in cs) / n
    assert abs(got["z"]["entropy"] - round(h, 6)) < 2e-6

    assert got["s"]["entropy"] == 0.0
    assert got["s"]["zipf_slope"] is None  # single point: zero variance


def test_readability_scores_hand_computed(spark):
    """E104: syllable/sentence counts and both formulas replay on a
    hand-counted text; wordless docs yield NULL scores with zero
    counts; sentence floor is 1."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        readability_scores,
    )

    rows = [
        (1, "The cat sat. The dog ran!"),  # 6 words, 2 sentences, 6 syllables
        (2, "beautiful day"),  # syllables: eau,i,u + ay = 4; 1 sentence floor
        (3, ""),  # wordless
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in readability_scores(df).collect()}

    r = got[1]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    wps, spw = 6 / 2, 6 / 6
    assert r["flesch"] == round(206.835 - 1.015 * wps - 84.6 * spw, 6)
    assert r["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)

    r = got[2]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (2, 1, 4)

    for d in (3, 4):
        r = got[d]
        assert (r["n_words"], r["n_syllables"]) == (0, 0)
        assert r["flesch"] is None and r["fk_grade"] is None


def test_datacard_incremental_merge_equals_recompute(spark):
    """E110: folding batch stats by addition then finalizing equals
    finalizing stats computed over the whole corpus in one pass; a
    three-way split agrees too (associativity)."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        datacard_stats,
        finalize_datacard,
        merge_datacard_stats,
    )

    rows = [
        (i, "x" * (10 + i % 7), ["en", "de", "fr"][i % 3], f"s{i % 4}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")

    whole = {r["source"]: r for r in finalize_datacard(datacard_stats(df)).collect()}
    two = finalize_datacard(
        merge_datacard_stats(
            datacard_stats(df.filter("doc_id % 2 = 0")),
            datacard_stats(df.filter("doc_id % 2 = 1")),
        )
    )
    three = finalize_datacard(
        merge_datacard_stats(
            merge_datacard_stats(
                datacard_stats(df.filter("doc_id % 3 = 0")),
                datacard_stats(df.filter("doc_id % 3 = 1")),
            ),
            datacard_stats(df.filter("doc_id % 3 = 2")),
        )
    )
    for split in (two, three):
        got = {r["source"]: r for r in split.collect()}
        assert set(got) == set(whole)
        for s in whole:
            assert got[s].asDict() == whole[s].asDict(), s


# --- E124: k-anonymity / l-diversity audit --------------------------------

def test_k_anonymity_audit_flags_and_null_sentinel(spark):
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        k_anonymity_audit,
    )

    rows = (
        # group (1, 1): 5 records, 2 sensitive values -> both pass
        [(1, 1, "A")] * 3 + [(1, 1, "B")] * 2
        # group (1, 2): 4 records -> fails k; 2 values -> passes l
        + [(1, 2, "A")] * 2 + [(1, 2, "B")] * 2
        # group (2, 1): 6 records all "A" -> passes k, fails l
        + [(2, 1, "A")] * 6
        # group (2, 2): 5 records all NULL -> sentinel makes ONE value,
        # so the group is NOT vacuously diverse
        + [(2, 2, None)] * 5
    )
    df = spark.createDataFrame(rows, "g long, band long, seg string")
    got = {
        (r.g, r.band): (r.n_records, r.n_sensitive, r.k_anonymous, r.l_diverse)
        for r in k_anonymity_audit(df, ["g", "band"], "seg", k=5, l_div=2).collect()
    }
    assert got == {
        (1, 1): (5, 2, True, True),
        (1, 2): (4, 2, False, True),
        (2, 1): (6, 1, True, False),
        (2, 2): (5, 1, True, False),
    }
    # NULL and the literal string it would naively collide with stay
    # distinct under the \x00 sentinel
    df2 = spark.createDataFrame(
        [(1, 1, None), (1, 1, "\x00null-ish")], "g long, band long, seg string"
    )
    r = k_anonymity_audit(df2, ["g", "band"], "seg", k=1, l_div=2).collect()[0]
    assert r.n_sensitive == 2

    import pytest

    with pytest.raises(ValueError):
        k_anonymity_audit(df, ["g"], "seg", k=0)


def test_bpe_encode_kernel_bit_identical_to_expression(spark):
    """r9: the Arrow memoized encode (kernel=True, the default) must be
    BIT-IDENTICAL to the pure-Catalyst fold chain (kernel=False) —
    same n_tokens and the same md5 over the '-'-joined stream, across
    repeats, overlapping runs, multi-space text, empty and NULL docs."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_encode,
        bpe_train_merges,
    )

    texts = {
        1: "low low low lower lower newest newest newest newest widest widest",
        2: "banana bandana aaaa aaaa aaa",
        3: "",
        4: None,
        5: "  spaced   out\ttext  with  runs aaa  ",
        6: "low newest banana low",
        # non-ASCII whitespace is not Java \s: it stays on the edge token
        7: "\xa0low banana\u3000",
        8: "\x1clow newest\x1f \x85widest",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    merges = bpe_train_merges(df, "text", k=5)
    got_k = {r["doc_id"]: (r["n_tokens"], r["tok_md5"])
             for r in bpe_encode(df, merges, kernel=True).collect()}
    got_e = {r["doc_id"]: (r["n_tokens"], r["tok_md5"])
             for r in bpe_encode(df, merges, kernel=False).collect()}
    assert got_k == got_e
