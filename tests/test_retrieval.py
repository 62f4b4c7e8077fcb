"""Tokenizer fertility (E56): per-source fertility and compression of a
learned BPE merge list against a dict replay, plus its plan shape."""

from __future__ import annotations


def test_tokenizer_fertility_replay(spark):
    """E56: per-source fertility/compression against a dict replay of
    the same merges."""
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_train_merges,
        tokenizer_fertility,
    )

    rows = [
        ("a", "low lower lowest"),
        ("a", "low low"),
        ("b", "newer newest"),
        ("b", ""),
    ]
    docs = spark.createDataFrame(rows, "source string, text string")
    merges = bpe_train_merges(docs, "text", k=4)

    def encode(word, merges):
        syms = list(word) + ["</w>"]
        for left, right, _ in merges:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return syms

    import collections

    agg = collections.defaultdict(lambda: [0, 0, 0, 0])  # docs, words, toks, chars
    for src, text in rows:
        ws = (text or "").lower().split()
        a = agg[src]
        a[0] += 1
        a[1] += len(ws)
        a[2] += sum(len(encode(w, merges)) for w in ws)
        a[3] += len(text or "")
    got = {r.source: r for r in tokenizer_fertility(docs, merges).collect()}
    for src, (nd, nw, nt, nc) in agg.items():
        r = got[src]
        assert (r.n_docs, r.total_words, r.total_tokens) == (nd, nw, nt)
        assert r.fertility == round(nt / nw, 6)
        assert r.chars_per_token == round(nc / nt, 6)


def test_tokenizer_fertility_plan_one_exchange(spark):
    from seizury_hrv_featuresextraction_spark.operators.curation import (
        tokenizer_fertility,
    )

    docs = spark.createDataFrame(
        [("a", "low lower"), ("b", "low")], "source string, text string"
    )
    merges = [("l", "o", 3), ("lo", "w", 3)]
    plan = (
        tokenizer_fertility(docs, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
