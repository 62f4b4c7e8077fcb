"""Corpus-curation operators (SURVEY.md §2.12 E25-E28, E33-E34).

The standard LLM training-data curation passes, re-expressed Spark-first
over the `documents` / derived-sequences tables. The reference repo's
preprocessing philosophy (drop physiologically implausible samples
before feature extraction, `preprocessing.py`) is applied to web text:
drop degenerate / boilerplate / leaking documents before training.

Scale stance (100 TB):
- Per-document statistics (repetition, PII) are scan-stage array /
  regexp expressions — zero shuffle, zero UDF, whole-stage codegen.
- Corpus-level passes (boilerplate DF, decontamination) reduce the
  corpus to a SMALL driver-side or broadcast set first (high-DF words
  are few by definition; an eval split is small by construction), then
  rewrite the big side in the scan stage — the big table is never
  shuffled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _safe_range, words
from ..planutil import literal_array

# ---------------------------------------------------------------------------
# E25: Gopher-style repetition statistics + filter
# ---------------------------------------------------------------------------


def _sorted_run_stats(sorted_arr: Column, zero_prev: Column) -> Column:
    """One aggregate pass over a SORTED array returning
    struct(best = max run length == max per-value count,
           dups = elements equal to their predecessor == n - n_distinct).

    ``zero_prev`` must be a value that cannot equal any real element
    (an empty string / empty-string struct — ``words`` drops empties).
    One pass replaces both ``array_distinct`` (hash-set build per doc)
    and a per-distinct-value recount; measured ~6x cheaper on 600-word
    docs."""
    zero = F.struct(
        zero_prev.alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("dups"),
    )
    run = lambda acc, w: F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
    return F.aggregate(
        sorted_arr,
        zero,
        lambda acc, w: F.struct(
            w.alias("prev"),
            run(acc, w).alias("run"),
            F.greatest(acc["best"], run(acc, w)).alias("best"),
            (acc["dups"] + F.when(w == acc["prev"], 1).otherwise(0)).alias("dups"),
        ),
        lambda acc: F.struct(acc["best"].alias("best"), acc["dups"].alias("dups")),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition statistics (the Gopher repetition rules,
    Rae et al. 2021 §A1.1, adapted to single-line documents):

    - ``dup_word_frac``   1 - distinct words / words
    - ``top_word_frac``   count of the most frequent word / words
    - ``dup_2gram_frac``  1 - distinct word 2-grams / word 2-grams

    Everything is a scan-stage array expression — per-document work,
    ZERO shuffle, no UDF: the filter runs at ingest rate and its verdict
    columns are available for predicate pushdown downstream. Duplicate /
    top counts come from single sorted-run aggregate passes; 2-grams are
    compared as (w_i, w_{i+1}) STRUCT pairs (binary compare), never
    materialized as concatenated strings.
    """
    ws = words(F.col(text_col))
    n = F.size(ws)
    # word pass: sorted runs give both the top count and the dup count
    wstats = _sorted_run_stats(F.array_sort(ws), F.lit(""))
    # 2-gram pass: adjacent-word struct pairs, sorted (struct sort/equality
    # is field-lexicographic), same run aggregate
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(ws, 1, n - 1),
            F.slice(ws, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    gstats = _sorted_run_stats(
        F.array_sort(pairs), F.struct(F.lit("").alias("a"), F.lit("").alias("b"))
    )
    ng = F.size(pairs)

    frac = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(
        F.lit(0.0)
    )
    return df.withColumns(
        {
            "n_words": n.cast("long"),
            "dup_word_frac": frac(wstats["dups"], n),
            "top_word_frac": frac(wstats["best"], n),
            "dup_2gram_frac": frac(gstats["dups"], ng),
        }
    )


def gopher_repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_dup_word_frac: float = 0.80,
    max_top_word_frac: float = 0.20,
    max_dup_2gram_frac: float = 0.85,
) -> DataFrame:
    """Keep documents below the repetition thresholds (Gopher drops docs
    whose duplicate-line / top-n-gram fractions exceed fixed cutoffs;
    same shape here over words). Pure filter over ``repetition_stats``
    columns — Catalyst pushes it into the scan stage."""
    s = repetition_stats(df, text_col)
    return s.filter(
        (F.col("n_words") >= min_words)
        & (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("dup_2gram_frac") <= max_dup_2gram_frac)
    )


# ---------------------------------------------------------------------------
# E26: corpus-DF boilerplate scrub (C4-style, word-level)
# ---------------------------------------------------------------------------


def high_df_words(
    df: DataFrame, text_col: str = "text", max_df_frac: float = 0.5
) -> list[str]:
    """Words whose document frequency exceeds ``max_df_frac`` of the
    corpus — boilerplate by definition (C4 removes lines repeated across
    the corpus; with single-line docs the unit is the word). The result
    is SMALL by construction (a term in >50% of documents is a handful
    of stopwords/boilerplate tokens), so collecting it to the driver is
    bounded regardless of corpus size. One word-key shuffle over
    per-doc-distinct words; everything downstream is literal-folded."""
    agg = (
        df.select(F.explode(F.array_distinct(words(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df_count"))
    )
    n_docs = df.count()
    rows = agg.filter(F.col("df_count") > max_df_frac * n_docs).collect()
    return sorted(r["word"] for r in rows)


def corpus_df_scrub(
    df: DataFrame,
    blocked: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Remove the blocked (high-DF boilerplate) words from every
    document and report how many were dropped. The blocked set is a
    LITERAL array (from ``high_df_words``), so the rewrite is pure
    scan-stage expression work on the big side — no join, no shuffle,
    no UDF; at 100 TB this runs at ingest rate."""
    blit = F.array(*[F.lit(w) for w in blocked])
    ws = words(F.col(text_col))
    kept = F.filter(ws, lambda w: ~F.array_contains(blit, w))
    return df.withColumns(
        {
            "text_scrubbed": F.array_join(kept, " "),
            "n_removed": (F.size(ws) - F.size(kept)).cast("long"),
        }
    )


# ---------------------------------------------------------------------------
# E27: PII redaction
# ---------------------------------------------------------------------------

# Patterns are deliberately RE2-compatible (no backreferences or
# lookaround) so the DuckDB (RE2) oracle and Spark (java.util.regex)
# compile the exact same language.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9\-]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers and count matches
    per class (counted BEFORE redaction; replacement order is email →
    ip → phone so the broader phone pattern cannot eat a redacted
    email's digits). Pure ``regexp_replace`` / ``regexp_extract_all``
    chain: scan-stage, codegen'd, zero shuffle — the standard pre-train
    scrub at ingest rate."""
    out = df
    red = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).cast(
                "long"
            ),
        )
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("text_redacted", red)


# ---------------------------------------------------------------------------
# E28: train/eval decontamination (token n-gram overlap)
# ---------------------------------------------------------------------------


def token_shingles(tokens: Column, n: int) -> Column:
    """Distinct '-'-joined n-grams of an int token array."""
    ts = F.transform(tokens, lambda t: t.cast("string"))
    return F.array_distinct(
        F.transform(
            _safe_range(F.size(ts) - (n - 1)),
            lambda i: F.array_join(F.slice(ts, i, n), "-"),
        )
    )


def decontaminate_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-train-document count of token n-grams that also appear in the
    eval split — the standard pre-training decontamination pass (docs
    with any overlap are dropped or flagged; n in the 8-13 range in
    practice, e.g. GPT-3 App. C / PaLM used 8-13-gram collision checks).

    Scale shape: the eval side is small by construction, so its distinct
    shingle set is broadcast and the train side is a scan + broadcast
    semi-style hash join — the 100 TB train corpus is never shuffled.
    (At extreme eval sizes the broadcast becomes a bloom filter; the
    join below is what AQE would already convert.)
    """
    sh = lambda df: df.select(
        F.col(id_col), F.explode(token_shingles(F.col(tokens_col), n)).alias("sh")
    )
    eval_sh = sh(eval_df).select("sh").distinct()
    return (
        sh(train)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def _bloom_probes(sh: Column, m_bits: int, k: int) -> list[Column]:
    """k probe positions for one shingle: pmod(xxhash64(i, sh), m). The
    hash device is Spark's own xxhash64 — build and probe sides use the
    IDENTICAL function, so there is no cross-language hash drift."""
    return [F.pmod(F.xxhash64(F.lit(i), sh), F.lit(m_bits)) for i in range(k)]


def build_bloom_bitmap(
    eval_df: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    bits_per_item: int = 10,
    k: int = 4,
) -> tuple[list[int], int]:
    """Bloom bitmap over the eval split's distinct token n-grams,
    returned as (list of 64-bit words, m_bits). Sizing: m = bits_per_item
    x n_distinct shingles (rounded to a word), so the expected FP rate is
    (1 - e^(-k/bits_per_item))^k — ~1.2% at the 10/4 default.

    Build shape: the probe positions are computed IN SPARK and OR-packed
    into 64-bit words EXECUTOR-SIDE (groupBy(p >> 6) + bit_or of the
    shifted bit — map-side partial aggregation collapses each word once
    per task), so the driver collects at most m_bits/64 bigint rows
    (~the bitmap itself, ~1.5 MB per 100M bits) — never the probe
    positions (r6 ADVICE: the previous distinct-positions collect was
    ~10^8 driver Rows at the docstring's 10M-shingle eval union). The
    eval corpus itself is never collected, and the result stays bounded
    by the bitmap size no matter how large the eval suite grows."""
    shingles = eval_df.select(
        F.explode(token_shingles(F.col(tokens_col), n)).alias("sh")
    ).distinct()
    n_items = shingles.count()
    m_bits = max(64, ((bits_per_item * max(n_items, 1) + 63) // 64) * 64)
    # shiftleft needs call_function for a Column shift amount; longs are
    # signed so bit 63 arrives already two's-complement folded via bit_or
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
    )
    packed = (
        shingles.select(F.explode(F.array(*_bloom_probes(F.col("sh"), m_bits, k))).alias("p"))
        .select(F.shiftright("p", 6).cast("int").alias("w"), bit.alias("b"))
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    words_arr = [0] * (m_bits // 64)
    for r in packed:
        words_arr[int(r["w"])] = int(r["word"])
    return words_arr, m_bits


def decontaminate_overlap_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    bits_per_item: int = 10,
    k: int = 4,
) -> DataFrame:
    """E28b: Bloom-filter decontamination — same contract as
    ``decontaminate_overlap`` (per-train-doc count of eval-overlapping
    n-grams, only docs with n_overlap > 0 returned) but the eval side is
    a BITMAP, not the shingle strings. One-sided error: never misses a
    real overlap (no false negatives), overcounts by the measured FP
    rate (pytest pins it against the analytic bound).

    Scale shape: the exact path broadcasts every distinct eval shingle
    STRING (~50 bytes each — a many-benchmark eval union of 10M shingles
    is a 500 MB broadcast); the bitmap is bits_per_item bits per shingle
    (~12 MB for the same union), rides as a ONE-ROW broadcast
    array<bigint>, and the membership test is k getbit probes inside a
    higher-order filter — the train side stays a zero-join scan stage
    (broadcast nested loop of a 1-row side), with no shuffle anywhere on
    the train corpus."""
    words_arr, m_bits = build_bloom_bitmap(eval_df, n, tokens_col, bits_per_item, k)
    spark = train.sparkSession
    bm = spark.createDataFrame([(words_arr,)], "__bm array<bigint>")

    def hit(sh: Column) -> Column:
        probes = _bloom_probes(sh, m_bits, k)
        c = F.lit(True)
        for p in probes:
            word = F.element_at("__bm", (p / 64).cast("int") + 1)
            c = c & (F.getbit(word, (p % 64).cast("int")) == 1)
        return c

    return (
        train.crossJoin(F.broadcast(bm))
        .select(
            F.col(id_col),
            F.size(F.filter(token_shingles(F.col(tokens_col), n), hit)).alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
    )


# ---------------------------------------------------------------------------
# E33: bigram-LM cross-entropy scoring (the CCNet/KenLM-style quality pass)
# ---------------------------------------------------------------------------


def _word_bigrams(ws: Column) -> Column:
    return F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def bigram_lm_model(corpus: DataFrame, text_col: str = "text", k: float = 0.5) -> DataFrame:
    """Add-k-smoothed bigram LM trained on the corpus:
    ln P(b|a) = ln((c(a,b) + k) / (c(a) + k*V)). One shuffle on the
    bigram key plus one on the unigram key; the result is vocabulary-
    bounded (in a web pipeline: count-pruned to the top-M bigrams), so
    downstream scoring can broadcast it."""
    ws = words(F.col(text_col))
    uni = (
        corpus.select(F.explode(ws).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    bi = (
        corpus.select(F.explode(_word_bigrams(ws)).alias("bg"))
        .select("bg.a", "bg.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    return (
        bi.join(uni, "a")
        .join(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.log((F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))).alias("lnp"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under the bigram LM (lower = more
    predictable text; the CCNet quality signal — docs are kept/binned by
    this score). The model rides as the BROADCAST side; the corpus is
    exploded to bigrams, hash-joined, and re-aggregated per doc — one
    shuffle on the doc key, none on the corpus text itself. Documents
    whose bigrams all miss the model would be dropped by the inner join;
    with a model trained on the same corpus every bigram hits."""
    ws = words(F.col(text_col))
    e = df.select(F.col(id_col), F.explode(_word_bigrams(ws)).alias("bg")).select(
        id_col, "bg.a", "bg.b"
    )
    return (
        e.join(F.broadcast(model), ["a", "b"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("lnp").alias("s"))
        .select(
            id_col,
            "n_bigrams",
            F.round(-F.col("s") / F.col("n_bigrams"), 6).alias("cross_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# E34: corpus-vocabulary tokenizer — documents -> pre-tokenized sequences
# (closes the loop to the engine's own input schema: doc_id, tokens, n_tok)
# ---------------------------------------------------------------------------


def build_vocab(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, token_id) with DENSE deterministic ids (row_number over the
    alphabetical word order, 1-based; 0 is reserved for <unk>). The
    single-partition window is fine because a vocabulary is small by
    definition; a web-scale tokenizer would assign frequency-ordered ids
    from the same distinct-aggregate."""
    from pyspark.sql import Window

    uni = corpus.select(F.explode(words(F.col(text_col))).alias("word")).distinct()
    return uni.withColumn(
        "token_id", F.row_number().over(Window.orderBy("word")).cast("int")
    )


def tokenize(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """text -> ``tokens array<int>`` in word order — the pass that
    produces the engine's own flagship input shape (input_hint:
    ``doc_id, tokens:array<int32>, n_tok``). Explode with position,
    LEFT join the BROADCAST vocabulary (misses become ``unk_id``),
    re-assemble per doc sorted by position: one shuffle on the doc key,
    none on the text. Docs with zero words produce no row (nothing to
    train on)."""
    ws = words(F.col(text_col))
    e = df.select(F.col(id_col), F.posexplode(ws).alias("pos", "word"))
    j = e.join(F.broadcast(vocab), "word", "left").withColumn(
        "tid", F.coalesce(F.col("token_id"), F.lit(unk_id))
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 64,
    stride: int = 48,
) -> DataFrame:
    """E43: overlapping document chunking — the RAG / embedding-prep
    pass (long docs split into fixed word windows with overlap so no
    boundary sentence is lost; chunk k covers words
    [1 + k*stride, 1 + k*stride + chunk_words - 1], the final chunk
    truncates at the doc end). A tail chunk that would add NO new words
    (fully contained in the previous chunk — happens when
    stride < n_words <= chunk_words boundary-aligns) is suppressed
    (r6 VERDICT ask #6): k_max = max(0, min(floor((n-1)/stride),
    ceil((n-chunk_words)/stride))) — the min keeps gapped sampling
    (stride > chunk_words) at the every-stride contract. Returns
    (doc_id, chunk_id, start_word, n_words, chunk_text);
    zero-word/NULL docs emit nothing.

    Scale shape: pure scan-stage posexplode of an in-row sequence —
    zero shuffle, zero join, zero UDF; chunking 100 TB costs one read
    and writes ~chunk_words/stride x the input. The downstream embed
    step consumes (doc_id, chunk_id) as its key. Guard: Spark's
    ``sequence(0, k)`` DESCENDS for k < 0, so empty docs must not reach
    the sequence builder."""
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select(F.col(id_col), ws.alias("__ws")).filter(F.size("__ws") > 0)
    n = F.size("__ws")
    k_max = F.greatest(
        F.lit(0),
        F.least(
            F.floor((n - 1) / stride),
            # ceil((n - chunk_words) / stride) in floor form
            F.floor((n - chunk_words + stride - 1) / stride),
        ),
    ).cast("int")
    ks = F.sequence(F.lit(0), k_max)
    e = d.select(id_col, "__ws", F.explode(ks).alias("chunk_id"))
    start = F.col("chunk_id") * stride + 1
    return e.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_word"),
        F.least(F.lit(chunk_words), F.size("__ws") - F.col("chunk_id") * stride)
        .cast("long")
        .alias("n_words"),
        F.array_join(F.slice("__ws", start, chunk_words), " ").alias("chunk_text"),
    )


def md5_feature_weights(dim: int, seed: str = "w:") -> list[float]:
    """Deterministic stand-in for a trained linear-classifier weight
    vector: w[j] = md5-derived 32-bit int / 2^32 - 0.5, uniform on
    [-0.5, 0.5). Every value is an exactly-representable double (dyadic
    integer / 2^32 minus 0.5), so an external SQL engine re-deriving the
    weights from its own md5 lands on bit-identical doubles — the same
    device as the r3 LSH hyperplane weights. In production the list
    comes from an actual training run (fastText / logistic regression on
    labeled quality data); the engine only needs the final vector."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}{j}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
        for j in range(dim)
    ]


def hashed_linear_classifier(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
    feature_seed: str = "f:",
    score_round: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """E40: linear quality classifier over hashed bag-of-words features —
    the fastText/logistic-regression quality pass every web-scale
    pipeline runs (GPT-3 WebText classifier, LLaMA quality filter,
    CCNet's supervised head). score = mean over words of
    w[md5(word) mod dim] + bias; prob = sigmoid(score); keep = score >
    threshold.

    Scale shape: the model is a LITERAL array in the plan (dim doubles —
    a few KiB even at dim 64k), the feature hash and the dot product are
    ``F.aggregate`` over the in-row word array — ZERO shuffle, zero
    join, zero UDF, whole-stage codegen in the scan stage. This is the
    cheapest possible 100 TB shape: a full-corpus quality pass costs one
    read. Contrast ``bigram_lm_score`` (E33), whose model is data and
    rides a broadcast join.

    Null/empty safety: null text scores as empty (n_words = 0, score =
    bias) rather than dropping or yielding -1 sizes (r5 ADVICE item).
    ``score_round`` rounds score/prob (round-6 in the registered query:
    the word-sum order differs between engines, so the comparison is at
    6 decimals like the bigram-LM twin); ``keep`` cuts on the rounded
    score so an external twin's independently-ordered sum makes the
    identical keep/drop decision."""
    dim = len(weights)
    warr = literal_array([float(x) for x in weights], "DOUBLE")
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    bucket = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit(feature_seed), w)), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(dim),
    )
    dot = F.aggregate(
        ws, F.lit(0.0), lambda acc, w: acc + F.element_at(warr, bucket(w).cast("int") + 1)
    )
    n = F.size(ws)
    score = F.when(n > 0, dot / n + F.lit(float(bias))).otherwise(F.lit(float(bias)))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
    if score_round is not None:
        score_out, prob_out = F.round(score, score_round), F.round(prob, score_round)
    else:
        score_out, prob_out = score, prob
    return df.select(
        id_col,
        *extra_cols,
        n.cast("long").alias("n_words"),
        score_out.alias("score"),
        prob_out.alias("prob"),
        (score_out > F.lit(float(threshold))).alias("keep"),
    )


def detokenize(
    df: DataFrame,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """tokens array<int> -> space-joined text via the broadcast inverse
    vocabulary (unknown ids render as '<unk>'). Same shape as
    ``tokenize``: explode with position, broadcast join, positional
    reassembly — one doc-key shuffle."""
    e = df.select(F.col(id_col), F.posexplode(F.col(tokens_col)).alias("pos", "token_id"))
    j = e.join(F.broadcast(vocab), "token_id", "left").withColumn(
        "w", F.coalesce(F.col("word"), F.lit("<unk>"))
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
                ),
                " ",
            ).alias("text_rt")
        )
    )


def quality_budget_select(
    df: DataFrame,
    weights: list[float],
    budget: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salted: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """E51: quality-ordered token-budget selection — the curation pass
    that turns "we want B tokens per source" into a concrete keep set
    (FineWeb / LLaMA-style: rank by classifier quality, take greedily
    until the budget is spent). Score every doc with the E40 hashed
    linear classifier, order each source by (round-6 prob desc, doc_id)
    and keep docs while the running token total stays within ``budget``
    (a doc that would cross the line is excluded — the budget is a hard
    cap, not a target to overshoot).

    Determinism / twin safety: the cumulative sum runs over the ROUNDED
    prob (the established E40/E42 device — the raw word-sum order
    differs between engines), ties broken by id, and the budget compare
    is exact integer n_words arithmetic — an external engine replaying
    the same ordering reproduces the keep set bit-for-bit.

    Scale shape: ONE shuffle on the source key; scoring stays in the
    scan stage (E40 is shuffle-free). With ``salted=False`` the window
    is a single sorted run per source — a hot source serializes into
    one task the same way E36's hot-shingle window does (linear, not
    quadratic). ``salted=True`` is the E51b scale path: the E39
    two-level device adapted to a PREFIX SUM over a data-dependent
    order key — the salt cannot be a hash prefix (order is by prob,
    not by hash), so it comes from a per-source QUANTILE pass:

    1. per-source approximate prob quantiles (``n_salts - 1`` cuts —
       a tiny broadcast grid; approximation is harmless because ANY
       monotone-in-prob bucketing yields the identical final sum);
    2. bucket = number of cuts strictly above the row's prob — bucket
       0 holds the highest probs, and equal probs share a bucket, so
       bucketing is order-monotone and the (prob desc, id) sort
       concatenated across buckets equals the single-window order;
    3. local running sum WITHIN ``(source, bucket)`` — a hot source
       spreads over ``n_salts`` tasks;
    4. broadcast exclusive offsets = running token totals over the
       tiny per-``(source, bucket)`` grid; ``cum_tokens`` = local sum
       + offset, bit-identical to the unsalted window (pytest pins it
       on a 90%-one-source skew)."""
    from pyspark.sql import Window

    scored = hashed_linear_classifier(
        df, weights, score_round=6, text_col=text_col, id_col=id_col,
        extra_cols=(source_col,),
    )
    out_cols = [
        id_col,
        source_col,
        "n_words",
        "prob",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    ]
    if not salted:
        w = Window.partitionBy(source_col).orderBy(F.desc("prob"), F.asc(id_col))
        return (
            scored.withColumn("cum_tokens", F.sum("n_words").over(w))
            .filter(F.col("cum_tokens") <= budget)
            .select(*out_cols)
        )

    qs = [i / n_salts for i in range(1, n_salts)]
    cuts = scored.groupBy(source_col).agg(
        F.percentile_approx("prob", qs).alias("__cuts")
    )
    j = scored.join(F.broadcast(cuts), source_col)
    # bucket is a function of prob alone: monotone non-increasing, ties
    # land together — concatenating buckets in order reproduces the
    # global (prob desc, id) sort exactly
    j = j.withColumn(
        "__b", F.size(F.filter("__cuts", lambda c: c > F.col("prob"))).cast("int")
    ).drop("__cuts")
    # one corpus exchange on (source, bucket) serves the local running
    # sum, the per-bucket total (window max over the same clustering —
    # no new exchange) AND the grid distinct (subset-key clustering);
    # the offsets branch re-derives the same exchange subtree, which
    # exchange reuse dedupes at runtime
    wloc = Window.partitionBy(source_col, "__b").orderBy(F.desc("prob"), F.asc(id_col))
    j = j.withColumn("__lc", F.sum("n_words").over(wloc)).withColumn(
        "__t", F.max("__lc").over(Window.partitionBy(source_col, "__b"))
    )
    woff = (
        Window.partitionBy(source_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        j.select(source_col, "__b", "__t")
        .distinct()
        .select(
            source_col,
            "__b",
            F.coalesce(F.sum("__t").over(woff), F.lit(0)).alias("__off"),
        )
    )
    return (
        j.join(F.broadcast(offsets), [source_col, "__b"])
        .withColumn("cum_tokens", F.col("__lc") + F.col("__off"))
        .filter(F.col("cum_tokens") <= budget)
        .select(*out_cols)
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    k: int = 6,
    end_mark: str = "</w>",
) -> "list[tuple[str, str, int]]":
    """E52: BPE tokenizer training (Sennrich et al. 2016) — learn the
    first ``k`` byte-pair merges from the corpus. The pipeline step
    every LLM build runs BEFORE tokenization (E34 consumes a vocab;
    this is where one comes from).

    Algorithm, exactly the reference shape: (1) corpus -> word
    frequency table (the ONLY corpus-scale stage: one groupBy(word)
    shuffle with map-side combine — the shuffle carries distinct words,
    never documents); (2) k rounds over the VOCAB of: count adjacent
    symbol pairs weighted by word frequency, take the most frequent
    pair (ties broken lexicographically by (left, right) — pinned,
    where the reference's dict max() is arbitrary), merge it greedily
    left-to-right in every word. Words start as character lists +
    ``end_mark``.

    The greedy merge is a native ``F.aggregate`` fold: append the next
    symbol, or replace the just-appended left with left||right when the
    pair matches — after a merge the accumulator tail is the merged
    token (never equal to ``left``, since ``right`` is non-empty), so
    the fold cannot double-consume a position; this reproduces the
    reference's skip-the-consumed-index scan exactly (overlapping runs
    like 'aaa' merge at alternating positions).

    Scale shape: the k-round loop runs on the word-frequency table —
    BOUNDED by |distinct words| regardless of corpus size (the
    canonical implementation trains on the frequency dict, not the
    corpus) — with one tiny argmax action per round and an eager
    localCheckpoint pinning each round's vocab (k nested fold
    expressions would otherwise stack in one lineage). Returns the
    merge list [(left, right, pair_count)] in rank order — plan-literal
    input to a downstream encoder the same way E40's weights are."""
    from .dedup import spread
    from ..functions.text import words

    wc = (
        spread(df)
        .select(F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")), lambda i: F.col("word").substr(i, F.lit(1))
    )
    vocab = wc.select(
        "word", "cnt", F.concat(chars, F.array(F.lit(end_mark))).alias("syms")
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    for _ in range(k):
        # guard: sequence(1, 0) DESCENDS — fully-merged single-symbol
        # words must contribute no pairs
        n_pairs = F.size("syms") - 1
        pair_idx = F.when(n_pairs >= 1, F.sequence(F.lit(1), n_pairs)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", (i + 1).cast("int")).alias("r"),
                    ),
                )
            ).alias("pr"),
        )
        top = (
            pairs.groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.desc("total"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, total = top[0]["l"], top[0]["r"], int(top[0]["total"])
        merges.append((left, right, total))
        step = lambda acc, x: F.when(  # noqa: E731
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))
        vocab = vocab.select(
            "word",
            "cnt",
            F.aggregate("syms", F.array().cast("array<string>"), step).alias("syms"),
        ).localCheckpoint(eager=True)
    return merges


def bpe_train_merges_local(
    df: DataFrame,
    text_col: str = "text",
    k: int = 6,
    end_mark: str = "</w>",
    min_count: int = 1,
) -> "list[tuple[str, str, int]]":
    """E52c: BPE training at PRODUCTION k — same merges as
    ``bpe_train_merges`` (pytest-pinned bit-identical), different
    execution shape for the merge loop.

    The distributed trainer runs one Spark job per merge round, which
    is correct and vocab-bounded but becomes a *scheduler* wall at a
    realistic k = 32,000 merges (~0.5-1 s/round of driver orchestration
    regardless of corpus size). The canonical implementation (Sennrich
    et al. 2016, learn_bpe) trains on the word-FREQUENCY dict, which
    fits in one process by construction. So:

    1. Corpus-scale stage (UNCHANGED, Spark): explode words ->
       groupBy(word) with map-side combine. The only stage that touches
       documents; the shuffle carries distinct words, never the corpus.
    2. ``collect()`` the bounded frequency table (|distinct words|
       rows; at 100 TB set ``min_count`` >= 2 — Zipf's tail is hapax
       legomena, so this prunes most rows while leaving every pair
       count that can win a merge race effectively unchanged only when
       the caller accepts that approximation; the default 1 is exact).
    3. Run the k-round merge loop driver-local with incremental
       pair-count maintenance: a pair->count dict, a pair->word-index
       inverted index, and a lazy-deletion max-heap for the argmax.
       Each round touches only the words containing the winning pair —
       O(occurrences) per round instead of O(vocab), and no per-round
       Spark job.

    Tie-break is pinned identically to the distributed trainer
    (count desc, then (left, right) ascending — Python's code-point
    string order equals Spark's UTF8 binary order), and the greedy
    left-to-right merge is the same semantics as the F.aggregate fold
    (a merged token never re-matches ``left`` within the round since
    ``right`` is non-empty). Returns [(left, right, pair_count)] in
    rank order, same contract as ``bpe_train_merges``."""
    import heapq
    from collections import defaultdict

    from .dedup import spread
    from ..functions.text import words as words_fn

    wc = (
        spread(df)
        .select(F.explode(words_fn(F.coalesce(F.col(text_col), F.lit("")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        wc = wc.filter(F.col("cnt") >= min_count)
    rows = wc.collect()  # bounded by |distinct words|, the dict BPE trains on

    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]) + [end_mark], int(r["cnt"])) for r in rows
    ]
    stats: "defaultdict[tuple[str, str], int]" = defaultdict(int)
    where: "defaultdict[tuple[str, str], set[int]]" = defaultdict(set)
    for i, (syms, cnt) in enumerate(vocab):
        for a, b in zip(syms, syms[1:]):
            stats[(a, b)] += cnt
            where[(a, b)].add(i)
    heap = [(-t, p[0], p[1]) for p, t in stats.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    for _ in range(k):
        best = None
        while heap:
            negt, hl, hr = heap[0]
            cur = stats.get((hl, hr), 0)
            if cur <= 0:
                heapq.heappop(heap)  # dead entry
            elif -negt != cur:
                heapq.heappop(heap)  # stale count: refresh lazily
                heapq.heappush(heap, (-cur, hl, hr))
            else:
                best = (hl, hr, cur)
                break
        if best is None:
            break
        left, right, total = best
        merges.append((left, right, total))
        merged = left + right
        touched: set[tuple[str, str]] = set()
        for i in sorted(where.get((left, right), ())):
            syms, cnt = vocab[i]
            out: list[str] = []
            j, n = 0, len(syms)
            while j < n:
                if j + 1 < n and syms[j] == left and syms[j + 1] == right:
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            if len(out) == n:  # stale index entry: pair no longer present
                where[(left, right)].discard(i)
                continue
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] -= cnt
                touched.add((a, b))
            for a, b in zip(out, out[1:]):
                stats[(a, b)] += cnt
                touched.add((a, b))
                where[(a, b)].add(i)
            vocab[i] = (out, cnt)
        stats.pop((left, right), None)  # fully consumed this round
        where.pop((left, right), None)
        for p in touched:
            t = stats.get(p, 0)
            if t > 0:
                heapq.heappush(heap, (-t, p[0], p[1]))
    return merges


def _bpe_encode_kernel(merges: "list[tuple[str, str, int]]", end_mark: str):
    """Arrow twin of the expression fold chain in ``bpe_encode``:
    per-word greedy left-to-right merge application in rank order (the
    exact ``bpe_train_merges_local`` apply loop), memoized on the
    distinct words of each Arrow batch — O(k·len) once per DISTINCT
    word instead of k nested interpreted folds per word INSTANCE.
    Tokenization mirrors functions.text.words exactly (ASCII \\s split,
    the device hash_embed_udf already pins bit-identical); md5 over the
    '-'-joined stream is hashlib-over-UTF8 == Spark/DuckDB md5."""
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    split_ws = re.compile(r"\s+", re.ASCII)
    mlist = [(left, right) for left, right, _ in merges]

    def k(texts):
        memo: dict[str, tuple[str, int]] = {}

        def enc_word(w: str) -> tuple[str, int]:
            got = memo.get(w)
            if got is None:
                syms = list(w) + [end_mark]
                for left, right in mlist:
                    out: list[str] = []
                    j, n = 0, len(syms)
                    while j < n:
                        if j + 1 < n and syms[j] == left and syms[j + 1] == right:
                            out.append(left + right)
                            j += 2
                        else:
                            out.append(syms[j])
                            j += 1
                    syms = out
                got = memo[w] = ("-".join(syms), len(syms))
            return got

        ns: list[int] = []
        hs: list[str] = []
        for t in texts:
            segs: list[str] = []
            total = 0
            # no str.strip(): it also strips Unicode whitespace (\xa0,
            # \u3000, \x1c-\x1f) that Catalyst's trim + Java-\s split keep
            # attached to the edge tokens; the ASCII split plus the empty-
            # token filter already drops ASCII whitespace at the edges.
            for w in split_ws.split(("" if t is None else t).lower()):
                if w:
                    s, n = enc_word(w)
                    segs.append(s)
                    total += n
            ns.append(total)
            hs.append(hashlib.md5("-".join(segs).encode()).hexdigest())
        return pd.DataFrame({"n_tokens": ns, "tok_md5": hs})

    k.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(k, "struct<n_tokens:bigint,tok_md5:string>")


def bpe_encode(
    df: DataFrame,
    merges: "list[tuple[str, str, int]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    end_mark: str = "</w>",
    carry: tuple[str, ...] = (),
    kernel: bool = True,
) -> DataFrame:
    """E52b: apply learned BPE merges — encode every document with the
    merge list from ``bpe_train_merges``, in rank order (the apply side
    real pipelines run at corpus scale; training runs once on the
    bounded vocab, encoding touches every document).

    Scale shape: the merge list is PLAN-LITERAL (like the E40 weights)
    and the whole encoder is nested in-row folds over each word's
    character array — ZERO shuffle, zero join, zero UDF: encoding
    100 TB costs one read. Contrast E34's tokenize, whose vocab is data
    and rides a broadcast join. Expression depth grows with k, so very
    long merge lists eventually want the vocab-join form (train already
    materializes the merged vocab) — at the k here the codegen'd fold
    chain is the cheaper plan.

    Returns (id_col, n_tokens, tok_md5): token count and an md5 over
    the '-'-joined token stream (the E34 array-compare device — never
    compare array columns raw across engines). Empty/NULL docs encode
    to zero tokens and md5('').

    ``kernel=True`` (default, r9): the encode runs as ONE Arrow stage
    memoized on distinct words (still zero shuffle/join — the merge
    list ships in the closure, not the plan) — the expression fold
    chain re-evaluates k nested interpreted folds per word INSTANCE and
    measured ~10x slower at sf0.1 even at k=6. ``kernel=False`` keeps
    the pure-Catalyst fold chain; a pytest pins the two bit-identical."""
    from ..functions.text import words

    if kernel:
        e = _bpe_encode_kernel(merges, end_mark)(F.coalesce(F.col(text_col), F.lit("")))
        return df.select(
            id_col,
            *carry,
            e["n_tokens"].alias("n_tokens"),
            e["tok_md5"].alias("tok_md5"),
        )

    def fold_merge(syms, left, right):
        step = lambda acc, x: F.when(  # noqa: E731
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))
        return F.aggregate(syms, F.array().cast("array<string>"), step)

    def enc(w):
        syms = F.concat(
            F.transform(F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))),
            F.array(F.lit(end_mark)),
        )
        for left, right, _ in merges:
            syms = fold_merge(syms, left, right)
        return syms

    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.flatten(F.transform(ws, enc))
    return df.select(
        id_col,
        *carry,
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(toks, "-")).alias("tok_md5"),
    )


def tokenizer_fertility(
    df: DataFrame,
    merges: "list[tuple[str, str, int]]",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """E56: per-source tokenizer efficiency report — the numbers that
    decide whether a learned tokenizer fits a corpus slice (fertility =
    subword tokens per word; chars/token = compression): encode with
    the E52b plan-literal fold chain, aggregate per group. The encode
    stays zero-shuffle scan-stage; the only exchange is the per-group
    agg (map-side combined, cardinality = |sources|).

    Returns (group, n_docs, total_words, total_tokens, fertility,
    chars_per_token), doubles rounded to 6 for the cross-engine gate.
    """
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    enc = bpe_encode(
        df.select(
            F.col(group_col).alias("grp"),
            F.col(text_col),
            F.size(ws).cast("long").alias("n_words"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("n_chars"),
        ),
        merges,
        text_col=text_col,
        id_col="grp",
        carry=("n_words", "n_chars"),
    )
    return (
        enc.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_tokens"),
            # zero guards: a group of all-empty docs divides 0/0, which
            # is NULL in Spark (non-ANSI) but inf/NaN or an error in an
            # external engine — pin NULL explicitly in BOTH engines
            F.when(
                F.sum("n_words") > 0, F.round(F.sum("n_tokens") / F.sum("n_words"), 6)
            ).alias("fertility"),
            F.when(
                F.sum("n_tokens") > 0, F.round(F.sum("n_chars") / F.sum("n_tokens"), 6)
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# E60: deterministic train/val/test split + cross-split leakage audit
# ---------------------------------------------------------------------------


def assign_split(doc_id: Column, val_pct: int = 1, test_pct: int = 1) -> Column:
    """Deterministic 3-way split label for ``doc_id``: 32-bit
    md5-prefix of 'split:<id>' mod 100 — test below test_pct, val below
    test_pct + val_pct, train otherwise.  Pure scan-stage expression
    (the repo-wide cross-engine hash device): membership is a function
    of the id ALONE, so any table carrying doc ids can be labeled
    without a join — including a PAIRS table, where both endpoints'
    splits are computed in-row."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), doc_id.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") % 100
    return (
        F.when(h < test_pct, F.lit("test"))
        .when(h < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def split_leakage_audit(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    val_pct: int = 1,
    test_pct: int = 1,
) -> DataFrame:
    """E60: the eval-leakage audit every pretraining split needs — how
    many NEAR-DUP pairs cross split boundaries (a test doc whose
    near-duplicate sits in train is memorization leakage the exact
    decontamination pass (E28) cannot see).

    Takes any candidate-pair table (``minhash_lsh_pairs`` is the scale
    path — banded, never all-pairs) and labels BOTH endpoints in-row
    via ``assign_split`` — ZERO joins; the only exchange is the final
    tiny (split, split) aggregate.  Pairs are normalized so split_a <=
    split_b lexicographically (endpoint ids carried along), giving per
    split-pair: pair count and distinct docs on each side.
    """
    sa, sb = assign_split(F.col(id_a), val_pct, test_pct), assign_split(
        F.col(id_b), val_pct, test_pct
    )
    keep_order = sa <= sb
    norm = pairs.select(
        F.when(keep_order, sa).otherwise(sb).alias("split_a"),
        F.when(keep_order, sb).otherwise(sa).alias("split_b"),
        F.when(keep_order, F.col(id_a)).otherwise(F.col(id_b)).alias("da"),
        F.when(keep_order, F.col(id_b)).otherwise(F.col(id_a)).alias("db"),
    )
    return norm.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("da").alias("n_docs_a"),
        F.countDistinct("db").alias("n_docs_b"),
    )


# ---------------------------------------------------------------------------
# E61: per-source corpus data card (the release-notes rollup)
# ---------------------------------------------------------------------------


def hashed_quality_prob(text: Column, weights: list[float], bias: float = 0.0) -> Column:
    """Per-row sigmoid quality prob of the E40 hashed linear classifier
    as a bare Column (the classifier's score formula, reusable inside
    other scan-stage compositions — hashed_linear_classifier is the
    full-projection operator form)."""
    dim = len(weights)
    warr = literal_array([float(x) for x in weights], "DOUBLE")
    ws = words(F.coalesce(text, F.lit("")))
    bucket = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit("f:"), w)), 1, 15), 16, 10).cast("long"),
        F.lit(dim),
    )
    dot = F.aggregate(
        ws, F.lit(0.0), lambda acc, w: acc + F.element_at(warr, bucket(w).cast("int") + 1)
    )
    n = F.size(ws)
    score = F.when(n > 0, dot / n + F.lit(float(bias))).otherwise(F.lit(float(bias)))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-score))


_DATACARD_LANGS = ("de", "en", "es", "fr", "und")


def corpus_datacard(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    weights: list[float] | None = None,
) -> DataFrame:
    """E61: the per-source data card a corpus release ships with —
    volume, exact-duplication excess, dominant language, length median,
    mean quality — composed from the repo's per-doc primitives in ONE
    aggregate.

    Plan shape: every per-doc statistic (token count, content
    fingerprint, langid argmax, E40 classifier prob) is a scan-stage
    expression — zero joins, zero UDFs. Two exchanges (pinned by
    pytest): count(DISTINCT fp) rewrites to a (source, fp) pre-agg, so
    the first exchange carries one combined row per distinct
    (source, fp) per task — about one tiny row per doc, the floor for
    an exact-dup statistic — and the second is the |sources|-key
    final. Cross-engine: counts/token sums are
    exact integers, the length median interpolates integers (exact
    halves), shares divide exact integers, and the mean prob averages
    round-6 per-doc probs (the E40 comparison policy).

    Null safety: fingerprints hash coalesce(text, '') — a NULL-text
    doc dedups against the empty doc instead of vanishing from the
    distinct count (the r6 ADVICE NOT-IN/NULL family).
    """
    from ..functions.text import langid

    if weights is None:
        weights = md5_feature_weights(1024)
    per_doc = df.select(
        F.col(source_col).alias("source"),
        F.size(words(F.coalesce(F.col(text_col), F.lit("")))).cast("long").alias("n_tok"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
        langid(F.col(text_col)).alias("lang"),
        F.round(hashed_quality_prob(F.col(text_col), weights), 6).alias("prob6"),
    )
    lang_structs = [
        F.struct(
            F.sum(F.when(F.col("lang") == l, 1).otherwise(0)).alias("cnt"),
            F.lit(l).alias("lang"),
        )
        for l in _DATACARD_LANGS
    ]
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("dup_excess"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("median_tokens"),
        F.round(F.avg("prob6"), 6).alias("mean_quality"),
        F.greatest(*lang_structs).alias("top"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "dup_excess",
        "median_tokens",
        "mean_quality",
        F.col("top.lang").alias("top_lang"),
        F.round(F.col("top.cnt").cast("double") / F.col("n_docs"), 6).alias("top_lang_share"),
    )


# ---------------------------------------------------------------------------
# E77: hyperlink extraction + domain link graph
# ---------------------------------------------------------------------------

_HREF_RE = r'href="(https?://[^"]+)"'


def extract_links(df: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """E77a: anchor URLs from raw HTML-ish text — (id, url) one row per
    href occurrence (order preserved, duplicates kept: link multiplicity
    is signal for the graph below). Pure scan-stage regexp — extracting
    links from 100 TB of crawl HTML costs one read; no DOM parse is
    attempted (the production trade every crawl pipeline makes for the
    link graph: regex over href attributes, full parsing only for the
    much smaller render path)."""
    from .dedup import spread

    return spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.regexp_extract_all(F.coalesce(F.col(html_col), F.lit("")), F.lit(_HREF_RE), 1)).alias("url"),
    )


def url_domain(url: Column) -> Column:
    """scheme-stripped host of an http(s) URL (ports kept — they
    distinguish origins), '' when the pattern doesn't match."""
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def domain_link_graph(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    src_domain_col: str = "src_domain",
) -> DataFrame:
    """E77b: the domain-level link graph — (src_domain, dst_domain,
    n_links, n_docs) aggregated from extracted anchors; self-loops
    (intra-domain navigation) dropped, the standard host-graph
    convention. The graph feeds PageRank-style quality priors and
    spam-cluster detection.

    Scale shape: extraction + domain parse are scan-stage; the ONLY
    exchange is the (src, dst) edge aggregation, whose cardinality is
    the domain graph (millions), not the corpus (billions)."""
    from .dedup import spread

    links = spread(df).select(
        F.col(src_domain_col).alias("src_domain"),
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.coalesce(F.col(html_col), F.lit("")), F.lit(_HREF_RE), 1)
        ).alias("url"),
    )
    edges = links.select(
        "src_domain", "doc_id", url_domain(F.col("url")).alias("dst_domain")
    ).filter((F.col("dst_domain") != "") & (F.col("dst_domain") != F.col("src_domain")))
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# E79: deterministic span-corruption mask planner (T5-style)
# ---------------------------------------------------------------------------


def span_corruption_plan(
    df: DataFrame,
    n_tok_col: str = "n_tokens",
    id_col: str = "doc_id",
    density: float = 0.15,
    span_len: int = 3,
    seed: str = "span:",
) -> DataFrame:
    """E79: T5-style span-corruption mask plan — which token spans each
    document masks for denoising pretraining, as DATA (the objective's
    sampling decision made once, deterministically, at corpus-prep time
    so every epoch/restart/engine sees the same masks).

    Deterministic stratified placement instead of T5's RNG permutation:
    n_spans = max(1, floor(n_tok * density / span_len)) (docs shorter
    than span_len emit nothing), the token range splits into n_spans
    equal strata, and span s starts at
    ``stratum_start + md5(seed || id || ':' || s) mod (stratum_len -
    span_len + 1)`` — spans can NEVER overlap (each lives in its own
    stratum, stratum_len >= span_len by construction), coverage is
    within one span of the target density, and the plan is a pure
    function of (id, n_tok): resume-stable, replayable in any engine
    (the repo's md5 device).

    Returns (id, span_idx, start, length) exploded — one row per span,
    0-based token offsets. Scan-stage in-row arithmetic: planning masks
    for 10^12 sequences costs one read, zero shuffle, zero UDF."""
    from .dedup import spread

    n_tok = F.col(n_tok_col).cast("long")
    n_spans = F.greatest(
        F.lit(1).cast("long"),
        F.floor(n_tok * F.lit(density) / F.lit(span_len)).cast("long"),
    )
    # integer strata: stratum s covers [floor(s*n/k), floor((s+1)*n/k))
    lo = lambda s: F.floor(s * n_tok / n_spans)  # noqa: E731
    h = lambda s: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"), F.lit(":"), s.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    spans = F.transform(
        F.sequence(F.lit(0).cast("long"), n_spans - 1),
        lambda s: F.struct(
            s.cast("long").alias("span_idx"),
            (lo(s) + F.pmod(h(s), lo(s + 1) - lo(s) - F.lit(span_len) + 1)).alias("start"),
            F.lit(span_len).cast("long").alias("length"),
        ),
    )
    return (
        spread(df)
        .filter(n_tok >= F.lit(span_len) * n_spans)  # every stratum must fit a span
        .select(F.col(id_col), F.explode(spans).alias("sp"))
        .select(
            id_col,
            F.col("sp.span_idx").alias("span_idx"),
            F.col("sp.start").alias("start"),
            F.col("sp.length").alias("length"),
        )
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
    seed: str = "vg:",
) -> DataFrame:
    """E92: vocabulary-saturation (Heaps' law) curve — how many NEW
    distinct words each additional corpus slice contributes, the
    diagnostic that sizes a tokenizer vocabulary and tells a curation
    team when more of the same source stops adding lexical coverage.

    Order device: "ingestion order" is made deterministic by hashing
    doc ids into n_buckets NESTED prefixes (md5 hex-substring device —
    prefix k = buckets 0..k, an unbiased corpus sample at every k, so
    the curve is a pure function of the corpus, reproducible across
    runs/engines/partitionings). A word's first_bucket = min bucket
    over the docs containing it; new_words(b) = |{w : first_bucket(w)
    = b}|, and the running sum is the vocab size of prefix b.

    Scale shape: explode → per-(word) MIN aggregate with map-side
    combine (the only corpus-scale exchange, keyed on the word —
    identical shape to the E52 word-frequency stage); the curve itself
    is n_buckets rows, its cumulative window trivial. Token totals per
    bucket ride the same scan.
    """
    b = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    ex = df.select(b.alias("__b"), F.explode(ws).alias("__w"))
    tok = ex.groupBy("__b").agg(F.count(F.lit(1)).alias("n_tokens"))
    first = ex.groupBy("__w").agg(F.min("__b").alias("__fb"))
    nw = first.groupBy("__fb").agg(F.count(F.lit(1)).alias("new_words"))
    w = Window.orderBy("__fb").rowsBetween(Window.unboundedPreceding, 0)
    curve = nw.select(
        F.col("__fb").alias("bucket"),
        "new_words",
        F.sum("new_words").over(w).alias("cum_vocab"),
    )
    return (
        curve.join(tok.withColumnRenamed("__b", "bucket"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "new_words",
            "cum_vocab",
        )
    )


def logodds_keyness(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    alpha0: float = 100.0,
    min_count: int = 5,
    k: int = 10,
) -> DataFrame:
    """E94: per-group distinctive vocabulary via the log-odds ratio with
    an informed Dirichlet prior (Monroe/Colaresi/Quinn "Fightin' Words"),
    the standard keyness statistic a curation team uses to see WHAT a
    source actually contributes ("which words make reddit reddit") and
    to catch source mislabeling/contamination (a "wikipedia" slice whose
    key terms are spam n-grams). Plain frequency ratios overweight rare
    words and underweight common ones; the Dirichlet-prior z-score

        delta_gw = ln((y_gw + a_w) / (n_g + a0 - y_gw - a_w))
                 - ln((y_w - y_gw + a_w) / (n - n_g + a0 - (y_w - y_gw) - a_w))
        z_gw    = delta_gw / sqrt(1/(y_gw + a_w) + 1/(y_w - y_gw + a_w))

    with a_w = a0 * y_w / n (prior mass proportional to corpus frequency)
    regularizes both tails. Output: top-k words per group by z, with the
    in-group and corpus counts.

    Scale shape: ONE corpus-scale exchange (explode -> (group, word)
    count with map-side combine, the E52 word-frequency shape). The
    corpus-frequency column rides a window keyed on word over that
    VOCAB-scale table, the per-group totals are a |groups|-row broadcast,
    and the grand total a 1-row broadcast; the top-k rank window sorts
    only rows passing min_count, partitioned by group. All arithmetic
    after the integer counts is double with a final round(6) so the
    DuckDB twin value-hashes (policy at plans/driver_queries.py:5-9).
    """
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    cnt = (
        df.select(F.col(group_col).alias("__g"), F.explode(ws).alias("__w"))
        .groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    yw = F.sum("__c").over(Window.partitionBy("__w")).cast("long")
    cnt = cnt.withColumn("__yw", yw)
    tot = cnt.groupBy("__g").agg(F.sum("__c").cast("long").alias("__ni"))
    grand = tot.agg(F.sum("__ni").cast("long").alias("__n"))
    j = cnt.join(F.broadcast(tot), "__g").crossJoin(F.broadcast(grand))
    aw = F.lit(alpha0) * F.col("__yw") / F.col("__n")
    num_g = F.col("__c") + aw
    den_g = F.col("__ni") + F.lit(alpha0) - F.col("__c") - aw
    rest = F.col("__yw") - F.col("__c")
    num_r = rest + aw
    den_r = F.col("__n") - F.col("__ni") + F.lit(alpha0) - rest - aw
    delta = F.log(num_g / den_g) - F.log(num_r / den_r)
    z = F.round(delta / F.sqrt(1.0 / num_g + 1.0 / num_r), 6)
    scored = (
        j.filter(F.col("__c") >= min_count)
        .select(
            F.col("__g").alias(group_col),
            F.col("__w").alias("word"),
            F.col("__c").alias("n_in_group"),
            F.col("__yw").alias("n_corpus"),
            z.alias("zscore"),
        )
    )
    w_rank = Window.partitionBy(group_col).orderBy(F.desc("zscore"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def source_lexical_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_r: int = 100,
) -> DataFrame:
    """E103: per-source lexical-health statistics — unigram Shannon
    entropy (low entropy = template/boilerplate-dominated source) and
    the Zipf rank-frequency slope over the top ``top_r`` words (natural
    text sits near -1; synthetic/spam sources deviate hard) — the two
    cheap scalars that catch a degenerate source before any model sees
    it. Entropy via the order-free decomposition
    H = ln(n) - (sum c*ln c)/n; slope via closed-form OLS on
    (ln rank, ln count). Double sums are rounded(6) after aggregation
    per the cross-engine float policy (plans/driver_queries.py:5-9).

    Scale shape: ONE corpus-scale exchange (the (group, word) count,
    E52 shape); entropy stats ride a per-group agg of the VOCAB-scale
    table; the rank window sorts only each group's top of vocab and the
    OLS runs on <= top_r rows per group. Returns (group, n_tokens,
    vocab, entropy, zipf_slope).
    """
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    cnt = (
        df.select(F.col(group_col).alias("__g"), F.explode(ws).alias("__w"))
        .groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    ent = cnt.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("__c").cast("double") * F.log(F.col("__c").cast("double"))).alias(
            "__sum_clnc"
        ),
    )
    ent = ent.select(
        "__g",
        "n_tokens",
        "vocab",
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - F.col("__sum_clnc") / F.col("n_tokens").cast("double"),
            6,
        ).alias("entropy"),
    )
    w_rank = Window.partitionBy("__g").orderBy(F.desc("__c"), F.asc("__w"))
    top = (
        cnt.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") <= top_r)
        .select(
            "__g",
            F.log(F.col("__r").cast("double")).alias("__x"),
            F.log(F.col("__c").cast("double")).alias("__y"),
        )
    )
    ols = top.groupBy("__g").agg(
        F.count(F.lit(1)).cast("double").alias("__m"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    slope = F.when(
        F.col("__m") * F.col("__sxx") - F.col("__sx") * F.col("__sx") != 0,
        F.round(
            (F.col("__m") * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
            / (F.col("__m") * F.col("__sxx") - F.col("__sx") * F.col("__sx")),
            6,
        ),
    )
    return (
        ent.join(ols.select("__g", slope.alias("zipf_slope")), "__g")
        .select(
            F.col("__g").alias(group_col), "n_tokens", "vocab", "entropy", "zipf_slope"
        )
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E104: Flesch reading-ease + Flesch-Kincaid grade per document —
    the classic curation feature for audience-level filtering and for
    flagging degenerate text (word-salad scores off-scale). Syllables
    use the standard vowel-group heuristic max(1, |[aeiouy]+ runs|) per
    word; sentences count [.!?]+ runs (min 1). Pure in-row regex
    arithmetic — scan-stage, zero exchanges, zero Python; the decimal
    literals (206.835, 1.015, 84.6, 0.39, 11.8, 15.59) parse to
    identical IEEE doubles in any engine, and both ratios are single
    divisions before the round-6.

    Returns (id, n_words, n_sentences, n_syllables, flesch, fk_grade);
    wordless docs yield NULL scores.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    ws = words(txt)
    n_syl = F.aggregate(
        F.transform(
            ws,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), F.lit(0)))
    ).cast("long")
    n_words = F.size(ws).cast("long")
    base = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6),
        ).alias("flesch"),
        F.when(
            F.col("n_words") > 0,
            F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6),
        ).alias("fk_grade"),
    )


def datacard_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """E110 phase 1: MERGEABLE per-(source, lang) sufficient statistics
    for the corpus data card — exact int64 (n_docs, sum_chars,
    sum_chars_sq), closed under addition, so a new crawl batch folds in
    with one tiny union+sum instead of a corpus re-scan (the E62
    maintained-sufficient-stats device applied to corpus reporting).
    One map-side-combined exchange on (source, lang)."""
    c = F.coalesce(F.length(F.col(text_col)), F.lit(0)).cast("long")
    return df.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(c).cast("long").alias("sum_chars"),
        F.sum(c * c).cast("long").alias("sum_chars_sq"),
    )


def merge_datacard_stats(current: DataFrame, batch: DataFrame) -> DataFrame:
    """E110 phase 2: fold a new batch's sufficient stats into the
    maintained table — pure addition on the (source, lang) key; cost is
    the size of the STATS tables, never the corpus."""
    return (
        current.unionByName(batch)
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
            F.sum("sum_chars_sq").cast("long").alias("sum_chars_sq"),
        )
    )


def finalize_datacard(stats: DataFrame) -> DataFrame:
    """E110 phase 3: the human-facing card from the sufficient stats —
    per source: doc/char totals, mean, population variance via the
    exact-integer form (n*sumsq - sum^2)/n^2 (one double division
    sequence, round-6), and the dominant language with its share
    (rank window over the |sources| x |langs| stats table; ties to the
    lexically-smallest lang). Everything here runs on the bounded stats
    table."""
    per_src = stats.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_chars").cast("long").alias("total_chars"),
        F.sum("sum_chars_sq").cast("long").alias("__sumsq"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_docs"), F.asc("lang"))
    top = (
        stats.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("n_docs").alias("__top_n"),
        )
    )
    n = F.col("n_docs").cast("double")
    return (
        per_src.join(top, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars").cast("double") / n, 6).alias("avg_chars"),
            F.round(
                (
                    F.col("n_docs") * F.col("__sumsq")
                    - F.col("total_chars") * F.col("total_chars")
                ).cast("double")
                / (F.col("n_docs") * F.col("n_docs")).cast("double"),
                6,
            ).alias("var_chars"),
            "top_lang",
            F.round(F.col("__top_n").cast("double") / n, 6).alias("top_lang_share"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """E124: k-anonymity / l-diversity disclosure-risk audit (Sweeney
    2002; Machanavajjhala 2007) — the structured-data privacy
    companion of E23 text PII redaction: before a table (or the
    metadata sidecar of a training corpus) is shared, every
    quasi-identifier combination must hide among >= k records
    (re-identification risk) AND span >= l distinct sensitive values
    (attribute-disclosure risk — a 10-record group is useless cover if
    all 10 share the sensitive value).

    Returns one row per QI equivalence class: the QI values, n_records,
    n_sensitive (distinct sensitive values, NULL counting as its own
    value via a sentinel so a NULL-only group is not vacuously
    diverse), and the two boolean flags.  Pure exact counting — one
    (QI) group exchange, the distinct-sensitive count a second
    map-side-combined aggregate on (QI, sensitive); nothing
    approximate, hash-exact in any engine.  Risk triage at 100 TB:
    the output is the bounded QI-class table, and the flags make the
    "rows to suppress or generalize" set a simple anti-join.
    """
    if k < 1 or l_div < 1:
        raise ValueError("k and l must be >= 1")
    qs = [F.col(c) for c in qi_cols]
    sent = F.coalesce(F.col(sensitive_col).cast("string"), F.lit("\x00null"))
    per_sv = df.groupBy(*qs, sent.alias("_sv")).agg(F.count(F.lit(1)).alias("_c"))
    out = per_sv.groupBy(*qs).agg(
        F.sum("_c").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_sensitive"),
    )
    return out.select(
        *qi_cols,
        "n_records",
        "n_sensitive",
        (F.col("n_records") >= F.lit(int(k))).alias("k_anonymous"),
        (F.col("n_sensitive") >= F.lit(int(l_div))).alias("l_diverse"),
    )
