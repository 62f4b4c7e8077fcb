"""Dataset-level statistics operators (O35-O38, O20/O56 splits).

All native aggregations; the two-pass z-score normalizer mirrors
sklearn's StandardScaler fit/transform as used at lstm_sequences.py:267-272
(population std there — ddof configurable here).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def label_histogram(df: DataFrame, label_col: str = "label") -> DataFrame:
    """O35: np.bincount twin."""
    return df.groupBy(label_col).agg(F.count(F.lit(1)).alias("count")).orderBy(label_col)


def class_weights(df: DataFrame, label_col: str = "label") -> DataFrame:
    """O38: sklearn 'balanced' weights = n / (k * count_c)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        label_col, (F.col("n") / (F.col("k") * F.col("cnt"))).alias("weight")
    )


def zscore_normalize(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] | None = None,
    ddof: int = 0,
    suffix: str = "_z",
) -> DataFrame:
    """O37: two-pass global (or per-key) standardization.

    Pass 1 computes mean/std (one shuffle / one scan); pass 2 broadcasts
    the tiny stats row back — no second shuffle of the big side.
    """
    std_fn = F.stddev_samp if ddof == 1 else F.stddev_pop
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__mu_{c}"), std_fn(c).alias(f"__sd_{c}")]
    if by:
        stats = df.groupBy(*by).agg(*aggs)
        out = df.join(F.broadcast(stats), list(by))
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.col(f"__sd_{c}")
        out = out.withColumn(
            c + suffix,
            F.when(sd > 0, (F.col(c) - F.col(f"__mu_{c}")) / sd).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"__mu_{c}" for c in cols], *[f"__sd_{c}" for c in cols])


def patient_level_splits(
    df: DataFrame,
    subject_col: str = "subject_id",
    test_frac: float = 0.2,
    val_frac: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """O20/O56: leakage-free subject-level train/val/test assignment
    (lstm_sequences.py:444-565: seeded shuffle of unique subjects, then
    whole subjects into splits). Deterministic via seeded xxhash ranking
    of distinct subjects; returns df + a ``split`` column."""
    subjects = (
        df.select(subject_col)
        .distinct()
        .withColumn("__r", F.xxhash64(F.col(subject_col).cast("string"), F.lit(seed)))
    )
    w = Window.orderBy("__r", subject_col)
    n_total = subjects.count()
    n_test = int(round(n_total * test_frac))
    n_val = int(round(n_total * val_frac))
    ranked = subjects.withColumn("__rank", F.row_number().over(w)).select(
        subject_col,
        F.when(F.col("__rank") <= n_test, F.lit("test"))
        .when(F.col("__rank") <= n_test + n_val, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return df.join(F.broadcast(ranked), subject_col)


def split_by_keys(
    df: DataFrame,
    keys_df: DataFrame,
    on: Sequence[str] | str,
) -> tuple[DataFrame, DataFrame]:
    """O20/O56: (in_split, out_split) via left_semi / left_anti joins."""
    on = [on] if isinstance(on, str) else list(on)
    return (
        df.join(F.broadcast(keys_df), on, "left_semi"),
        df.join(F.broadcast(keys_df), on, "left_anti"),
    )


def zip_truncate(
    a: DataFrame,
    b: DataFrame,
    by: Sequence[str] | str,
    pos_col: str = "pos",
) -> DataFrame:
    """O18: align two per-key positional streams to their common prefix.

    The reference truncates both arrays to ``min(len(a), len(b))``
    (data_processing_pipeline.py:644-647); relationally that is an inner
    join on (key, position) — naturally truncating, one shuffle on the
    join key, no length pre-pass."""
    by = [by] if isinstance(by, str) else list(by)
    return a.join(b, [*by, pos_col])


def hash_sample(df: DataFrame, id_col: str, rate: float, seed: str = "") -> DataFrame:
    """Deterministic content-addressed sampling for training-data
    pipelines: keep rows whose md5(seed || id) 16-bit prefix falls below
    ``rate * 65536``. Unlike ``df.sample`` the selection is a pure
    function of the row id — stable across runs, engines, partitionings
    and resumes, and composable with joins (both sides sample the same ids). Pure
    Catalyst expression evaluated in the scan stage (whole-stage
    codegen); rows drop before any shuffle or Python."""
    thr = int(rate * 65536)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    return df.filter(h < thr)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    n_shards: int = 16,
) -> DataFrame:
    """Contiguous sequence packing (pretraining batch assembly): docs are
    ordered by id WITHIN a hash shard, and each doc joins the bin of its
    starting offset (``floor(exclusive_cumsum / budget)``) — a doc may
    straddle a boundary; the training loader continues into the next bin.

    Sharding first means the sort is per-shard (one shuffle on the shard
    key), never a global order — at 100 TB each worker packs its own
    shard stream independently. Adds (shard, bin, offset) columns."""
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    out = df.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(size_col).over(w)
    out = out.withColumn("offset", (cum - F.col(size_col)).cast("long"))
    return out.withColumn("bin", F.floor(F.col("offset") / budget).cast("long"))


def pack_sequences_bfd(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    n_shards: int = 16,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """E12b: best-fit-decreasing bin packing — the no-split alternative
    to ``pack_sequences`` (which concat-packs and lets docs straddle bin
    boundaries). Every doc lands whole in exactly one bin; BFD (sort by
    size descending, place each doc in the fullest bin it still fits)
    is the classic near-optimal heuristic (<= 11/9 OPT + 1), so measured
    waste = budget x n_bins - sum(sizes) is the number a training-infra
    user compares against pad-batching (BENCH/curation_paths.md table).

    Determinism: docs order by (size DESC, id ASC) within their hash
    shard; among equally-loaded best-fit bins the lowest index wins; new
    bins take the next index. A pure function of the input — an external
    engine replaying the same rules reproduces bin ids exactly (the
    DuckDB twin runs the identical policy as a recursive CTE).

    Scale shape: ONE shuffle on the shard key, then each shard packs
    sequentially inside an ``applyInPandas`` kernel (bin packing is
    inherently order-dependent; sharding first bounds every sequential
    run to corpus/n_shards docs and makes shards the unit of
    parallelism, exactly as in ``shuffle_shards``). Returns
    (id, size, shard, bin)."""
    import pandas as pd

    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(size_col).cast("long").alias(size_col),
        # carry columns ride the SAME kernel instead of forcing the
        # caller into a corpus-scale rejoin on id afterwards
        *[F.col(c) for c in carry],
        shard.alias("shard"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # classic BFD via a bisect-sorted (residual, bin_idx) list:
        # best fit = first entry with residual >= s (smallest residual =
        # fullest bin; idx tiebreak = lowest bin), O(log B) search +
        # C-level memmove insert — replaces the O(B)-per-doc pure-Python
        # scan that made hot shards quadratic (r6 ADVICE). Placement
        # decisions are IDENTICAL to the scan form (same policy, same
        # tie rule), so bin ids — and the recursive-CTE twin — are
        # unchanged. Oversized docs (s > budget) open a dedicated bin
        # whose negative residual never matches again, as before.
        from bisect import bisect_left, insort

        pdf = pdf.sort_values([size_col, id_col], ascending=[False, True])
        avail: list[tuple[int, int]] = []  # sorted (residual, bin_idx)
        n_bins = 0
        bins: list[int] = []
        for s in pdf[size_col].tolist():
            i = bisect_left(avail, (s, -1))
            if i < len(avail):
                resid, j = avail.pop(i)
                insort(avail, (resid - s, j))
            else:
                j = n_bins
                n_bins += 1
                insort(avail, (budget - s, j))
            bins.append(j)
        pdf = pdf.copy()
        pdf["bin"] = pd.array(bins, dtype="int64")
        return pdf

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(list(base.schema.fields) + [StructField("bin", LongType())])
    return base.groupBy("shard").applyInPandas(pack, out_schema)


def stratified_hash_sample(
    df: DataFrame, id_col: str, stratum_col: str, rates: dict[str, float],
    default_rate: float = 0.0, seed: str = ""
) -> DataFrame:
    """Per-stratum deterministic sampling (E14): each stratum keeps rows
    whose content hash falls under ITS rate — the standard rebalancing
    move for skewed training corpora (e.g. downsample head languages,
    keep all of the tail). Same md5-prefix construction as
    ``hash_sample``: stable across runs/engines/partitionings, pure
    codegen'd scan-stage filter, no shuffle, no RNG state. The rates map
    is a literal CASE expression — it is configuration, not data, so
    nothing is broadcast or joined at any corpus size."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    thr = F.lit(int(default_rate * 65536))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum, F.lit(int(rate * 65536))).otherwise(thr)
    return df.filter(h < thr)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    alpha: float = 0.6,
    target_frac: float = 0.5,
    seed: str = "mix:",
) -> DataFrame:
    """E41: temperature-weighted source-mixture sampling — the
    multilingual/multi-source rebalancing pass (Conneau & Lample's
    p_g ∝ n_g^alpha; mT5 uses alpha=0.3): head groups downsample hard,
    tail groups keep (almost) everything, total output targets
    ``target_frac`` of the corpus.

    Per-group keep rate: r_g = min(1, target_frac * N / Z * n_g^(alpha-1))
    with Z = sum_g n_g^alpha — i.e. each group's quota is its
    temperature-weighted share of the target. Rates above 1 cap (a
    filter cannot upsample), so the realized total can undershoot when
    the tail is large; the capped rate is part of the contract.

    Unlike ``stratified_hash_sample`` (CONFIGURED rates), the rates here
    are DERIVED from the data in one tiny group-count aggregate. Row
    selection is the same deterministic md5 device, with the threshold
    ROUNDED to an integer (round(r*65536)) so the 16-bit hash compare is
    integer-vs-integer in any engine — pow() may differ by 1 ulp between
    math libraries, which only matters if r*65536 lands within 1 ulp of
    x.5 (measure-zero; stressed at sf0.1/sf1.0).

    Scale shape: one map-side-combining count agg over the group key
    (group cardinality rows), rates broadcast back, selection a
    scan-stage filter — the corpus itself is never shuffled."""
    n = F.col("__n").cast("double")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.sum("__n").cast("double").alias("__tot"),
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(alpha))).alias("__z"),
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            F.least(
                F.lit(1.0),
                F.lit(target_frac) * F.col("__tot") / F.col("__z") * F.pow(n, F.lit(alpha - 1.0)),
            ).alias("__rate"),
        )
        .withColumn("__thr", F.round(F.col("__rate") * 65536).cast("long"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h < F.col("__thr"))
        .drop("__rate", "__thr")
    )


def importance_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    floor: float = 0.05,
    seed: str = "imp:",
) -> DataFrame:
    """E42: score-guided importance sampling — the GPT-3 Appendix-A
    move (documents kept with probability increasing in classifier
    score, so high-quality text is over-represented WITHOUT hard
    filtering; low scores survive at a floor rate, preserving
    diversity). Keep probability p = floor + (1 - floor) * score for a
    score in [0, 1] (e.g. ``hashed_linear_classifier``'s sigmoid
    ``prob``).

    Selection is the engine's deterministic md5 device: keep iff
    hash16(id) < round(p * 65536). The per-doc threshold is an INTEGER,
    so the only cross-engine float risk is p*65536 landing within 1 ulp
    of x.5 — measure-zero, same contract as ``mixture_sample``. Unlike
    ``rand()``-based sampling the decision is reproducible across runs,
    partitionings, and engines, and composes with resume.

    Scale shape: pure scan-stage filter over (id, score) — zero
    shuffle, zero join, zero state. Returns the kept rows with the
    realized ``keep_thr`` attached (auditability: the exact integer cut
    each row survived)."""
    p = F.lit(float(floor)) + F.lit(1.0 - float(floor)) * F.col(score_col)
    thr = F.round(p * 65536).cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    return df.withColumn("keep_thr", thr).filter(h < F.col("keep_thr"))


def cap_per_group(df: DataFrame, id_col: str, group_col: str, k: int) -> DataFrame:
    """Per-group quota (E15): keep at most ``k`` rows per group, chosen
    by deterministic hash order (NOT arrival order — stable under any
    partitioning and resume). The training-data use is per-domain /
    per-source caps so no single crawl source dominates the mix. One
    shuffle on the group key; the rank is a plain window, so AQE's skew
    handling applies to hot groups."""
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, id_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def shuffle_shards(
    df: DataFrame, id_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """E38: deterministic corpus shuffle + sharding — the global
    training-order permutation every pre-training run needs (docs must
    not arrive in crawl/source order), WITHOUT a global sort. Each doc
    gets a pseudo-random shard and a position inside it, both pure
    functions of (id, seed):

    - ``shard`` = seeded md5 hash mod n_shards (md5 so an external SQL
      engine derives the identical permutation — same device as the
      stratified sampler and quota cap);
    - ``pos``   = rank of the hash WITHIN the shard (ties by id).

    Reading shards in (shard, pos) order IS the shuffled corpus, and
    it is resume-stable: re-running with the same seed reproduces the
    exact order, a different seed is a fresh permutation.

    Scale shape: ONE hash shuffle on the shard key + a within-partition
    sort — a global ORDER BY hash would rangepartition and sort the
    whole corpus through a sampled boundary exchange instead; sharding
    first makes each shard's sort local and the shard count the unit of
    downstream parallelism (one training-data file per shard). Shards
    are hash-balanced, so AQE has nothing to fix.
    """
    hhex = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    h = F.conv(F.substring(hhex, 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    bucket_size: int = 128,
    batch_docs: int = 8,
    salt_hex_chars: int = 2,
) -> DataFrame:
    """E39: length-bucketed batching — the pad-batching strategy
    (group similar-length docs so per-batch padding to the batch max is
    cheap), complementing ``pack_sequences`` (concat-packing). Each doc
    gets:

    - ``len_bucket``: ceil(length / bucket_size) — coarse length class;
    - ``batch_id`` / ``pos_in_batch``: deterministic md5-hash order
      within the bucket, ``batch_docs`` docs per batch (hash order, not
      input order, so batches are resume-stable and length-unbiased
      within a bucket);
    - ``pad_len``: the batch's max length — what every member pads to;
    - ``pad_waste``: pad_len - length, the tokens burned on padding.

    Scale shape (two-level parallel row_number — r5 verdict fix): doc
    lengths are heavy-tailed low, so most of a real corpus lands in a
    handful of length buckets; ranking a bucket in one window task would
    make the hot bucket a straggler by construction. Instead the global
    hash-order rank is composed from

    1. a rank WITHIN ``(len_bucket, salt)`` where salt = the leading
       ``salt_hex_chars`` hex chars of the ordering hash itself — salt is
       a MONOTONE prefix of the ordering key, so salt s ranks entirely
       before salt s+1 and concatenating salted ranks in salt order is
       exactly the single-task rank (16**salt_hex_chars tasks share each
       hot bucket);
    2. a broadcast offset = exclusive running count over the tiny
       ``(len_bucket, salt)`` count grid — bounded by
       n_length_classes x 16**salt_hex_chars rows regardless of corpus
       size (the count agg partial-aggregates map-side off the scan).

    The per-batch pad window then partitions by ``(len_bucket,
    batch_id)`` — ~``batch_docs`` rows per key, perfectly balanced. Two
    corpus-sized exchanges on balanced keys replace one exchange with a
    guaranteed straggler; output is bit-identical to the single-window
    formulation (pytest pins it against a brute reference).
    sum(pad_waste) over the output is the padding-efficiency metric
    batch-size tuning optimizes.
    """
    h = F.md5(F.col(id_col).cast("string"))
    bucket = F.ceil(F.col(len_col) / F.lit(bucket_size)).cast("long")
    salt = F.conv(F.substring(h, 1, salt_hex_chars), 16, 10).cast("int")
    d = df.withColumn("len_bucket", bucket).withColumn("__h", h).withColumn("__salt", salt)

    # tiny side: per-(bucket, salt) counts -> exclusive running offsets
    counts = d.groupBy("len_bucket", "__salt").agg(F.count(F.lit(1)).alias("__cnt"))
    woff = (
        Window.partitionBy("len_bucket")
        .orderBy("__salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "len_bucket",
        "__salt",
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).cast("long").alias("__off"),
    )

    wsalt = Window.partitionBy("len_bucket", "__salt").orderBy("__h", id_col)
    d = d.withColumn("__srk", F.row_number().over(wsalt) - 1)
    d = d.join(F.broadcast(offsets), ["len_bucket", "__salt"])
    rk = F.col("__srk") + F.col("__off")
    d = d.withColumn("batch_id", (rk / batch_docs).cast("long")).withColumn(
        "pos_in_batch", F.pmod(rk, F.lit(batch_docs)).cast("long")
    )
    wbatch = Window.partitionBy("len_bucket", "batch_id")
    pad = F.max(F.col(len_col)).over(wbatch).cast("long")
    return (
        d.withColumn("pad_len", pad)
        .withColumn("pad_waste", (F.col("pad_len") - F.col(len_col)).cast("long"))
        .drop("__h", "__salt", "__srk", "__off")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str,
    k: int,
    seed: str = "wps:",
) -> DataFrame:
    """E73: deterministic weighted sampling without replacement —
    priority sampling (Duffield/Lund/Thorup): per group, keep the k
    rows with the SMALLEST priority h/w, where h is the engine's
    60-bit md5 integer and w the row's weight.  Heavier rows draw
    stochastically smaller priorities, so inclusion probability scales
    with weight (token-weighted corpus draws: sampling documents
    proportional to length instead of uniformly), yet the draw is a
    pure function of (id, weight) — reproducible across runs,
    partitionings, engines, and resume, unlike rand()-based weighted
    reservoirs.

    Cross-engine bit-equality: priority = exact-int h (< 2^60) as an
    IEEE double divided by the exact-int weight — one correctly-rounded
    division in both engines; ranking ties break on id.  Weights must
    be positive integers (the caller's contract; zero/negative rows
    are dropped, matching the twin).

    Scale shape: one shuffle on the group key + a rank window.  A hot
    group is the E39 situation — two-level salted rank applies
    unchanged if a single group outgrows a task; at sampling's usual
    group arity (sources, domains) the plain window is the right
    default."""
    w = F.col(weight_col).cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    pri = h.cast("double") / w.cast("double")
    win = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (
        df.where(w > 0)
        .withColumn("priority", pri)
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def epoch_shard_plan(
    df: DataFrame, id_col: str, n_shards: int, n_epochs: int, seed: int = 0
) -> DataFrame:
    """E78: the MULTI-EPOCH training-order plan — every epoch needs a
    fresh global permutation (shuffle_shards, E38), and the naive way
    is one corpus scan + one shard shuffle PER EPOCH. Here the corpus
    is scanned ONCE and amplified in-row: each doc emits its (epoch,
    shard) assignment for all ``n_epochs`` epochs from per-epoch seeded
    hashes (seed:epoch:id — epoch e's permutation is exactly
    ``shuffle_shards(seed=f"{seed}:{e}")``, pytest-pinned), then ONE
    exchange on the composite (epoch, shard) key orders every epoch's
    every shard in the same stage. n_epochs x n_shards hash-balanced
    groups = the same shuffle volume as one epoch times n_epochs, but
    one job, one scan, one sort stage.

    Returns (id, epoch, shard, pos): reading epoch e's shards in
    (shard, pos) order IS epoch e's shuffled corpus; resume-stable and
    engine-replayable (md5 device)."""
    from pyspark.sql import Window

    epochs = F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))).alias("epoch")
    base = df.select(F.col(id_col), epochs)
    hhex = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    h = F.conv(F.substring(hhex, 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("epoch", "shard").orderBy("__h", id_col)
    return (
        base.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))  # 0-based, as E38
        .drop("__h")
    )


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[tuple[str, int]],
    round_to: int = 6,
) -> DataFrame:
    """E83: pairwise Pearson correlation over quantized feature columns
    — the feature-selection / redundancy diagnostic (which HRV features
    carry independent signal) computed with the E71 exactness device so
    the matrix is bit-reproducible in any engine.

    Each feature is quantized ``floor(round(x, round_to) * scale)`` to
    int64 (scale chosen per feature so the quantization grain is below
    the feature's meaningful resolution); all pairwise sufficient
    statistics (n, sum_i, sum_ii, sum_ij) accumulate as EXACT int64 —
    no float summation order anywhere. The correlation itself is then
    one fixed sequence of double ops from those identical integers
    ((n*s_ij - s_i*s_j) / (sqrt(n*s_ii - s_i^2) * sqrt(n*s_jj -
    s_j^2)), int64→double conversion and IEEE sqrt/divide are
    deterministic), so even the float column value-hashes.

    Rows with ANY null feature are dropped (keeps n identical across
    pairs — mirrored in the twin). Zero-variance features yield NULL
    correlation, not a division error.

    Scale shape: one scan → map-side partial agg to ONE row holding
    the full d^2/2 statistic set (d features is d(d+1) sum expressions
    — fine for feature-table d, this is not an embedding operator) →
    in-row explode to pair rows. ZERO joins, zero corpus re-reads; the
    only exchange carries one row per map task.
    """
    names = [c for c, _ in cols]
    q = df.select(
        *[
            F.floor(F.round(F.col(c), round_to) * F.lit(s)).cast("long").alias(c)
            for c, s in cols
        ]
    ).na.drop()
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, ci in enumerate(names):
        aggs.append(F.sum(ci).alias(f"s_{i}"))
        aggs.append(F.sum(F.col(ci) * F.col(ci)).alias(f"ss_{i}"))
        for j in range(i + 1, len(names)):
            aggs.append(F.sum(F.col(ci) * F.col(names[j])).alias(f"sp_{i}_{j}"))
    row = q.agg(*aggs)
    pairs = []
    for i, ci in enumerate(names):
        for j in range(i + 1, len(names)):
            pairs.append(
                F.struct(
                    F.lit(ci).alias("feat_i"),
                    F.lit(names[j]).alias("feat_j"),
                    F.col("n").alias("n"),
                    F.col(f"s_{i}").alias("sum_i"),
                    F.col(f"s_{j}").alias("sum_j"),
                    F.col(f"ss_{i}").alias("sum_ii"),
                    F.col(f"ss_{j}").alias("sum_jj"),
                    F.col(f"sp_{i}_{j}").alias("sum_ij"),
                )
            )
    out = row.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")
    nd = F.col("n").cast("double")
    si, sj = F.col("sum_i").cast("double"), F.col("sum_j").cast("double")
    cov = nd * F.col("sum_ij").cast("double") - si * sj
    vi = nd * F.col("sum_ii").cast("double") - si * si
    vj = nd * F.col("sum_jj").cast("double") - sj * sj
    corr = F.when((vi > 0) & (vj > 0), F.round(cov / (F.sqrt(vi) * F.sqrt(vj)), 6))
    return out.withColumn("corr", corr)



def psi_bin(value_col: str, bin_width: float, n_bins: int) -> Column:
    """E85: drift_psi's fixed-edge bin assignment (width * i clamped to
    [0, n_bins-1]) — data-independent and in-row, so the reference and
    current sides bucket bit-identically."""
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n_bins - 1).cast("long"),
            F.floor(F.col(value_col) / F.lit(bin_width)),
        ),
    )


def drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bin_width: float,
    n_bins: int,
) -> DataFrame:
    """E85: population stability index between a reference and a
    current distribution of one feature — the standard production
    drift monitor (PSI < 0.1 stable / 0.1-0.25 drifting / > 0.25
    shifted) for corpus refreshes and feature-store health.

    Bin edges are FIXED (width * i, clamped to [0, n_bins-1]) — a
    data-independent in-row expression, so assignment is scan-stage
    with no quantile pre-pass and the same row always lands in the
    same bin across runs/engines. Proportions are Laplace-smoothed
    with exact integers ((cnt + 1) / (n + n_bins), so empty bins are
    defined) and psi_term = (p_cur - p_ref) * ln(p_cur / p_ref) is one
    fixed double-op sequence from exact int64 counts (the repo's ln
    device, precedented by the SampEn/BM25 twins).

    Scale shape: each side collapses to <= n_bins rows via map-side
    partial agg (ONE exchange per side, bounded at n_bins rows per
    task); the bin-frame join is n_bins rows. Missing bins materialize
    via a driver-built n_bins-row frame — nothing corpus-sized is
    joined or collected.
    """
    spark = ref.sparkSession

    def side(df: DataFrame, name: str) -> DataFrame:
        b = psi_bin(value_col, bin_width, n_bins)
        return df.select(b.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias(name))

    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    r = side(ref, "cnt_ref")
    c = side(cur, "cnt_cur")
    j = (
        bins.join(r, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("cnt_ref", F.lit(0)).cast("long").alias("cnt_ref"),
            F.coalesce("cnt_cur", F.lit(0)).cast("long").alias("cnt_cur"),
        )
    )
    tot = j.agg(
        F.sum("cnt_ref").alias("n_ref"), F.sum("cnt_cur").alias("n_cur")
    )
    j = j.crossJoin(F.broadcast(tot))
    p_ref = (F.col("cnt_ref") + 1).cast("double") / (F.col("n_ref") + n_bins).cast("double")
    p_cur = (F.col("cnt_cur") + 1).cast("double") / (F.col("n_cur") + n_bins).cast("double")
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return j.select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(term, 6).alias("psi_term"),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    m: int = 20,
    scale: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """E86: leakage-safe leave-one-out target encoding with Bayesian
    m-smoothing — the classic high-cardinality categorical feature
    (CatBoost/Micci-Barreca 2001), computed so the row's OWN target
    never enters its encoding (the standard target-leak of naive mean
    encoding):

        enc_i = ((sum_g - t_i) + m * global_mean) / ((cnt_g - 1) + m)

    Determinism device: the target is quantized to int64 first
    (round(t * scale) — pick scale so targets are exact, 1 for integer
    targets), so sum_g / cnt_g / n / s are exact order-free integers
    and the encoding is ONE fixed sequence of double ops from identical
    ints — value-twinnable at round(·,6) in any engine, immune to
    shuffle-order partial-sum noise. m >= 1 keeps the denominator
    positive for singleton groups (enforced).

    Scale shape: one bounded groupBy on the category (|categories|
    rows), stats broadcast back — the corpus is scanned twice, never
    shuffled; the global (n, s) row rides a broadcast crossJoin. A
    10^12-row table encodes with zero corpus-sized exchanges.
    """
    if m < 1:
        raise ValueError("m >= 1 required (singleton groups otherwise divide by zero)")
    out_col = out_col or f"te_{cat_col}"
    t = F.round(F.col(target_col) * scale).cast("long")
    g = (
        df.select(F.col(cat_col).alias("__c"), t.alias("__t"))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).alias("__cnt_g"), F.sum("__t").alias("__sum_g"))
    )
    tot = df.select(t.alias("__t")).agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__t").alias("__s")
    )
    # null-safe equality: groupBy already forms a NULL-category group, so
    # NULL rows must MATCH it (eqNullSafe) — a plain == silently dropped
    # every NULL-category row from the output (an encoding transform must
    # never shrink its input; NULL is encoded as its own category)
    out = df.withColumn("__t", t).join(
        F.broadcast(g), F.col(cat_col).eqNullSafe(F.col("__c"))
    ).crossJoin(F.broadcast(tot))
    prior = F.col("__s").cast("double") / F.col("__n").cast("double")
    num = (F.col("__sum_g") - F.col("__t")).cast("double") + F.lit(float(m)) * prior
    den = (F.col("__cnt_g") - 1 + m).cast("double")
    enc = num / den / F.lit(float(scale))
    return out.withColumn(out_col, F.round(enc, 6)).drop(
        "__c", "__t", "__cnt_g", "__sum_g", "__n", "__s"
    )


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """E87: EXACT two-sample Kolmogorov-Smirnov statistic per key — the
    sharp companion of the E85 PSI monitor: PSI is binned (fast, lossy),
    KS is the exact sup-distance between the two empirical CDFs,
    D = max_x |F_ref(x) - F_cur(x)|, the standard two-sample drift test.

    Determinism device: D is computed as an INTEGER maximum first —
    d_num = max |c_ref(x) * n_cur - c_cur(x) * n_ref| over the pooled
    distinct values (cumulative counts are exact int64, the cross
    products stay in int64 for any realistic n), and the one float is
    a single division d_num / (n_ref * n_cur) — bit-reproducible in
    any engine, no quantile approximation anywhere.

    Scale shape: the union collapses to per-(key, distinct value)
    counts via ONE map-side-combined groupBy; the CDF window sorts the
    DISTINCT-value table (not the corpus) partitioned by key, so days/
    sources parallelize; one final bounded per-key agg. Keys with an
    empty side are dropped (D undefined).
    """
    keys = list(key_cols or [])
    u = ref.select(*keys, F.col(value_col).alias("__v"), F.lit(1).alias("__r")).unionByName(
        cur.select(*keys, F.col(value_col).alias("__v"), F.lit(0).alias("__r"))
    )
    g = u.groupBy(*keys, "__v").agg(
        F.sum("__r").cast("long").alias("__cr"),
        F.sum(1 - F.col("__r")).cast("long").alias("__cc"),
    )
    w_cum = Window.partitionBy(*keys).orderBy("__v") if keys else Window.orderBy("__v")
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w = g.select(
        *keys,
        F.sum("__cr").over(w_cum).alias("__ccr"),
        F.sum("__cc").over(w_cum).alias("__ccc"),
        F.sum("__cr").over(w_all).alias("__nr"),
        F.sum("__cc").over(w_all).alias("__nc"),
    )
    d = F.abs(F.col("__ccr") * F.col("__nc") - F.col("__ccc") * F.col("__nr"))
    out = (
        w.groupBy(*keys)
        .agg(
            F.max("__nr").alias("n_ref"),
            F.max("__nc").alias("n_cur"),
            F.max(d).alias("d_num"),
        )
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .withColumn(
            "ks",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_ref") * F.col("n_cur")).cast("double"),
                6,
            ),
        )
    )
    return out


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 4,
    pool_size: int = 32,
    n_buckets: int = 16,
    seed: str = "ns:",
) -> DataFrame:
    """E93: deterministic negative sampling for contrastive training —
    for every anchor document, k pseudo-random negatives drawn from a
    hash-selected candidate pool, excluding the anchor itself and any
    candidate from the anchor's own group (same-source rows are too
    likely to be true neighbors to serve as negatives). The draw is a
    pure function of (seed, ids): resume-stable, partitioning-invariant,
    identical across engines — the property a training-data pipeline
    needs so that re-running a failed shard reproduces the same pairs.

    Scale shape (the E40 plan-literal device): candidates are NOT the
    corpus — a bounded pool of n_buckets x pool_size rows is drawn by a
    per-bucket order-hash window (the one exchange, keyed on bucket,
    output capped), collected, and baked into the plan as a literal
    array-of-arrays. The corpus is then touched ONCE, zero further
    exchanges: each anchor indexes its probe bucket's array in-row,
    filters self/same-group, ranks candidates by a per-(anchor,
    candidate) hash via array_sort, and posexplodes its top-k. At 100 TB
    the cost is n_anchors x pool_size in-row comparisons — no self-join,
    no per-anchor shuffle; pool freshness is a rerun of the capped
    window. Grow n_buckets with the corpus to keep pool coverage
    representative; the literal stays n_buckets x pool_size rows.
    """

    def h(*cols: Column) -> Column:
        return F.conv(F.substring(F.md5(F.concat(*cols)), 1, 15), 16, 10).cast("long")

    # ids are the hash domain — a NULL id can neither bucket nor rank
    # (and would KeyError the driver-side pool indexing); drop them
    # explicitly rather than crash
    df = df.filter(F.col(id_col).isNotNull())
    cid = F.col(id_col).cast("long")
    pool_rows = (
        df.select(
            cid.alias("__cid"),
            F.col(group_col).alias("__cg"),
            (h(F.lit(seed + "b:"), cid.cast("string")) % n_buckets).alias("__b"),
            h(F.lit(seed + "o:"), cid.cast("string")).alias("__o"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__b").orderBy("__o", "__cid")),
        )
        .filter(F.col("__rn") <= pool_size)
        .select("__b", "__cid", "__cg")
        .collect()  # bounded: n_buckets * pool_size rows
    )
    by_bucket: dict[int, list[tuple[int, str]]] = {b: [] for b in range(n_buckets)}
    for r in pool_rows:
        by_bucket[r["__b"]].append((r["__cid"], r["__cg"]))
    empty = F.array().cast("array<struct<cid:bigint,cg:string>>")
    pool_lit = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("cid"), F.lit(g).alias("cg")
                    )
                    for c, g in by_bucket[b]
                ]
            )
            if by_bucket[b]
            else empty
            for b in range(n_buckets)
        ]
    )
    aid = F.col(id_col).cast("long")
    probe = (h(F.lit(seed + "p:"), aid.cast("string")) % n_buckets).cast("int")
    anchors = df.select(
        aid.alias("anchor_id"),
        F.col(group_col).alias("__ag"),
        F.element_at(pool_lit, probe + 1).alias("__pool"),
    )
    # ~eqNullSafe, not !=: a NULL-group anchor (or candidate) must still
    # pair — plain != goes NULL and F.filter drops EVERY candidate,
    # silently erasing the anchor from the output (r8 review finding;
    # the target_encode_loo e53e65a contract: transforms never shrink
    # their input beyond the documented exclusions)
    cands = F.filter(
        F.col("__pool"),
        lambda c: (c["cid"] != F.col("anchor_id"))
        & ~c["cg"].eqNullSafe(F.col("__ag")),
    )
    scored = F.transform(
        cands,
        lambda c: F.struct(
            h(
                F.lit(seed + "r:"),
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                c["cid"].cast("string"),
            ).alias("rh"),
            c["cid"].alias("cid"),
            c["cg"].alias("cg"),
        ),
    )
    topk = F.slice(F.array_sort(scored), 1, k)
    return anchors.select(
        "anchor_id", F.posexplode(topk).alias("__pos", "__c")
    ).select(
        "anchor_id",
        (F.col("__pos") + 1).cast("long").alias("rank"),
        F.col("__c")["cid"].alias("neg_id"),
        F.col("__c")["cg"].alias("neg_source"),
    )


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    quantiles: Sequence[int] = (50, 90, 99),
) -> DataFrame:
    """E98: hot-key / partition-skew diagnostic — the report that tells
    you BEFORE a 100 TB join or groupBy whether its key needs salting
    (E39/E51b) and how badly: exact per-key-count distribution stats
    (max, mean, exact percentiles of the count distribution, max/mean
    ratio, top-1 share) plus the Gini coefficient of the key-count
    distribution (0 = perfectly uniform keys, ->1 = one key owns the
    table).

    Scale shape (the count-of-counts device): ONE corpus-scale exchange
    (the key count, map-side combined); the distribution then collapses
    to (count_value, n_keys_with_that_count) rows — bounded by the
    number of DISTINCT count values, tiny in practice — and every
    statistic (cumulative-rank percentiles, the Gini rank sum Σ i·x_i
    folded per run of equal counts) is computed on THAT table with
    exact integer arithmetic; floats appear only in the final ratios
    (round-6). Gini run contributions stay exact int64 up to ~2^53
    total rank-mass — beyond that the doubles degrade gracefully (it is
    a diagnostic, not a label).
    """
    keys = list(key_cols)
    kc = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cc = kc.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    w_cum = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ce = (
        cc.withColumn("cum_keys", F.sum("n_keys").over(w_cum))
        .withColumn("nk", F.sum("n_keys").over(w_all))
        .withColumn("start_rank", F.col("cum_keys") - F.col("n_keys") + 1)
        .withColumn(
            "contrib",
            F.expr("cnt * (n_keys * start_rank + (n_keys * (n_keys - 1)) DIV 2)"),
        )
    )
    nk_d = F.max("nk").cast("double")
    t_d = F.sum(F.col("cnt") * F.col("n_keys")).cast("double")
    mx_d = F.max("cnt").cast("double")
    s1_d = F.sum("contrib").cast("double")
    qcols = [
        F.min(
            F.when(
                F.col("cum_keys") >= F.ceil(F.lit(q / 100.0) * F.col("nk")),
                F.col("cnt"),
            )
        )
        .cast("long")
        .alias(f"p{q}_cnt")
        for q in quantiles
    ]
    return ce.agg(
        F.lit(",".join(keys)).alias("key"),
        F.max("nk").cast("long").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("n_keys")).cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.round(t_d / nk_d, 6).alias("mean_cnt"),
        *qcols,
        F.round(mx_d / (t_d / nk_d), 6).alias("max_to_mean"),
        F.round(mx_d / t_d, 6).alias("top1_share"),
        F.round(
            (F.lit(2.0) * s1_d) / (nk_d * t_d)
            - (F.max("nk") + 1).cast("double") / nk_d,
            6,
        ).alias("gini"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """E101: exact quantile normalization — map every group's value
    distribution onto the GLOBAL distribution (the cross-source
    feature-alignment step: after it, "doc length 90th percentile"
    means the same thing for every source, so per-source thresholds and
    mixtures compose). target(v | g) = the smallest global value G
    whose global CDF >= the group CDF of v; with integer counts both
    CDFs are exact ratios and the mapping is engine-reproducible.

    Scale shape (the E87/E91/E98 collapse device): ONE corpus-scale
    exchange — the (group, value) count; the global distribution folds
    FROM that table (no second scan), and the CDF lookup is the
    union-window as-of device: union the (group, value) rows with the
    global distinct-value rows, ONE sort of that bounded table by
    (cdf, tag), and min-over-following picks each row's first global
    crossing. No range join, no corpus sort, no row amplification.

    Returns (group, value, n, cdf, target) — n the in-group count of
    the value, cdf the exact in-group CDF, target the normalized value.
    """
    g, v = group_col, value_col
    sc = (
        df.select(F.col(g).alias("__g"), F.col(v).alias("__v"))
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w_s = Window.partitionBy("__g").orderBy("__v")
    w_sg = Window.partitionBy("__g")
    sc2 = sc.withColumn(
        "__cum", F.sum("__c").over(w_s.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("__ns", F.sum("__c").over(w_sg))
    gc = sc.groupBy("__v").agg(F.sum("__c").cast("long").alias("__cg"))
    w_g = Window.orderBy("__v")
    w_all = Window.partitionBy()
    gc2 = gc.withColumn(
        "__cumg", F.sum("__cg").over(w_g.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("__n", F.sum("__cg").over(w_all))
    left = sc2.select(
        "__g",
        "__v",
        "__c",
        (F.col("__cum").cast("double") / F.col("__ns").cast("double")).alias("__q"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(sc2.schema["__v"].dataType).alias("__gv"),
    )
    right = gc2.select(
        F.lit(None).cast(sc2.schema["__g"].dataType).alias("__g"),
        F.lit(None).cast(sc2.schema["__v"].dataType).alias("__v"),
        F.lit(None).cast("long").alias("__c"),
        (F.col("__cumg").cast("double") / F.col("__n").cast("double")).alias("__q"),
        F.lit(1).alias("__tag"),
        F.col("__v").alias("__gv"),
    )
    w_f = Window.orderBy("__q", "__tag").rowsBetween(0, Window.unboundedFollowing)
    fused = left.unionByName(right).withColumn("__target", F.min("__gv").over(w_f))
    return fused.filter(F.col("__tag") == 0).select(
        F.col("__g").alias(g),
        F.col("__v").alias(v),
        F.col("__c").alias("n"),
        F.round("__q", 6).alias("cdf"),
        F.col("__target").alias("target"),
    )
