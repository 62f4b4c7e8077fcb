"""Dataset-level statistics operators (O35-O38, O20/O56 splits).

All native aggregations; the two-pass z-score normalizer mirrors
sklearn's StandardScaler fit/transform as used at lstm_sequences.py:267-272
(population std there — ddof configurable here).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
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


def pack_sequences_bfd(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    n_shards: int = 16,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """E12b: best-fit-decreasing bin packing with no doc split across
    bins. Every doc lands whole in exactly one bin; BFD (sort by size
    descending, place each doc in the fullest bin it still fits) is the
    classic near-optimal heuristic (<= 11/9 OPT + 1), so measured
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
    parallelism). Returns
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
    of x.5 — a measure-zero case. Unlike ``rand()``-based sampling the
    decision is reproducible across runs, partitionings, and engines,
    and composes with resume.

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
