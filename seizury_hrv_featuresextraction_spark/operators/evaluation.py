"""Evaluation operators (reference evaluate_loso.py -> O40, O20, O46, O52).

- ``seizure_episodes``: label-2 windows sessionized into episodes with
  the reference's >30 s gap rule (evaluate_loso.py:91-115).
- ``loso_splits``: leave-one-(subject,recording)-out split pairs as
  semi/anti joins (evaluate_loso.py:137-160).
- ``detection_metrics``: confusion counts, sensitivity/specificity and
  FPR-per-hour (fp / (neg_windows * stride / 3600),
  evaluate_loso.py:253-288) as native aggregations.
- ``pit_leakage_audit``: counts the future labels that joining each
  key's latest label would leak, against the point-in-time as-of join.
- ``latest_alarm_before_onset``: arg-max by time (stream_emulator.py:
  366-368) via max_by.
- ``auc_by_group``: exact ROC AUC per group, the AUC of the
  reference's window metrics (evaluate_loso.py:253-288).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import asof_join
from .windows import session_bounds


def seizure_episodes(features: DataFrame, gap: float = 30.0) -> DataFrame:
    sz = features.filter(F.col("label") == 2)
    b = session_bounds(sz, "window_center_time", ["doc_id"], gap)
    return b.select(
        "doc_id",
        F.concat_ws("_", F.col("doc_id"), F.lit("seizure"), F.col("session_id").cast("string")).alias("episode_id"),
        "start_time",
        "end_time",
        "duration",
        F.col("n_rows").alias("n_windows"),
    )


def loso_splits(features: DataFrame) -> DataFrame:
    """One row per held-out doc: (held_out_doc, n_test, n_train)."""
    docs = features.select("doc_id").distinct()
    counts = features.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    total = features.count()
    return (
        docs.join(counts, "doc_id")
        .select(
            F.col("doc_id").alias("held_out_doc"),
            F.col("n").alias("n_test"),
            (F.lit(total) - F.col("n")).alias("n_train"),
        )
    )


def detection_metrics(
    scored: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
    stride_seconds: float = 5.0,
) -> DataFrame:
    """Binary confusion + sensitivity/specificity/FPR-per-hour.

    Positive class: label >= 1 (pre-seizure or ictal), matching the
    reference's window-level evaluation.
    """
    pos = (F.col(label_col) >= 1).cast("int")
    pred = F.col(pred_col).cast("int")
    agg = scored.agg(
        F.sum(pos * pred).alias("tp"),
        F.sum(pos * (1 - pred)).alias("fn"),
        F.sum((1 - pos) * pred).alias("fp"),
        F.sum((1 - pos) * (1 - pred)).alias("tn"),
    )
    return agg.select(
        "tp", "fn", "fp", "tn",
        F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
        .otherwise(F.lit(0.0)).alias("sensitivity"),
        F.when(F.col("tn") + F.col("fp") > 0, F.col("tn") / (F.col("tn") + F.col("fp")))
        .otherwise(F.lit(0.0)).alias("specificity"),
        F.when(
            F.col("tn") + F.col("fp") > 0,
            F.col("fp") / ((F.col("tn") + F.col("fp")) * F.lit(stride_seconds) / 3600.0),
        ).otherwise(F.lit(0.0)).alias("fpr_per_hour"),
    )


def pit_leakage_audit(
    obs: DataFrame,
    labels: DataFrame,
    on: str,
    by: str,
    label_col: str,
) -> DataFrame:
    """E82: quantify the temporal leakage a point-in-time join prevents
    — the north rule's "zero temporal leakage" made measurable instead
    of asserted.

    For every observation the audit computes BOTH label lookups:

    - ``asof``: the latest label at-or-before the observation time (the
      reference's FixedSPH semantic, data_processing_pipeline.py:708-716
      — what training must use);
    - ``naive``: the key's latest label overall (the classic leaky
      feature-store bug: a backfill job joins "current" labels onto
      historical rows).

    Output per key: n_obs, n_future_label (naive label timestamp is
    STRICTLY after the observation — information from the future),
    n_value_mismatch (naive disagrees with as-of, null-safe — the rows
    a leaky pipeline would actually train differently on), and the
    worst leak horizon in seconds. A clean feed (all labels before all
    observations) scores zeros; the counts are exact integers.

    Scale shape: the as-of side is the engine's single-shuffle native
    as-of; the naive side is a per-key arg-max (partial-agged to |keys|
    rows) broadcast back — the corpus is exchanged once, the audit agg
    reuses the as-of's key partitioning.
    """
    j = asof_join(
        obs,
        labels.select(F.col(by), F.col(on), F.col(label_col)),
        on=on,
        by=by,
        value_cols=[label_col, on],
        direction="backward",
    )
    lab_r = label_col + "_right" if label_col in obs.columns else label_col
    w = Window.partitionBy(by).orderBy(F.desc(on), F.desc(label_col))
    naive = (
        labels.select(by, on, label_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(by),
            F.col(on).alias("naive_t"),
            F.col(label_col).alias("naive_label"),
        )
    )
    audited = j.join(F.broadcast(naive), by, "left")
    future = F.col("naive_t") > F.col(on)
    mismatch = ~F.col("naive_label").eqNullSafe(F.col(lab_r))
    return audited.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_obs"),
        # when/otherwise, not a bare cast: a key with no labels has a
        # NULL naive_t, and sum(NULL) must count as 0 leaks, not NULL
        F.sum(F.when(future, F.lit(1)).otherwise(F.lit(0)).cast("long")).alias("n_future_label"),
        F.sum(F.when(mismatch, F.lit(1)).otherwise(F.lit(0)).cast("long")).alias("n_value_mismatch"),
        F.round(F.max(F.when(future, F.col("naive_t") - F.col(on))), 6).alias("max_leak_horizon"),
    )


def latest_alarm_before_onset(alarms: DataFrame, events: DataFrame) -> DataFrame:
    """Per (doc, onset): the latest alarm time strictly before onset."""
    j = alarms.join(F.broadcast(events), "doc_id").filter(
        F.col("alarm_time") < F.col("onset")
    )
    return j.groupBy("doc_id", "onset").agg(
        F.max("alarm_time").alias("latest_alarm"),
        (F.col("onset") - F.max("alarm_time")).alias("warning_seconds"),
    )


def auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """E91: EXACT ROC AUC per group via the Mann-Whitney U statistic —
    the AUC among the reference's window metrics (O40, next to the
    confusion counts, sensitivity, specificity and FPR per hour of
    evaluate_loso.py:253-288). Ties handled by the midrank convention,
    but computed WITHOUT fractional ranks: per distinct score s,

        num2 += 2 * c_pos(s) * cum_neg(<s) + c_pos(s) * c_neg(s)

    keeps everything in exact int64 (the tie term counts each tied
    pair once, i.e. the usual 1/2 credit pre-doubled), and
    AUC = num2 / (2 * n_pos * n_neg) is the single float division —
    bit-reproducible, no sampling, no approximation.

    Scale shape (the E87 KS device): the corpus collapses to
    per-(group, distinct score) counts via ONE map-side-combined
    groupBy; the cumulative window sorts the DISTINCT-SCORE table
    partitioned by group, never the corpus; one final bounded per-group
    agg. Groups with no positives or no negatives are dropped (AUC
    undefined).
    """
    keys = list(group_cols or [])
    y = F.col(label_col).cast("long")
    g = (
        df.select(*keys, F.col(score_col).alias("__s"), y.alias("__y"))
        .groupBy(*keys, "__s")
        .agg(
            F.sum("__y").cast("long").alias("__cp"),
            F.sum(1 - F.col("__y")).cast("long").alias("__cn"),
        )
    )
    w_cum = Window.partitionBy(*keys).orderBy("__s") if keys else Window.orderBy("__s")
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy()
    cum_neg_below = F.sum("__cn").over(w_cum) - F.col("__cn")
    ranked = g.select(
        *keys,
        (2 * F.col("__cp") * cum_neg_below + F.col("__cp") * F.col("__cn")).alias("__t"),
        F.sum("__cp").over(w_all).alias("__np"),
        F.sum("__cn").over(w_all).alias("__nn"),
    )
    return (
        ranked.groupBy(*keys)
        .agg(
            F.max("__np").alias("n_pos"),
            F.max("__nn").alias("n_neg"),
            F.sum("__t").alias("auc_num2"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .withColumn(
            "auc",
            F.round(
                F.col("auc_num2").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
                6,
            ),
        )
    )
