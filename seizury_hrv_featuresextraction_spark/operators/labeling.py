"""FixedSPH labeling as native Catalyst expressions (no Python).

Replaces the reference's eager per-sample label array
(/root/reference/labelers.py:44-101) with interval semantics:

1. the seizure predicate (data_processing_pipeline.py:506-532) as a
   native boolean expression — the reference's row-wise ``.apply`` is
   exactly the kind of per-row Python the north rule bans;
2. each seizure event paints up to two sample-index intervals — ictal
   [onset_s, onset_s + dur_s) with label 2 and the SPH target window with
   label 1 — with the reference's exact truncation, clamping, drop and
   skip_overlap rules;
3. painting order becomes an explicit priority (3*seq+2 for ictal,
   3*seq+1 for target, seq = event order by (onset, duration,
   event_type)), so "last write wins" is an arg-max instead of array
   mutation;
4. the per-doc interval set is collapsed to one tiny sorted array row and
   broadcast; resolving a window-center label is then a higher-order
   array expression on the big side — zero shuffle, zero row
   amplification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import HRVConfig

# The reference's full ILAE event_definitions key set
# (data_processing_pipeline.py:463-501): 1.1-1.7, 2.1-2.5, 3.1-3.7,
# 4.1-4.4, 5.1-5.3, 6.1-6.8, 7.1-7.4.
ILAE_SEIZURE_CODES = [
    "1.1", "1.2", "1.3", "1.4", "1.5", "1.6", "1.7",
    "2.1", "2.2", "2.3", "2.4", "2.5",
    "3.1", "3.2", "3.3", "3.4", "3.5", "3.6", "3.7",
    "4.1", "4.2", "4.3", "4.4",
    "5.1", "5.2", "5.3",
    "6.1", "6.2", "6.3", "6.4", "6.5", "6.6", "6.7", "6.8",
    "7.1", "7.2", "7.3", "7.4",
]
# Exact substring-term list of data_processing_pipeline.py:526-530.
# Deliberately NOT 'ictal': the reference does not treat it as a term, so
# 'interictal'/'preictal'/'postictal' annotations stay non-seizure.
SEIZURE_TERMS = (
    "seizure", "sz", "focal", "generalized", "tonic", "clonic",
    "myoclonic", "absence", "atonic", "spasm", "automatism",
)
_SEIZURE_RLIKE = "|".join(SEIZURE_TERMS)


def is_seizure_event(event_type: Column) -> Column:
    """Native twin of the reference predicate (O9,
    data_processing_pipeline.py:506-532): stripped-lowered membership in
    the ILAE code dict, ``startswith('sz_')``, raw ``== 'sz'``, or any
    seizure term as a substring. Null/empty -> false."""
    et = F.trim(event_type)
    low = F.lower(et)
    return (low != F.lit("")) & (
        low.isin(ILAE_SEIZURE_CODES)
        | low.startswith("sz_")
        | (event_type == F.lit("sz"))
        | low.rlike(_SEIZURE_RLIKE)
    )


def _to_sample(t: Column, fs: Column) -> Column:
    """Seconds -> sample index as the reference's ``int(t * fs)``
    (labelers.py:66-68): truncation toward zero, so a negative fractional
    onset maps to 0, not -1 as ``floor`` would give."""
    return (t * fs).cast("long")


def build_label_intervals(
    annotations: DataFrame,
    doc_dims: DataFrame,
    cfg: HRVConfig,
) -> DataFrame:
    """-> (doc_id, ivs: array<struct<pri,lo,hi,label>>), one row per doc.

    ``doc_dims`` must provide (doc_id, n_samples) for the reference's
    clamping of interval ends (labelers.py:72,88).
    """
    fs = F.lit(float(cfg.sampling_rate))
    ev = (
        annotations.filter(is_seizure_event(F.col("event_type")))
        .join(doc_dims.select("doc_id", "n_samples"), "doc_id")
        .withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("onset", "duration", "event_type")
            ),
        )
        .withColumn("onset_s", _to_sample(F.col("onset"), fs))
        .withColumn("dur_s", _to_sample(F.coalesce(F.col("duration"), F.lit(0.0)), fs))
        .withColumn("sz_lo", F.greatest(F.lit(0), F.col("onset_s")))
        .withColumn("sz_hi", F.least(F.col("n_samples"), F.col("onset_s") + F.col("dur_s")))
    )

    ictal = ev.select(
        "doc_id",
        (F.col("seq") * 3 + 2).alias("pri"),
        F.col("sz_lo").alias("lo"),
        F.col("sz_hi").alias("hi"),
        F.lit(2).alias("label"),
    )

    t_target = F.col("onset") - F.lit(cfg.sph_seconds)
    half = F.lit(cfg.label_width_seconds / 2.0)
    tgt_lo = F.greatest(F.lit(0), _to_sample(t_target - half, fs))
    tgt_hi = F.least(F.col("n_samples"), _to_sample(t_target + half, fs))
    keep = (t_target >= 0) & ((t_target - half) >= 0)
    if cfg.skip_overlap:
        keep = keep & (tgt_hi <= F.col("sz_lo"))
    target = ev.filter(keep).select(
        "doc_id",
        (F.col("seq") * 3 + 1).alias("pri"),
        tgt_lo.alias("lo"),
        tgt_hi.alias("hi"),
        F.lit(1).alias("label"),
    )

    intervals = ictal.unionByName(target).filter(F.col("hi") > F.col("lo"))
    return intervals.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("pri", "lo", "hi", "label"))).alias("ivs")
    )


def label_at_sample(ivs: Column, sample: Column) -> Column:
    """Label of the highest-priority interval containing ``sample`` else 0.

    ``ivs`` is sorted by pri ascending, so the LAST matching element is
    the winner ("last write wins" painting order). Pure higher-order
    expression: stays in the JVM, no join-side row duplication.
    """
    hits = F.filter(ivs, lambda v: (sample >= v["lo"]) & (sample < v["hi"]))
    return F.coalesce(F.try_element_at(hits, F.lit(-1))["label"], F.lit(0))


def label_windows(features: DataFrame, intervals_by_doc: DataFrame) -> DataFrame:
    """Attach the center-sample label (O14/O15/O49) via broadcast join."""
    joined = features.join(F.broadcast(intervals_by_doc), "doc_id", "left")
    return joined.withColumn(
        "label",
        F.when(F.col("ivs").isNull(), F.lit(0)).otherwise(
            label_at_sample(F.col("ivs"), F.col("center_sample"))
        ).cast("int"),
    ).drop("ivs")
