from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from seizury_hrv_featuresextraction_spark.operators.evaluation import (
    detection_metrics,
    latest_alarm_before_onset,
    loso_splits,
    seizure_episodes,
)
from seizury_hrv_featuresextraction_spark.plans.sequences import build_sequences, sequence_dataset_info


def _features_pdf():
    rows = []
    for doc in ["d1", "d2"]:
        for i in range(40):
            rows.append(
                {
                    "doc_id": doc,
                    "window_center_time": 15.0 + 5.0 * i,
                    "f1": float(i),
                    "f2": np.nan if i % 9 == 0 else float(i) * 2,
                    "label": 2 if (doc == "d1" and i in (10, 11, 12, 20, 21)) else 0,
                }
            )
    # a doc with only 35 rows -> no sequences at seq_len=36
    for i in range(35):
        rows.append({"doc_id": "short", "window_center_time": 5.0 * i, "f1": 0.0, "f2": 0.0, "label": 0})
    return pd.DataFrame(rows)


def test_build_sequences_reference_semantics(spark):
    pdf = _features_pdf()
    df = spark.createDataFrame(pdf)
    out = build_sequences(df, seq_len=36, feature_cols=["f1", "f2"]).toPandas()
    # 40-row docs emit 5 sequences each; 35-row doc emits none
    assert sorted(out["doc_id"].unique()) == ["d1", "d2"]
    assert len(out) == 10
    row = out[(out["doc_id"] == "d1")].sort_values("ts").iloc[0]
    assert row["ts"] == 15.0 + 5.0 * 35  # ts from last frame row
    assert len(row["X"]) == 36 and len(row["X"][0]) == 2
    assert row["X"][0][0] == 0.0  # oldest first
    assert row["X"][9][1] == 0.0  # NaN (i=9) zeroed
    # label from last row
    d1_last = out[out["doc_id"] == "d1"].sort_values("ts")
    assert d1_last["label"].tolist() == [0, 0, 0, 0, 0]

    info = sequence_dataset_info(build_sequences(df, seq_len=36, feature_cols=["f1", "f2"]))
    assert info["n_sequences"] == 10
    assert info["label_histogram"][0] == 10


def test_seizure_episodes_gap_rule(spark):
    # two seizure bursts 31 s apart -> 2 episodes; <=30 s -> 1 episode
    pdf = _features_pdf()
    df = spark.createDataFrame(pdf)
    eps = seizure_episodes(df, gap=30.0).toPandas().sort_values("start_time")
    assert len(eps) == 2  # windows 10-12 (65-75s) and 20-21 (115-120s): gap 40 > 30
    assert eps.iloc[0]["n_windows"] == 3 and eps.iloc[1]["n_windows"] == 2
    one = seizure_episodes(df, gap=45.0).toPandas()
    assert len(one) == 1


def test_loso_and_metrics(spark):
    pdf = _features_pdf()
    df = spark.createDataFrame(pdf)
    splits = loso_splits(df).toPandas()
    assert len(splits) == 3
    total = len(pdf)
    assert all(splits["n_test"] + splits["n_train"] == total)

    scored = df.withColumn("pred", (F.col("f1") >= 10).cast("int"))
    m = detection_metrics(scored, stride_seconds=5.0).toPandas().iloc[0]
    pos = (pdf["label"] >= 1).to_numpy()
    pred = (pdf["f1"] >= 10).to_numpy()
    assert m["tp"] == int((pos & pred).sum())
    assert m["fp"] == int((~pos & pred).sum())
    exp_fpr = m["fp"] / ((m["fp"] + m["tn"]) * 5.0 / 3600.0)
    assert np.isclose(m["fpr_per_hour"], exp_fpr)


def test_latest_alarm(spark):
    alarms = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["d1"] * 3, "alarm_time": [10.0, 50.0, 90.0]})
    )
    events = spark.createDataFrame(pd.DataFrame({"doc_id": ["d1"], "onset": [60.0]}))
    out = latest_alarm_before_onset(alarms, events).toPandas()
    assert out.iloc[0]["latest_alarm"] == 50.0 and out.iloc[0]["warning_seconds"] == 10.0
