from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from seizury_hrv_featuresextraction_spark.operators.windows import (
    backfill,
    debounce,
    session_bounds,
    sessionize,
    sliding_window_grid,
    trailing_frames,
)


def test_sessionize_gaps_and_islands(spark):
    # doc with gaps: 31 s gap splits (strict > 30), 30 s gap does not
    # (evaluate_loso.py:96-98 uses > threshold)
    pdf = pd.DataFrame(
        {
            "k": ["x"] * 6 + ["y"] * 3,
            "ts": [0.0, 10.0, 41.0, 50.0, 80.0, 200.0, 5.0, 35.0, 66.0],
        }
    )
    out = sessionize(spark.createDataFrame(pdf), "ts", "k", gap=30.0).toPandas()
    out = out.sort_values(["k", "ts"])
    x = out[out["k"] == "x"]["session_id"].tolist()
    # gaps: 10(no),31(yes),9(no),30(no),120(yes)
    assert x == [0, 0, 1, 1, 1, 2]
    y = out[out["k"] == "y"]["session_id"].tolist()
    assert y == [0, 0, 1]


def test_session_bounds(spark):
    pdf = pd.DataFrame({"k": ["x"] * 4, "ts": [0.0, 5.0, 100.0, 105.0]})
    out = session_bounds(spark.createDataFrame(pdf), "ts", "k", gap=30.0).toPandas()
    out = out.sort_values("session_id").reset_index(drop=True)
    assert len(out) == 2
    assert out.loc[0, "start_time"] == 0.0 and out.loc[0, "end_time"] == 5.0
    assert out.loc[1, "duration"] == 5.0 and out.loc[1, "n_rows"] == 2


def test_backfill_both_directions(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5,
            "ts": [1.0, 2.0, 3.0, 4.0, 5.0],
            "v": [None, 10.0, None, None, 20.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got_b = backfill(df, "v", "ts", "a_key_missing" if False else "k", "vb", "backward").toPandas().sort_values("ts")
    assert got_b["vb"].tolist()[1:] == [10.0, 10.0, 10.0, 20.0]
    assert pd.isna(got_b["vb"].iloc[0])
    got_f = backfill(df, "v", "ts", "k", "vf", "forward").toPandas().sort_values("ts")
    assert got_f["vf"].tolist()[:2] == [10.0, 10.0]
    assert got_f["vf"].tolist()[4] == 20.0


def test_trailing_frames_semantics(spark):
    """Full-frame emission, oldest-first order, NaN->0 (lstm_sequences.py:104-160);
    a key with seq_len-1 rows emits nothing."""
    rows = []
    for i in range(5):
        rows.append({"k": "long", "ts": float(i), "f1": float(i), "f2": float(i) * 10 if i != 2 else np.nan})
    for i in range(2):
        rows.append({"k": "short", "ts": float(i), "f1": 1.0, "f2": 1.0})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = trailing_frames(df, "k", "ts", ["f1", "f2"], seq_len=3).toPandas()
    assert set(out["k"]) == {"long"}
    assert len(out) == 3  # rows 2,3,4 have full frames
    out = out.sort_values("ts").reset_index(drop=True)
    first = out.loc[0, "X"]
    assert [v[0] for v in first] == [0.0, 1.0, 2.0]  # oldest first
    assert first[2][1] == 0.0  # NaN zeroed
    assert out.loc[0, "ts"] == 2.0  # ts from last row of frame


def test_sliding_window_grid_matches_oracle(spark):
    from seizury_hrv_featuresextraction_spark.oracle import window_grid
    from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG as cfg

    dims = spark.createDataFrame(pd.DataFrame({"doc_id": ["d1", "d2"], "n_samples": [100000, 7679]}))
    got = sliding_window_grid(dims, cfg).toPandas()
    for doc, n in [("d1", 100000), ("d2", 7679)]:
        exp = window_grid(n, cfg)
        sub = got[got["doc_id"] == doc].sort_values("window_id")
        assert len(sub) == len(exp)
        if len(exp):
            assert sub["start_sample"].tolist() == [e[1] for e in exp]
            assert sub["center_sample"].tolist() == [e[2] for e in exp]
            assert sub["end_sample"].tolist() == [e[3] for e in exp]


def test_debounce_run_length(spark):
    # alarm on the 3rd consecutive positive, then LATCHED for the whole key
    # (reference alarm_active is only reset between recordings,
    # stream_emulator.py:122-127,231,242) — the second run never re-fires
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 10 + ["b"] * 4,
            "ts": [float(i) for i in range(10)] + [float(i) for i in range(4)],
            "p": [1, 1, 1, 1, 0, 1, 1, 1, 1, 1] + [0, 1, 1, 1],
        }
    )
    out = (
        debounce(spark.createDataFrame(pdf), "k", "ts", F.col("p") == 1, k=3)
        .toPandas()
        .sort_values(["k", "ts"])
    )
    a = out[out["k"] == "a"]["alarm"].tolist()
    b = out[out["k"] == "b"]["alarm"].tolist()
    assert a == [False, False, True, False, False, False, False, False, False, False]
    assert b == [False, False, False, True]  # latch is per key, not global

