"""Streaming-shaped operator tests: the applyInPandasWithState buffer via
a real Structured Streaming micro-batch run (memory source is not
available for arbitrary schemas, so we use a rate-less single batch via
foreachBatch on a file stream is overkill — instead run the SAME state
function through the batch path and check semantics against the deque
reference, plus a true streaming smoke with applyInPandasWithState).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from seizury_hrv_featuresextraction_spark.streaming.stateful import (
    make_buffer_fn,
    streaming_feature_buffer,
)


def deque_reference(pdf: pd.DataFrame, feature_cols, seq_len, threshold, k):
    """Literal deque + debounce re-implementation (stream_emulator.py:81-249)."""
    out = []
    for doc, g in pdf.groupby("doc_id"):
        buf, consec, active = [], 0, False
        for _, r in g.sort_values("event_time").iterrows():
            v = np.nan_to_num(r[feature_cols].to_numpy(dtype=float))
            buf.append(v)
            if len(buf) > seq_len:
                buf.pop(0)
            full = len(buf) == seq_len
            score = float(1.0 / (1.0 + np.exp(-buf[-1].mean()))) if full else None
            alarm = False
            if full and score >= threshold:
                consec += 1
                if consec >= k and not active:
                    alarm, active = True, True
            else:
                # reference latches alarm_active within a recording — only
                # the consecutive counter resets (stream_emulator.py:231)
                consec = 0
            out.append((doc, r["event_time"], len(buf), score, alarm))
    return pd.DataFrame(out, columns=["doc_id", "event_time", "buffer_size", "score", "alarm"])


def _input(n=30):
    rng = np.random.default_rng(5)
    rows = []
    for doc in ["d1", "d2"]:
        for i in range(n):
            rows.append(
                {
                    "doc_id": doc,
                    "event_time": float(i * 5),
                    "f1": float(rng.normal(0.3, 1.0)),
                    "f2": float(rng.normal(-0.1, 1.0)) if i % 7 else np.nan,
                }
            )
    return pd.DataFrame(rows)


def test_batch_state_function_matches_deque(spark):
    pdf = _input()
    feature_cols = ["f1", "f2"]
    df = spark.createDataFrame(pdf)
    got = (
        streaming_feature_buffer(
            df, feature_cols, seq_len=5, threshold=0.5, k_consecutive=2, event_time_col="event_time"
        )
        .toPandas()
        .sort_values(["doc_id", "event_time"])
        .reset_index(drop=True)
    )
    exp = (
        deque_reference(pdf, feature_cols, 5, 0.5, 2)
        .sort_values(["doc_id", "event_time"])
        .reset_index(drop=True)
    )
    assert got["buffer_size"].tolist() == exp["buffer_size"].tolist()
    assert got["alarm"].tolist() == exp["alarm"].tolist()
    gs = got["score"].to_numpy(dtype=float)
    es = exp["score"].to_numpy(dtype=float)
    assert np.allclose(gs, es, rtol=1e-12, atol=0, equal_nan=True)
    assert got["alarm"].sum() > 0  # fixture actually fires


def test_batch_paths_infer_grouped_map_eval_type(spark):
    """The batch fallbacks hand ``applyInPandas`` a fully annotated
    ``(key, pdf) -> pdf`` function, so PySpark infers the grouped-map
    eval type from the hints instead of warning on every plan build."""
    import warnings

    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import streaming_hrv_features

    chunks = spark.createDataFrame([], "doc_id string, chunk_idx int, tokens array<int>")
    features = spark.createDataFrame(_input(3))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        streaming_hrv_features(chunks)
        streaming_feature_buffer(
            features, ["f1", "f2"], seq_len=2, threshold=0.5, k_consecutive=1,
            event_time_col="event_time",
        )
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
