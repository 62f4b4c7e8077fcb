"""Streaming-shaped operators (reference stream_emulator.py).

The reference emulates a 5 s-step stream with a per-recording
deque(maxlen=36) buffer (O47) and a consecutive-positive debounce with
alarm latching (O48). Here:

- batch equivalents are pure window functions
  (operators.windows.trailing_frames / debounce);
- ``streaming_feature_buffer`` gives the Structured Streaming form:
  ``applyInPandasWithState`` keeping the last ``seq_len`` feature
  vectors + debounce counters per doc_id, emitting a prediction row per
  input row once the buffer is full (emit-on-full, skip-while-filling —
  stream_emulator.py:184-188) and alarm transitions per the debounce
  rules (:210-249).

Event-time = window END (stream_emulator.py:279); pair with a watermark
on that column when reading from a real source.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PREDICTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("event_time", T.DoubleType(), False),
        T.StructField("buffer_size", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("alarm", T.BooleanType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("consec", T.IntegerType(), True),
        T.StructField("active", T.BooleanType(), True),
    ]
)


def make_buffer_fn(
    feature_cols: list[str],
    seq_len: int = 36,
    threshold: float = 0.5,
    k_consecutive: int = 3,
    score_fn=None,
):
    """Build the applyInPandasWithState function.

    score_fn(np.ndarray[seq_len, n_feat]) -> float; defaults to the mean
    of the last feature vector mapped through a logistic — a stand-in for
    the reference's LSTM inference (stream_emulator.py:191-208), which is
    out of engine scope.
    """

    if score_fn is None:
        def score_fn(x: np.ndarray) -> float:  # deterministic placeholder
            return float(1.0 / (1.0 + np.exp(-x[-1].mean())))

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        if state.exists:
            buf_list, consec, active = state.get
            buf = [np.asarray(v, dtype=np.float64) for v in (buf_list or [])]
        else:
            buf, consec, active = [], 0, False
        out_rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("event_time", kind="mergesort")
            feats = pdf[feature_cols].to_numpy(dtype=np.float64)
            np.nan_to_num(feats, copy=False)
            for i in range(len(pdf)):
                buf.append(feats[i])
                if len(buf) > seq_len:
                    buf.pop(0)
                full = len(buf) == seq_len
                score = score_fn(np.asarray(buf)) if full else None
                alarm = False
                if full and score is not None and score >= threshold:
                    consec += 1
                    if consec >= k_consecutive and not active:
                        alarm = True
                        active = True
                else:
                    # negatives reset the consecutive counter only; the
                    # reference never clears alarm_active within a
                    # recording (stream_emulator.py:231,242; reset_state
                    # only between recordings, :122-127,263) — at most one
                    # alarm per doc_id stream
                    consec = 0
                out_rows.append(
                    (doc_id, float(pdf["event_time"].iloc[i]), len(buf), score, alarm)
                )
        state.update(([list(map(float, v)) for v in buf], int(consec), bool(active)))
        yield pd.DataFrame(out_rows, columns=["doc_id", "event_time", "buffer_size", "score", "alarm"])

    return fn


class _BatchState:
    """GroupState stand-in for the batch path (one group = whole history,
    so state never persists beyond the call)."""

    exists = False

    def update(self, value) -> None:  # noqa: D401 - interface parity
        pass


def streaming_feature_buffer(
    features: DataFrame,
    feature_cols: list[str],
    seq_len: int = 36,
    threshold: float = 0.5,
    k_consecutive: int = 3,
    event_time_col: str = "window_end_time",
) -> DataFrame:
    """Works on a streaming OR batch DataFrame of feature rows.

    Streaming: applyInPandasWithState (true incremental state).
    Batch: the SAME state function through applyInPandas — Spark 4
    rejects applyInPandasWithState in batch queries, and in batch each
    group holds its full history anyway, so fresh state is correct.
    """
    fn = make_buffer_fn(feature_cols, seq_len, threshold, k_consecutive)
    src = features.withColumn("event_time", F.col(event_time_col).cast("double"))
    if src.isStreaming:
        return src.groupBy("doc_id").applyInPandasWithState(
            fn,
            outputStructType=PREDICTION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frames = list(fn(key, iter([pdf]), _BatchState()))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            columns=[f.name for f in PREDICTION_SCHEMA.fields]
        )

    return src.groupBy("doc_id").applyInPandas(batch_fn, schema=PREDICTION_SCHEMA)


ALARM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("event_time", T.DoubleType(), False),
        T.StructField("n_consecutive", T.IntegerType(), False),
    ]
)

ALARM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("consec", T.IntegerType(), True),
        T.StructField("active", T.BooleanType(), True),
    ]
)


def streaming_alarm_log(
    df: DataFrame,
    positive_col: str,
    k: int = 3,
    event_time_col: str = "window_end_time",
) -> DataFrame:
    """O69: the debounce -> ALARM-LOG sink shape — emits ONE row per
    alarm transition (the reference appends alarm events to a log file,
    stream_emulator.py:424-447), not one row per input.

    Streaming input: applyInPandasWithState keeping (consecutive-positive
    count, latched) per doc_id — identical semantics to the batch
    ``operators.windows.debounce`` (k-th consecutive positive fires, then
    latches for the rest of the key). Batch input: the window-function
    debounce filtered to alarm rows, so both paths are testable against
    each other.
    """
    src = df.withColumn("event_time", F.col(event_time_col).cast("double"))

    if not src.isStreaming:
        from ..operators.windows import debounce

        out = debounce(src, "doc_id", "event_time", F.col(positive_col), k)
        return out.filter(F.col("alarm")).select(
            "doc_id", "event_time", F.lit(k).cast("int").alias("n_consecutive")
        )

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        consec, active = (state.get if state.exists else (0, False))
        rows = []
        # one sort over the WHOLE microbatch group: the Arrow chunks of
        # pdf_iter arrive in shuffle order, so sorting each chunk
        # independently would misorder events that straddle chunks
        chunks = [c for c in pdf_iter if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                "event_time", kind="mergesort"
            )
            for et, pos in zip(pdf["event_time"], pdf[positive_col]):
                if bool(pos):
                    consec += 1
                    if consec >= k and not active:
                        active = True
                        rows.append((doc_id, float(et), int(consec)))
                else:
                    consec = 0
        state.update((int(consec), bool(active)))
        yield pd.DataFrame(rows, columns=["doc_id", "event_time", "n_consecutive"])

    return src.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=ALARM_SCHEMA,
        stateStructType=ALARM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
