"""True-streaming flagship twin: token chunks over microbatches ->
stateful per-doc window assembly -> 23-feature rows, asserted
feature-for-feature (allclose) equal to the batch extract_features on
the concatenated documents once the stream drains.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seizury_hrv_featuresextraction_spark.config import HRVConfig
from seizury_hrv_featuresextraction_spark.datagen import make_sequences
from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features
from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import streaming_hrv_features

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
    ]
)

CFG = HRVConfig(n_freqs=64)  # smaller spectral grid: identical code path, faster test


def _chunked(seq_pdf: pd.DataFrame, n_chunks: int) -> pd.DataFrame:
    rows = []
    for _, r in seq_pdf.iterrows():
        toks = list(r["tokens"])
        size = max(1, len(toks) // n_chunks)
        for ci, lo in enumerate(range(0, len(toks), size)):
            rows.append((r["doc_id"], ci, toks[lo : lo + size]))
    return pd.DataFrame(rows, columns=["doc_id", "chunk_idx", "tokens"])


@pytest.mark.timeout(300)
def test_streaming_hrv_matches_batch(spark, tmp_path):
    seq_pdf = make_sequences(6, short_range=(400, 900), long_range=(1200, 1600), long_frac=0.3)
    chunks = _chunked(seq_pdf, n_chunks=6)

    # split chunks into two IN-ORDER microbatch files (early chunk ids
    # first) with distinct mtimes so the file source replays them in order
    src = str(tmp_path / "tok_stream")
    early = chunks[chunks.chunk_idx < 3]
    late = chunks[chunks.chunk_idx >= 3]
    spark.createDataFrame(early, schema=CHUNK_SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(late, schema=CHUNK_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream_in = spark.readStream.schema(CHUNK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_hrv_features(stream_in, CFG)
        .writeStream.format("memory")
        .queryName("hrv_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    streamed = (
        spark.sql("select * from hrv_stream")
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )

    batch = (
        extract_features(spark.createDataFrame(seq_pdf), None, CFG)
        .select("doc_id", "window_id", "n_beats", *ALL_FEATURES)
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    assert streamed["doc_id"].tolist() == batch["doc_id"].tolist()
    assert streamed["window_id"].tolist() == batch["window_id"].tolist()
    assert streamed["n_beats"].tolist() == batch["n_beats"].tolist()
    for name in ALL_FEATURES:
        assert np.allclose(
            streamed[name].to_numpy(float),
            batch[name].to_numpy(float),
            rtol=1e-9,
            atol=1e-12,
            equal_nan=True,
        ), name
    # every window was emitted exactly once across microbatches
    assert not streamed.duplicated(["doc_id", "window_id"]).any()


def test_streaming_hrv_batch_path(spark):
    """The batch fallback of the same operator equals extract_features."""
    seq_pdf = make_sequences(3, short_range=(400, 800), long_range=(900, 1000), long_frac=0.0)
    chunks = _chunked(seq_pdf, n_chunks=4)
    got = (
        streaming_hrv_features(spark.createDataFrame(chunks, schema=CHUNK_SCHEMA), CFG)
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    exp = (
        extract_features(spark.createDataFrame(seq_pdf), None, CFG)
        .select("doc_id", "window_id", "n_beats", *ALL_FEATURES)
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    assert got["window_id"].tolist() == exp["window_id"].tolist()
    for name in ALL_FEATURES:
        assert np.allclose(
            got[name].to_numpy(float), exp[name].to_numpy(float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        ), name


@pytest.mark.timeout(300)
def test_streaming_hrv_out_of_order_across_microbatches(spark, tmp_path):
    """VERDICT r3 item 4: cross-microbatch chunk order is NOT assumed —
    the per-doc reorder buffer holds out-of-order chunks in state until
    the gap fills. Late chunks are delivered FIRST here; the drained
    output must still equal the batch plan on the concatenated docs."""
    seq_pdf = make_sequences(4, short_range=(400, 900), long_range=(1100, 1400), long_frac=0.25)
    chunks = _chunked(seq_pdf, n_chunks=5)

    src = str(tmp_path / "tok_stream_ooo")
    late = chunks[chunks.chunk_idx >= 2]   # arrives first
    early = chunks[chunks.chunk_idx < 2]   # fills the gap second
    spark.createDataFrame(late, schema=CHUNK_SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(early, schema=CHUNK_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream_in = spark.readStream.schema(CHUNK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_hrv_features(stream_in, CFG)
        .writeStream.format("memory")
        .queryName("hrv_stream_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    streamed = (
        spark.sql("select * from hrv_stream_ooo")
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    batch = (
        extract_features(spark.createDataFrame(seq_pdf), None, CFG)
        .select("doc_id", "window_id", "n_beats", *ALL_FEATURES)
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    assert streamed["window_id"].tolist() == batch["window_id"].tolist()
    assert streamed["n_beats"].tolist() == batch["n_beats"].tolist()
    for name in ALL_FEATURES:
        assert np.allclose(
            streamed[name].to_numpy(float), batch[name].to_numpy(float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        ), name
    assert not streamed.duplicated(["doc_id", "window_id"]).any()


@pytest.mark.timeout(300)
def test_streaming_negative_token_raises_naming_doc(spark, tmp_path):
    """The streaming chunk function holds the batch chunk stage's contract:
    a negative RR token fails the query with a ValueError naming its doc.
    Zero tokens stay valid."""
    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import make_hrv_stream_fn

    src = str(tmp_path / "tok_stream")
    chunks = pd.DataFrame(
        [("ok", 0, [800] * 50 + [0]), ("bad", 0, [800] * 20), ("bad", 1, [800, -7, 800])],
        columns=["doc_id", "chunk_idx", "tokens"],
    )
    spark.createDataFrame(chunks, schema=CHUNK_SCHEMA).coalesce(1).write.parquet(src)
    stream_in = spark.readStream.schema(CHUNK_SCHEMA).parquet(src)
    q = (
        streaming_hrv_features(stream_in, CFG)
        .writeStream.format("memory")
        .queryName("hrv_stream_negative")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException, match=r"ValueError: doc_id 'bad': negative RR token in chunk_idx=1"):
            q.awaitTermination(240)
    finally:
        q.stop()
    fn = make_hrv_stream_fn(CFG)
    assert len(_drive(fn, [[("d0", 0, [800] * 50 + [0] + [800] * 50)]])) > 0


class FakeState:
    """Minimal GroupState stand-in for unit-driving the state function."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _drive(fn, deliveries):
    """Feed microbatch chunk lists through one persistent FakeState."""
    state = FakeState()
    outs = []
    for batch in deliveries:
        pdf = pd.DataFrame(batch, columns=["doc_id", "chunk_idx", "tokens"])
        outs.extend(fn(("d0",), iter([pdf]), state))
    return pd.concat(outs, ignore_index=True).sort_values("window_id").reset_index(drop=True)


def test_reorder_buffer_contract_violations_raise():
    """Duplicate/replayed chunk ids raise; a gap that outlives
    max_pending_chunks raises instead of holding unbounded state."""
    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import make_hrv_stream_fn

    fn = make_hrv_stream_fn(CFG)
    with pytest.raises(ValueError, match="duplicate/replayed"):
        _drive(fn, [[("d0", 0, [800] * 10)], [("d0", 0, [800] * 10)]])
    fn = make_hrv_stream_fn(CFG)
    with pytest.raises(ValueError, match="duplicate/replayed"):
        _drive(fn, [[("d0", 1, [800] * 5), ("d0", 1, [810] * 5)]])
    fn_small = make_hrv_stream_fn(CFG, max_pending_chunks=2)
    with pytest.raises(RuntimeError, match="max_pending_chunks"):
        # chunk 0 never arrives; 4 held chunks exceed the cap of 2
        _drive(fn_small, [[("d0", i, [800] * 5)] for i in (1, 2, 3, 4)])


def test_reorder_buffer_nonstrict_drops_redelivery():
    """strict=False (the at-least-once-source mode): redelivered chunk
    ids — already consumed, already pending, or duplicated inside one
    microbatch — are dropped idempotently, and the drained output equals
    the clean at-most-once delivery instead of the query dying."""
    from conftest import assert_frames_allclose

    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import make_hrv_stream_fn

    c0, c1, c2 = [800] * 40, [810] * 40, [820] * 40
    clean = _drive(
        make_hrv_stream_fn(CFG),
        [[("d0", 0, c0)], [("d0", 1, c1)], [("d0", 2, c2)]],
    )
    redelivered = _drive(
        make_hrv_stream_fn(CFG, strict=False),
        [
            [("d0", 0, c0)],
            [("d0", 0, c0), ("d0", 2, c2), ("d0", 2, c2), ("d0", 1, c1)],  # replay of 0; 2 twice
            [("d0", 1, c1)],  # late replay of an already-consumed chunk
        ],
    )
    assert len(clean) > 0
    assert_frames_allclose(redelivered, clean, float_cols=list(ALL_FEATURES), key_cols=["doc_id", "window_id"])
    assert (redelivered.sort_values("window_id")["n_beats"].to_numpy()
            == clean.sort_values("window_id")["n_beats"].to_numpy()).all()


@pytest.mark.timeout(300)
def test_streaming_bounded_lateness_drop_and_metric(spark, tmp_path):
    """Bounded-lateness policy: a chunk gap outstanding for more than
    max_lateness_batches of the doc's triggers abandons the wait — the
    chunks queued behind the gap AND the eventual straggler are dropped,
    every drop is counted in the accumulator metric, and the drained
    output equals the batch flagship on the ON-TIME contiguous prefix
    feature-for-feature."""
    seq_pdf = make_sequences(1, short_range=(1500, 1600), long_range=(1500, 1600), long_frac=0.0)
    chunks = _chunked(seq_pdf, n_chunks=5)
    n_chunks = int(chunks["chunk_idx"].max()) + 1
    assert n_chunks >= 5

    src = str(tmp_path / "late_stream")
    b1 = chunks[chunks.chunk_idx.isin([0, 1, 3])]   # gap at 2 appears
    b2 = chunks[chunks.chunk_idx >= 4]              # gap persists -> truncate
    b3 = chunks[chunks.chunk_idx == 2]              # straggler: too late
    spark.createDataFrame(b1, schema=CHUNK_SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b2, schema=CHUNK_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b3, schema=CHUNK_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    late_counter = spark.sparkContext.accumulator(0)
    stream_in = spark.readStream.schema(CHUNK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_hrv_features(stream_in, CFG, max_lateness_batches=1, late_counter=late_counter)
        .writeStream.format("memory")
        .queryName("hrv_late_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    streamed = (
        spark.sql("select * from hrv_late_stream")
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )

    # metric: every chunk behind the gap (3..n-1) + the straggler 2
    assert late_counter.value == n_chunks - 2

    # on-time prefix = chunks 0,1 concatenated
    toks = list(seq_pdf.iloc[0]["tokens"])
    size = max(1, len(toks) // 5)
    prefix = toks[: 2 * size]
    prefix_pdf = seq_pdf.copy()
    prefix_pdf["tokens"] = [prefix]
    batch = (
        extract_features(spark.createDataFrame(prefix_pdf), None, CFG)
        .select("doc_id", "window_id", "n_beats", *ALL_FEATURES)
        .toPandas()
        .sort_values(["doc_id", "window_id"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    assert streamed["window_id"].tolist() == batch["window_id"].tolist()
    assert streamed["n_beats"].tolist() == batch["n_beats"].tolist()
    for name in ALL_FEATURES:
        np.testing.assert_allclose(
            streamed[name].to_numpy(), batch[name].to_numpy(), rtol=0, atol=1e-9,
            err_msg=name,
        )


def test_pre_lateness_checkpoint_state_pad_unpacks():
    """r6 ADVICE: state written before the bounded-lateness feature is
    6-field (no gap_age/truncated); resuming it must pad-unpack with
    defaults (0/False) and continue producing the same output as a
    never-interrupted run — not raise ValueError on an 8-wide unpack."""
    from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import make_hrv_stream_fn

    c0, c1 = [800] * 40, [810] * 40
    clean = _drive(make_hrv_stream_fn(CFG), [[("d0", 0, c0)], [("d0", 1, c1)]])

    fn = make_hrv_stream_fn(CFG)
    state = FakeState()
    outs = list(fn(("d0",), iter([pd.DataFrame([("d0", 0, c0)], columns=["doc_id", "chunk_idx", "tokens"])]), state))
    # simulate the old checkpoint: strip the two r6 fields from state
    assert len(state._v) == 8
    state._v = tuple(state._v)[:6]
    outs.extend(fn(("d0",), iter([pd.DataFrame([("d0", 1, c1)], columns=["doc_id", "chunk_idx", "tokens"])]), state))
    resumed = pd.concat(outs, ignore_index=True).sort_values("window_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(resumed, clean)
