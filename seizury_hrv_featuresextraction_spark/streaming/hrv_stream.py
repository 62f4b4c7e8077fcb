"""True-streaming flagship: token chunks in, HRV feature windows out.

The batch flagship consumes whole pre-tokenized documents
(plans/hrv_pipeline.py). This module is its Structured Streaming twin:
token CHUNKS of a document arrive over microbatches (the shape a live
recording feed produces — reference stream_emulator.py emulates exactly
this with a 5 s step), and a per-doc ``applyInPandasWithState`` operator
maintains the minimal tail of the RR stream needed to finish the next
sliding window, emitting each window's 23-feature row THE MOMENT its
end boundary is passed.

Key properties:

- **Identical output to batch.** A window is emitted exactly when the
  cumulative stream duration reaches its end boundary (same exact-int
  arithmetic as the batch grid: t_ms*fs vs samples*1000 in int64), and
  the feature vector comes from the SAME ``WindowKernel`` — after the
  stream drains, the emitted set equals ``extract_features`` on the
  concatenated document, feature-for-feature (allclose; tested).
- **Bounded state.** Per doc the state is the token tail from the start
  of the next unfinished window (~window_seconds of beats, a few dozen
  ints) plus two counters — independent of stream length, so a
  1000-executor deployment holds state proportional to ACTIVE docs, not
  history.
- **Reordering, not an ordering assumption.** ``chunk_idx`` is a dense
  0-based per-doc sequence number; chunks may arrive in ANY order,
  within or ACROSS microbatches. A per-doc reorder buffer holds
  out-of-order chunks in state until the gap fills and consumes the
  longest contiguous prefix each trigger, so the drained output is
  invariant to arbitrary cross-batch permutations (hypothesis property
  test). Duplicate or replayed chunk ids raise under ``strict=True``
  (the feature rows are emitted-once, so a consumed replay would corrupt
  window arithmetic) and are dropped idempotently under ``strict=False``
  (the at-least-once-source mode), and a
  pending buffer past ``max_pending_chunks`` raises instead of
  accumulating unbounded state behind a lost chunk.

Reference: windows/grid data_processing_pipeline.py:692-716, streaming
emulation stream_emulator.py:150-260.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import DEFAULT_CONFIG, HRVConfig
from ..functions.hrv import ALL_FEATURES
from ..plans.hrv_pipeline import _get_kernel

STREAM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("n_beats", T.IntegerType(), False),
    ]
    + [T.StructField(name, T.DoubleType(), True) for name in ALL_FEATURES]
)

STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf", T.ArrayType(T.IntegerType()), True),
        T.StructField("off_ms", T.LongType(), True),
        T.StructField("next_win", T.LongType(), True),
        T.StructField("next_chunk", T.LongType(), True),
        T.StructField("pend_idx", T.ArrayType(T.LongType()), True),
        T.StructField("pend_toks", T.ArrayType(T.ArrayType(T.IntegerType())), True),
        T.StructField("gap_age", T.LongType(), True),
        T.StructField("truncated", T.BooleanType(), True),
    ]
)


def make_hrv_stream_fn(
    cfg: HRVConfig,
    max_pending_chunks: int = 4096,
    strict: bool = True,
    max_lateness_batches: int | None = None,
    late_counter=None,
):
    fs = cfg.sampling_rate
    spw = cfg.window_samples()
    step = cfg.step_samples()
    cols = ["doc_id", "window_id", "n_beats"] + list(ALL_FEATURES)

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        if state.exists:
            # pad-unpack: checkpoints written before the r6
            # bounded-lateness feature carry 6-field state (no
            # gap_age/truncated) — resume them with the defaults instead
            # of raising ValueError on an 8-wide unpack (r6 ADVICE)
            got = tuple(state.get)
            if len(got) == 6:
                got = got + (0, False)
            buf, off_ms, next_win, next_chunk, pend_idx, pend_toks, gap_age, truncated = got
            buf = list(buf or [])
            gap_age = int(gap_age or 0)
            truncated = bool(truncated)
            pending = {
                int(i): list(t) for i, t in zip(pend_idx or [], pend_toks or [])
            }
        else:
            buf, off_ms, next_win, next_chunk, pending = [], 0, 0, 0, {}
            gap_age, truncated = 0, False
        chunks = [c for c in pdf_iter if len(c)]

        def save(tokens: list[int], offset: int) -> None:
            if len(pending) > max_pending_chunks:
                raise RuntimeError(
                    f"doc {doc_id}: reorder buffer exceeds max_pending_chunks="
                    f"{max_pending_chunks} waiting for chunk {next_chunk} — the "
                    "gap never filled (lost chunk upstream?)"
                )
            ks = sorted(pending)
            state.update(
                (
                    tokens,
                    int(offset),
                    int(next_win),
                    int(next_chunk),
                    [int(k) for k in ks],
                    [pending[k] for k in ks],
                    int(gap_age),
                    bool(truncated),
                )
            )

        def count_late(n: int) -> None:
            if late_counter is not None and n:
                late_counter.add(n)

        if not chunks:
            save(buf, int(off_ms))
            yield pd.DataFrame(columns=cols)
            return
        # reorder buffer: register every incoming chunk by its dense
        # per-doc sequence number, then consume the longest contiguous
        # prefix from next_chunk; anything past a gap waits in state
        pdf = pd.concat(chunks, ignore_index=True)
        for ci, toks in zip(pdf["chunk_idx"], pdf["tokens"]):
            ci = int(ci)
            if truncated and ci >= next_chunk:
                # bounded-lateness drop: the doc's gap was abandoned, so
                # every post-gap chunk (including the straggler itself
                # when it finally shows up) is dropped and counted — the
                # emitted output stays exactly the on-time prefix
                count_late(1)
                continue
            if ci < next_chunk or ci in pending:
                # strict (default): a duplicate/replayed chunk corrupts
                # the emitted-once window arithmetic, so fail the query.
                # strict=False: at-least-once sources legitimately
                # redeliver — an already-consumed or already-pending
                # chunk id is dropped (idempotent skip) instead of
                # killing the whole stream over one redelivery.
                if strict:
                    raise ValueError(
                        f"doc {doc_id}: duplicate/replayed chunk_idx={ci} "
                        f"(next expected {next_chunk}) — chunk ids must be a "
                        "dense 0-based sequence delivered at-most-once "
                        "(strict=False downgrades this to a drop)"
                    )
                continue
            pending[ci] = [int(x) for x in toks]
            if min(pending[ci], default=0) < 0:
                # same contract as the batch chunk stage: a negative RR
                # interval breaks the monotone beat-time grid
                raise ValueError(f"doc_id {doc_id!r}: negative RR token in chunk_idx={ci}")
        ready: list[np.ndarray] = []
        while next_chunk in pending:
            ready.append(np.asarray(pending.pop(next_chunk), dtype=np.int64))
            next_chunk += 1
        if pending and next_chunk not in pending:
            # a gap is outstanding after this trigger's consumption;
            # age it, and past the lateness bound abandon the wait:
            # drop + count everything queued behind the gap and mark
            # the doc truncated (bounded state, watermark-style policy)
            gap_age += 1
            if max_lateness_batches is not None and gap_age > max_lateness_batches:
                count_late(len(pending))
                pending.clear()
                truncated = True
        else:
            gap_age = 0
        if not ready:
            save(buf, int(off_ms))
            yield pd.DataFrame(columns=cols)
            return
        tok = np.concatenate([np.asarray(buf, dtype=np.int64)] + ready)

        # exact integer grid arithmetic, identical to the batch plan
        # (operators/skew.py _chunk_batch)
        t_ms = int(off_ms) + np.cumsum(tok)
        t_total = int(t_ms[-1]) if tok.size else int(off_ms)
        n_samples = (t_total * fs) // 1000
        n_win_avail = (n_samples - spw) // step + 1  # windows fully past their end
        out = pd.DataFrame(columns=cols)
        if n_win_avail > next_win:
            ids = np.arange(next_win, n_win_avail, dtype=np.int64)
            t_scaled = t_ms * fs
            lo_idx = np.searchsorted(t_scaled, ids * step * 1000, side="left")
            hi_idx = np.searchsorted(t_scaled, (ids * step + spw) * 1000, side="right")
            kernel = _get_kernel(cfg)
            feats = kernel.windows_from_bounds(tok.astype(np.float64) / 1000.0, lo_idx, hi_idx)
            out = pd.DataFrame(
                {
                    "doc_id": doc_id,
                    "window_id": ids,
                    "n_beats": (hi_idx - lo_idx).astype(np.int32),
                }
            )
            for j, name in enumerate(ALL_FEATURES):
                out[name] = feats[:, j]
            next_win = int(n_win_avail)

        # retain only beats that can still belong to an unfinished window
        # (t >= next window's start boundary, inclusive — membership is
        # start <= t <= end)
        t_scaled = t_ms * fs
        drop = int(np.searchsorted(t_scaled, next_win * step * 1000, side="left"))
        new_off = int(t_ms[drop - 1]) if drop > 0 else int(off_ms)
        save([int(x) for x in tok[drop:]], new_off)
        yield out

    return fn


class _BatchState:
    exists = False

    def update(self, value) -> None:
        pass


def streaming_hrv_features(
    chunks: DataFrame,
    cfg: HRVConfig = DEFAULT_CONFIG,
    strict: bool = True,
    max_lateness_batches: int | None = None,
    late_counter=None,
) -> DataFrame:
    """(doc_id, chunk_idx, tokens array<int>) stream -> feature rows.

    Streaming input: true incremental state. Batch input: the same state
    function through ``applyInPandas`` (one group = the whole history),
    so the operator is testable batch-vs-stream like the other stateful
    ops.

    ``strict=True`` (default) raises on any duplicate/replayed chunk id
    (at-most-once delivery contract); ``strict=False`` drops redelivered
    chunks idempotently — the right mode behind an at-least-once source,
    where one upstream retry must not kill the query.

    ``max_lateness_batches`` is the bounded-lateness policy (the
    watermark analogue for a sequence-numbered stream): when a missing
    chunk leaves a gap outstanding for more than N of the doc's triggers,
    the wait is abandoned — everything queued behind the gap is dropped,
    the doc is marked truncated, and any later arrival for it (including
    the straggler itself) is dropped on sight. Every dropped chunk is
    counted in ``late_counter`` (a SparkContext accumulator — the
    observable audit metric), and the emitted output remains EXACTLY the
    batch output on the on-time contiguous prefix (tested). ``None``
    (default) waits forever, bounded only by ``max_pending_chunks``."""
    fn = make_hrv_stream_fn(
        cfg,
        strict=strict,
        max_lateness_batches=max_lateness_batches,
        late_counter=late_counter,
    )
    if chunks.isStreaming:
        return chunks.groupBy("doc_id").applyInPandasWithState(
            fn,
            outputStructType=STREAM_FEATURES_SCHEMA,
            stateStructType=STREAM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def batch_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frames = list(fn(key, iter([pdf]), _BatchState()))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            columns=[f.name for f in STREAM_FEATURES_SCHEMA.fields]
        )

    return chunks.groupBy("doc_id").applyInPandas(batch_fn, schema=STREAM_FEATURES_SCHEMA)
