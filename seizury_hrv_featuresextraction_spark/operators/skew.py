"""Skew layer: salted chunk-split of long token sequences.

One input row = one doc's full token array, so per-doc work is naturally
atomic; skew shows up as a handful of 20-80k-token docs pinning single
tasks (the reference has the same problem — one long EDF recording = one
slow worker with only a 600 s timeout, data_processing_pipeline.py:905).

``explode_chunks`` is an Arrow-vectorized mapInPandas that slices each
doc's decoded tachogram into self-contained chunks of at most
``max_windows_per_chunk`` windows. Chunks overlap by ``window - stride``
seconds of RR rows so no window spans a chunk boundary — results are
exactly the per-doc computation, just re-batched. A plain round-robin
``repartition`` afterwards spreads the chunks of a long doc across the
cluster; that is the flagship plan's ONE shuffle. It targets
``defaultParallelism``, one task per slot: the kernel stage pays its
Python worker boundary once per task, and AQE never coalesces a
user-set ``repartition(n)``, so the session's shuffle-partition default
(sized for Catalyst shuffles AQE does coalesce) would add tasks that
each pay that boundary again.

At 100 TB: chunk size bounds both task runtime and task memory
(each chunk carries <= max_windows * stride + window seconds of RR), so
a 1000-executor cluster stays busy even when doc lengths are Zipfian.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import HRVConfig
from ..schemas import CHUNKS_SCHEMA


def _chunk_batch(batch: pa.RecordBatch, cfg: HRVConfig) -> pa.RecordBatch | None:
    """One Arrow batch of (doc_id, tokens) -> one Arrow batch of chunks.

    Zero-copy discipline: token values come out of the ListArray as one
    flat numpy view; rr/rr_t slices go back in through
    ListArray.from_arrays(offsets, flat_values) — no per-row Python
    objects, no pandas object columns.
    """
    fs = cfg.sampling_rate
    spw = cfg.window_samples()
    step = cfg.step_samples()
    wpc = max(1, cfg.max_windows_per_chunk)

    doc_ids = batch.column(0).to_pylist()
    tok_list = batch.column(1)
    offsets = tok_list.offsets.to_numpy(zero_copy_only=False)
    flat_tok = tok_list.values.to_numpy(zero_copy_only=False).astype(np.int64)
    neg = offsets[0] + np.flatnonzero(flat_tok[offsets[0] : offsets[-1]] < 0)
    if neg.size:
        # a negative RR interval makes the beat-time cumsum non-monotone,
        # and searchsorted would then return wrong windows silently
        d = int(np.searchsorted(offsets, neg[0], side="right") - 1)
        raise ValueError(f"doc_id {doc_ids[d]!r}: negative RR token {flat_tok[neg[0]]}")
    ship_rr_t = cfg.use_welch_fallback  # only the Welch path consumes times

    out_doc: list[str] = []
    out_chunk: list[int] = []
    out_win_lo: list[int] = []
    out_n_win: list[int] = []
    out_n_samples: list[int] = []
    slice_bounds: list[tuple[int, int]] = []  # absolute (lo, hi) into flat arrays
    bounds_parts: list[np.ndarray] = []       # per-chunk interleaved [lo0,hi0,lo1,...]

    for i, doc_id in enumerate(doc_ids):
        a, b = int(offsets[i]), int(offsets[i + 1])
        tok = flat_tok[a:b]
        total_ms = int(tok.sum())
        n_samples = total_ms * fs // 1000
        n_windows = (n_samples - spw) // step + 1
        if n_windows <= 0:
            continue
        # EXACT membership: beat times are integer milliseconds and window
        # bounds are integer samples, so compare in the common integer
        # grid (ms * fs vs samples * 1000) — a float cumsum puts beats
        # landing exactly on a boundary (common with integer tokens) on a
        # rounding-noise-dependent side, which no two summation orders
        # agree on (engine vs any SQL oracle)
        t_scaled = np.cumsum(tok) * fs
        ids = np.arange(n_windows, dtype=np.int64)
        lo_idx = np.searchsorted(t_scaled, ids * step * 1000, side="left")
        hi_idx = np.searchsorted(t_scaled, (ids * step + spw) * 1000, side="right")
        n_chunks = (n_windows + wpc - 1) // wpc
        for c in range(n_chunks):
            win_lo = c * wpc
            n_win = min(wpc, n_windows - win_lo)
            w_lo = lo_idx[win_lo : win_lo + n_win]
            w_hi = hi_idx[win_lo : win_lo + n_win]
            s_lo, s_hi = int(w_lo[0]), int(w_hi[-1])
            inter = np.empty(2 * n_win, dtype=np.int32)
            inter[0::2] = w_lo - s_lo
            inter[1::2] = w_hi - s_lo
            out_doc.append(doc_id)
            out_chunk.append(c)
            out_win_lo.append(win_lo)
            out_n_win.append(n_win)
            out_n_samples.append(n_samples)
            slice_bounds.append((a + s_lo, a + s_hi))
            bounds_parts.append(inter)

    if not out_doc:
        return None
    lens = np.array([hi - lo for lo, hi in slice_bounds], dtype=np.int64)
    new_offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=new_offsets[1:])
    tok_vals = np.empty(int(new_offsets[-1]), dtype=np.int32)
    pos = 0
    for lo, hi in slice_bounds:
        k = hi - lo
        tok_vals[pos : pos + k] = flat_tok[lo:hi]
        pos += k

    if ship_rr_t:
        rrt_vals = np.empty(int(new_offsets[-1]), dtype=np.float64)
        pos = 0
        cur_doc_range = None
        cur_rr_t = None
        for lo, hi in slice_bounds:
            if cur_doc_range is None or not (cur_doc_range[0] <= lo < cur_doc_range[1]):
                d = int(np.searchsorted(offsets, lo, side="right") - 1)
                a, b = int(offsets[d]), int(offsets[d + 1])
                cur_doc_range = (a, b)
                cur_rr_t = np.cumsum(flat_tok[a:b].astype(np.float64) / 1000.0)
            k = hi - lo
            rrt_vals[pos : pos + k] = cur_rr_t[lo - cur_doc_range[0] : hi - cur_doc_range[0]]
            pos += k
        rrt_off = new_offsets
    else:
        rrt_vals = np.array([], dtype=np.float64)
        rrt_off = np.zeros(len(lens) + 1, dtype=np.int64)

    b_lens = np.array([len(p) for p in bounds_parts], dtype=np.int64)
    b_off = np.zeros(len(b_lens) + 1, dtype=np.int64)
    np.cumsum(b_lens, out=b_off[1:])
    b_vals = np.concatenate(bounds_parts) if bounds_parts else np.array([], dtype=np.int32)

    def list_arr(off, vals, typ):
        return pa.LargeListArray.from_arrays(
            pa.array(off, type=pa.int64()), pa.array(vals, type=typ)
        ).cast(pa.list_(typ))

    arrays = [
        pa.array(out_doc, type=pa.string()),
        pa.array(out_chunk, type=pa.int32()),
        pa.array(out_win_lo, type=pa.int64()),
        pa.array(out_n_win, type=pa.int64()),
        pa.array(out_n_samples, type=pa.int64()),
        list_arr(new_offsets, tok_vals, pa.int32()),
        list_arr(b_off, b_vals, pa.int32()),
        list_arr(rrt_off, rrt_vals, pa.float64()),
    ]
    names = ["doc_id", "chunk_id", "win_lo", "n_win", "n_samples", "tok", "bounds", "rr_t"]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def explode_chunks(sequences: DataFrame, cfg: HRVConfig) -> DataFrame:
    """sequences (doc_id, tokens, ...) -> chunk rows (CHUNKS_SCHEMA)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                out = _chunk_batch(batch, cfg)
                if out is not None:
                    yield out

    chunks = sequences.select("doc_id", "tokens").mapInArrow(gen, schema=CHUNKS_SCHEMA)
    if cfg.repartition_chunks:
        chunks = chunks.repartition(sequences.sparkSession.sparkContext.defaultParallelism)
    return chunks
