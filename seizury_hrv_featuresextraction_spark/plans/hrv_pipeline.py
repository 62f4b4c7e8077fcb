"""The flagship plan: pre-tokenized sequences -> windowed HRV features.

Logical plan (SURVEY.md §4's physical sketch, Spark-first):

    parquet/iceberg scan (doc_id, tokens)         column-pruned
      -> mapInArrow explode_chunks                narrow, Arrow
      -> repartition(N)                           the ONE shuffle (skew); N =
                                                  defaultParallelism, one task
                                                  per slot
      -> mapInArrow hrv_kernel                    narrow, Arrow, cached
                                                  Lomb-Scargle designs
      -> broadcast join label intervals           no shuffle
      -> project to output schema

Unlike the reference's per-recording Python loop
(data_processing_pipeline.py:681-741), windows never materialize as
row-amplified RR rows (the 6x explode alternative); each chunk computes
its window slice with searchsorted bounds over its own tachogram slice.

Everything numeric is float64 end-to-end; the pytest gate compares this
plan's output to the loop oracle with np.allclose(rtol=1e-9, atol=1e-12)
plus exact label equality.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from ..config import DEFAULT_CONFIG, HRVConfig
from ..functions.hrv import ALL_FEATURES, WindowKernel
from ..operators.labeling import build_label_intervals, label_windows
from ..operators.skew import chunk_batches, explode_chunks
from ..schemas import FEATURES_ARROW_SCHEMA

_KERNEL_CACHE: dict[str, WindowKernel] = {}


def _get_kernel(cfg: HRVConfig) -> WindowKernel:
    # per-executor-process cache: Lomb-Scargle design matrices are reused
    # across tasks of the same job (and across jobs with equal config)
    key = cfg.config_hash()
    k = _KERNEL_CACHE.get(key)
    if k is None:
        _KERNEL_CACHE.clear()
        k = WindowKernel(cfg)
        _KERNEL_CACHE[key] = k
    return k


def _kernel_batches(cfg: HRVConfig, features: list[str] | None = None):
    import pyarrow as pa

    from ..functions.hrv import parts_for

    sel = list(features) if features is not None else list(ALL_FEATURES)
    parts = parts_for(sel) if features is not None else None
    idxs = [ALL_FEATURES.index(f) for f in sel]
    names = ["doc_id", "window_id", "n_beats"] + sel

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        kernel = _get_kernel(cfg)
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = {batch.schema.names[i]: batch.column(i) for i in range(batch.num_columns)}
            win_lo_arr = cols["win_lo"].to_numpy(zero_copy_only=False)
            n_win_arr = cols["n_win"].to_numpy(zero_copy_only=False)
            tok_list = cols["tok"]
            bounds_list = cols["bounds"]
            tok_off = tok_list.offsets.to_numpy(zero_copy_only=False)
            tok_flat = tok_list.values.to_numpy(zero_copy_only=False)
            b_off = bounds_list.offsets.to_numpy(zero_copy_only=False)
            b_flat = bounds_list.values.to_numpy(zero_copy_only=False)
            rrt_list = cols["rr_t"]
            rrt_off = rrt_list.offsets.to_numpy(zero_copy_only=False)
            rrt_flat = rrt_list.values.to_numpy(zero_copy_only=False)

            total_win = int(n_win_arr.sum())
            if not cfg.use_welch_fallback:
                # ONE kernel call over every chunk in the record batch:
                # the per-chunk bounds are offsets into the chunk's own
                # token slice, so adding each chunk's flat-token offset
                # turns them into gathers over ONE shared rr array —
                # windows regroup by beat count across ~hundreds of
                # chunks (bigger GEMM/entropy groups, no per-chunk
                # NumPy call overhead). Per-window math is untouched, so
                # values are identical to the per-chunk loop.
                rr_all = tok_flat.astype(np.float64) / 1000.0
                n_bounds = b_off[1:] - b_off[:-1]
                gb = b_flat.astype(np.int64) + np.repeat(tok_off[:-1], n_bounds)
                lo_idx = gb[0::2]
                hi_idx = gb[1::2]
                # global window ids: arange within each chunk + win_lo
                starts = np.concatenate([[0], np.cumsum(n_win_arr)[:-1]])
                all_ids = (
                    np.arange(total_win, dtype=np.int64)
                    - np.repeat(starts, n_win_arr)
                    + np.repeat(win_lo_arr, n_win_arr)
                )
                all_feats = kernel.windows_from_bounds(rr_all, lo_idx, hi_idx, None, parts=parts)
                all_beats = (hi_idx - lo_idx).astype(np.int32)
            else:
                # Welch fallback needs each chunk's absolute rr_t times —
                # keep the per-chunk loop (exercised only when configured)
                all_ids = np.empty(total_win, dtype=np.int64)
                all_feats = np.empty((total_win, len(ALL_FEATURES)), dtype=np.float64)
                all_beats = np.empty(total_win, dtype=np.int32)
                pos = 0
                for i in range(batch.num_rows):
                    a, b = int(tok_off[i]), int(tok_off[i + 1])
                    rr = tok_flat[a:b].astype(np.float64) / 1000.0
                    bounds = b_flat[int(b_off[i]) : int(b_off[i + 1])].astype(np.int64)
                    lo_idx = bounds[0::2]
                    hi_idx = bounds[1::2]
                    rr_t = None
                    if rrt_off[i + 1] > rrt_off[i]:
                        rr_t = rrt_flat[int(rrt_off[i]) : int(rrt_off[i + 1])]
                    k = int(n_win_arr[i])
                    ids = np.arange(int(win_lo_arr[i]), int(win_lo_arr[i]) + k, dtype=np.int64)
                    feats = kernel.windows_from_bounds(rr, lo_idx, hi_idx, rr_t, parts=parts)
                    all_ids[pos : pos + k] = ids
                    all_feats[pos : pos + k] = feats
                    all_beats[pos : pos + k] = (hi_idx - lo_idx).astype(np.int32)
                    pos += k

            # doc_id replicated per window with an Arrow-level take (no
            # per-row Python string list)
            doc_col = cols["doc_id"].take(
                pa.array(np.repeat(np.arange(batch.num_rows), n_win_arr), type=pa.int64())
            )
            arrays = [
                doc_col,
                pa.array(all_ids, type=pa.int64()),
                pa.array(all_beats, type=pa.int32()),
            ] + [pa.array(all_feats[:, j], type=pa.float64()) for j in idxs]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def _fused_batches(cfg: HRVConfig, features: list[str] | None = None):
    """tokens -> windowed features in ONE Arrow stage (no intermediate
    chunk rows, no shuffle, one JVM<->Python crossing). The right plan
    when doc lengths are bounded / pre-bucketed so no rebalancing is
    needed; ``extract_features(..., fused=True)`` selects it."""
    kernel_gen = _kernel_batches(cfg, features)
    return lambda batches: kernel_gen(chunk_batches(batches, cfg))


def doc_dimensions(sequences: DataFrame, cfg: HRVConfig) -> DataFrame:
    """(doc_id, total_ms, n_samples) via a native array fold — exact
    integer arithmetic, stays in the JVM."""
    total_ms = F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    return sequences.select(
        "doc_id",
        total_ms.alias("total_ms"),
        F.floor(total_ms * cfg.sampling_rate / 1000).cast("long").alias("n_samples"),
    )


def plan_stats(
    sequences: DataFrame,
    cfg: HRVConfig = DEFAULT_CONFIG,
    known_max_n_tok: int | None = None,
    known_total_tok: int | None = None,
) -> dict:
    """Cheap table stats for physical-plan selection.

    - ``n_splits``: the scan's actual split count — the same information
      Iceberg manifests expose as the file list. For NARROW plans this
      is a plan-time metadata lookup (no job); for plans containing
      exchanges the probe is skipped entirely (touching .rdd there would
      finalize the AQE plan and can eagerly run shuffle stages — see
      planutil.scan_num_partitions) and 0 is reported, which selects the
      skew-safe chunked plan.
    - ``max_windows_per_doc``: any one doc's window count, estimated from
      max(n_tok) x the physiologic RR ceiling (cfg.rr_max_seconds). It is
      an upper bound only if every token is <= rr_max_seconds * 1000 ms,
      and nothing checks that: a doc of longer tokens has more windows
      than this (which can misroute the plan choice, never the output).
      Computed from the n_tok int column only — a
      column-pruned scan that never touches the token arrays; on an
      Iceberg table this is a free upper_bounds stats lookup, so the
      one-column agg here is the honest local stand-in. None when the
      table has no n_tok column.

    - ``total_tokens``: sum(n_tok) over the table — the job-size signal
      that decides the fused-vs-chunked crossover (BENCH/scale_sweep.md:
      chunked wins small jobs where fixed per-task overhead and mild
      imbalance dominate; fused wins once per-core work amortizes them).
      Measured in the SAME single column-pruned agg as max(n_tok) —
      adding it costs nothing. On Iceberg this is a column-stats lookup.

    ``known_max_n_tok``/``known_total_tok`` skip the agg job entirely —
    run_resumable passes the values recorded in
    ``_manifest/table_stats.json`` when the input fingerprint proves the
    table is unchanged since they were measured (the Iceberg pattern:
    stats ride the snapshot, not a fresh scan).
    """
    from ..planutil import scan_num_partitions

    sc = sequences.sparkSession.sparkContext
    n_splits = scan_num_partitions(sequences) or 0
    max_win = None
    mx, total = known_max_n_tok, known_total_tok
    if mx is None and "n_tok" in sequences.columns:
        row = sequences.agg(
            F.max("n_tok").alias("mx"), F.sum(F.col("n_tok").cast("long")).alias("total")
        ).collect()[0]
        mx, total = row["mx"], row["total"]
    if mx is not None:
        max_ms = int(mx) * int(cfg.rr_max_seconds * 1000)
        max_win = grid.n_windows(grid.n_samples(max_ms, cfg), cfg)
    return {
        "n_splits": n_splits,
        "parallelism": sc.defaultParallelism,
        "max_windows_per_doc": max_win,
        "max_n_tok": int(mx) if mx is not None else None,
        "total_tokens": int(total) if total is not None else None,
    }


# a fused task processes whole docs; allow docs up to this many chunk
# caps before the chunk-split plan's rebalancing is worth its shuffle
_FUSED_SKEW_HEADROOM = 8

# fused-vs-chunked volume crossover: below ~500k tokens/core the job is
# overhead-dominated and fused's avoided shuffle round-trip is the whole
# gap. Re-timed on 4 vCPUs (ROADMAP.md item 5, interleaved, same action):
# fused is 0.79x chunked's time on 0.51M bounded-doc tokens and within
# 5% of it at ~8M tokens, long-tailed or not.
_FUSED_MAX_TOKENS_PER_CORE = 500_000


def choose_fused(stats: dict, cfg: HRVConfig = DEFAULT_CONFIG) -> bool:
    """Pick the physical plan from table stats (VERDICT r3 item 3; token
    volume added r5 per VERDICT r4 item 3).

    fused (zero-shuffle single Arrow stage) iff ALL of:
    - the scan already has >= cluster parallelism splits (otherwise the
      chunk path's repartition manufactures the missing parallelism —
      the measured 1-file case where fused serializes),
    - no single doc can exceed ``_FUSED_SKEW_HEADROOM`` chunk caps of
      windows (otherwise one doc straggles a whole fused task; the chunk
      split bounds per-task work at max_windows_per_chunk), and
    - the job is small enough to be overhead-dominated:
      total_tokens <= ``_FUSED_MAX_TOKENS_PER_CORE`` x parallelism.
      Below the crossover fused's avoided shuffle is a measured 1.4-2.6x
      win; above it the plans are equal-to-chunked-favoring, and the
      chunk split's skew rebalancing is the safer side at scale.
    Unknown stats fall back to the skew-safe chunked plan.
    """
    if stats["n_splits"] < stats["parallelism"]:
        return False
    mw = stats["max_windows_per_doc"]
    if mw is None or mw > cfg.max_windows_per_chunk * _FUSED_SKEW_HEADROOM:
        return False
    tt = stats.get("total_tokens")
    if tt is None or tt > _FUSED_MAX_TOKENS_PER_CORE * stats["parallelism"]:
        return False
    return True


def extract_features(
    sequences: DataFrame,
    annotations: DataFrame | None,
    cfg: HRVConfig = DEFAULT_CONFIG,
    fused: bool | None = None,
    stats: dict | None = None,
    features: list[str] | None = None,
) -> DataFrame:
    """sequences + annotations -> labeled windowed feature table.

    fused=None (default): AUTO — pick the plan from table stats
    (``plan_stats``/``choose_fused``): split count vs parallelism, the
    max-windows-per-doc upper bound, and total tokens vs
    ``_FUSED_MAX_TOKENS_PER_CORE`` x parallelism. fused=False: chunk-split ->
    repartition (skew rebalancing) -> kernel. fused=True: a single
    narrow Arrow stage (zero shuffle) — right when the input is already
    balanced (bucketed table, bounded doc length). ``stats`` overrides
    the auto probe (e.g. from Iceberg manifest stats) so no plan-time
    job runs.
    """
    if fused is None:
        fused = choose_fused(stats or plan_stats(sequences, cfg), cfg)
    sel = list(features) if features is not None else list(ALL_FEATURES)
    if features is None:
        schema = FEATURES_ARROW_SCHEMA
    else:
        import pyspark.sql.types as T

        schema = T.StructType(
            [FEATURES_ARROW_SCHEMA[0], FEATURES_ARROW_SCHEMA[1], FEATURES_ARROW_SCHEMA[2]]
            + [T.StructField(name, T.DoubleType(), True) for name in sel]
        )
    if fused:
        feats = sequences.select("doc_id", "tokens").mapInArrow(
            _fused_batches(cfg, features), schema=schema
        )
    else:
        chunks = explode_chunks(sequences, cfg)
        # explicit projection before the opaque Arrow stage (guide §4.1):
        # the kernel never reads chunk_id/n_samples, and Spark cannot see
        # inside mapInArrow to prune them itself
        chunks = chunks.select("doc_id", "win_lo", "n_win", "tok", "bounds", "rr_t")
        feats = chunks.mapInArrow(_kernel_batches(cfg, features), schema=schema)
    # the four window-time/center columns are pure functions of window_id:
    # computed as native expressions AFTER the Arrow stage so the Python
    # boundary carries 32 fewer bytes per window (guide §4.1 — pass only
    # what the kernel must produce)
    wc = grid.window_columns(cfg)
    feats = feats.select(
        "doc_id",
        "window_id",
        wc["window_start_time"],
        wc["window_center_time"],
        wc["window_end_time"],
        wc["center_sample"],
        "n_beats",
        *sel,
    )
    if annotations is not None:
        dims = doc_dimensions(sequences, cfg)
        intervals = build_label_intervals(annotations, dims, cfg)
        feats = label_windows(feats, intervals)
    else:
        feats = feats.withColumn("label", F.lit(0))
    return feats


def with_output_ids(features: DataFrame) -> DataFrame:
    """Add subject_id/recording_id (O57) and order columns per D5."""
    out = features.withColumn(
        "subject_id", F.regexp_extract("doc_id", r"(sub-[^_]+)", 1)
    ).withColumn("recording_id", F.col("doc_id"))
    cols = (
        ["subject_id", "recording_id", "doc_id", "window_id",
         "window_start_time", "window_center_time", "window_end_time", "n_beats"]
        + ALL_FEATURES
        + ["label"]
    )
    return out.select(*cols)
