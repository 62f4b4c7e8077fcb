"""The benchmark workloads.

Each workload is one closed-loop client: an operation starts only after
the previous one finished. A workload provides

- ``warmup()``: the pass that, with ``get_spark``, makes up set-up time;
- ``prime()``: after set-up, ``n_prime`` untimed operations (checked
  like the timed ones) that bring the session to its steady speed: a
  fresh session's first operations run slower than the ones after them;
- ``op()``: one timed operation, returning its wall seconds (throughput
  is ``items`` per operation second);
- ``check()``: correctness of everything the timed operations produced,
  run after the timed region (per-operation observations are recorded
  inside the operation and compared here);
- ``probe_layers()``: per-layer timings for the traced run, each a span
  around calls into the engine's public functions.

Why each workload exists is recorded in ``README.md`` next to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seizury_hrv_featuresextraction_spark.checkpoint import (
    bucket_of,
    input_fingerprints,
    read_manifest,
    run_resumable,
)
from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG
from seizury_hrv_featuresextraction_spark.datagen import is_seizure_event_mask
from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES, WindowKernel
from seizury_hrv_featuresextraction_spark.operators.asof import asof_join
from seizury_hrv_featuresextraction_spark.operators.labeling import build_label_intervals
from seizury_hrv_featuresextraction_spark.operators.skew import explode_chunks
from seizury_hrv_featuresextraction_spark.operators.windows import backfill, session_bounds, sessionize
from seizury_hrv_featuresextraction_spark.oracle import (
    decode_tokens,
    n_samples_for,
    oracle_feature_row,
    oracle_labels,
    window_grid,
)
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
    choose_fused,
    doc_dimensions,
    extract_features,
    plan_stats,
)
from seizury_hrv_featuresextraction_spark.streaming.hrv_stream import streaming_hrv_features

from inputs import SEQ_SCHEMA, n_windows, total_ms
from tracing import host_ref_s, median, normalized, p90

CFG = DEFAULT_CONFIG
RTOL, ATOL = 1e-9, 1e-12


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_noop(tracer, name: str, df) -> float:
    with tracer.span(name) as s:
        noop(df)
    return s["end"] - s["start"]


def read_pandas(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def compare_features(got: pd.DataFrame, want: pd.DataFrame, exact: list[str], feats: list[str]) -> list[str]:
    """Row-aligned comparison: exact columns must be equal, feature
    columns allclose(rtol=1e-9, atol=1e-12) with NaN == NaN."""
    keys = ["doc_id", "window_id"]
    got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    bad = []
    for c in keys + exact:
        if not np.array_equal(got[c].to_numpy(), want[c].to_numpy()):
            bad.append(c)
    for c in feats:
        g = got[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        if not np.allclose(g, w, rtol=RTOL, atol=ATOL, equal_nan=True):
            bad.append(c)
    return bad


def sort_events(ev: pd.DataFrame) -> pd.DataFrame:
    """Painting order the engine uses: (onset, duration, event_type)."""
    return ev.sort_values(["onset", "duration", "event_type"], kind="mergesort")


def oracle_windows(doc_id: str, tokens, events: pd.DataFrame, win_ids: list[int]) -> pd.DataFrame:
    """``oracle.oracle_pipeline``'s per-window computation for the given
    windows of one doc only (the loop oracle costs ~0.1 s per window)."""
    fs = CFG.sampling_rate
    rr_sec, rr_t, total_ms = decode_tokens(tokens)
    t_scaled = np.cumsum(np.asarray(tokens, dtype=np.int64)) * fs
    n_samp = n_samples_for(total_ms, CFG)
    labels = oracle_labels(n_samp, events, CFG)
    grid = window_grid(n_samp, CFG)
    rows = []
    for win_id in win_ids:
        _, start, center, end = grid[win_id]
        mask = (t_scaled >= start * 1000) & (t_scaled <= end * 1000)
        w_rr = rr_sec[mask]
        if w_rr.size >= CFG.min_beats_per_window:
            feats = oracle_feature_row(w_rr, rr_t[mask], CFG)
        else:
            feats = {k: float("nan") for k in ALL_FEATURES}
        rows.append({"doc_id": doc_id, "window_id": win_id, "n_beats": int(w_rr.size), **feats,
                     "label": int(labels[center])})
    return pd.DataFrame(rows)


class Workload:
    name = ""
    #: input fact that one operation processes (tokens or events)
    items_fact = ""
    n_prime = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.errors: list[str] = []
        #: one record per completed operation, checked by ``check()``
        self.observed: list = []
        #: indices of operations whose output failed its check
        self.failed_ops: set[int] = set()

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.input_dir, *parts)

    def fail(self, msg: str, op: int | None = None) -> None:
        self.errors.append(msg)
        if op is not None:
            self.failed_ops.add(op)

    def warmup(self) -> None:
        raise NotImplementedError

    def prime(self) -> None:
        for _ in range(self.n_prime):
            self.op()

    @property
    def items(self) -> int:
        return self.ctx.facts[self.items_fact]

    def op(self) -> float:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def probe_layers(self) -> dict:
        return {}

    def after_session(self, layer: dict) -> None:
        """Traced-run work that needs its own session (after the
        measured session stopped and its event log closed)."""


# ---------------------------------------------------------------------------
# flagship_batch
# ---------------------------------------------------------------------------


class FlagshipBatch(Workload):
    name = "flagship_batch"
    items_fact = "tokens"
    n_prime = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.picks = self.pick_windows()

    def pick_windows(self) -> dict[str, list[int]]:
        """Deterministic windows the oracle checks: the longest doc around
        its chunk-split boundaries, and spread over the two shortest docs
        with seizure events."""
        seq_path = self.path("sequences")
        meta = pq.read_table(seq_path, columns=["doc_id", "n_tok"]).to_pandas()
        ann = read_pandas(self.path("annotations"))
        seiz_docs = set(ann.loc[is_seizure_event_mask(ann["event_type"]), "doc_id"])
        longest = meta.sort_values(["n_tok", "doc_id"], ascending=[False, True]).head(1)
        short = meta[meta["doc_id"].isin(seiz_docs)].sort_values(["n_tok", "doc_id"]).head(2)
        ids = list(longest["doc_id"]) + list(short["doc_id"])
        tok = pq.read_table(seq_path, columns=["doc_id", "tokens"], filters=[("doc_id", "in", ids)]).to_pandas()
        cap = CFG.max_windows_per_chunk
        picks = {}
        for doc, k in zip(tok["doc_id"], n_windows(total_ms(tok)).tolist()):
            cand = [0, 1, cap - 1, cap, cap + 1, 2 * cap, k - 1] if k > 2 * cap else np.linspace(0, k - 1, 6)
            picks[doc] = sorted({int(i) for i in cand if 0 <= i < k})
        return picks

    def warmup(self) -> None:
        """The planner's stats pass over the input (the scan every
        ``extract_features`` call starts with)."""
        plan_stats(self.frames()[0], CFG)

    def check_rows(self) -> pd.DataFrame:
        """``extract_features`` on the checked docs, with the whole table's
        plan stats so the subset takes the timed (chunk-split) plan; only
        the picked windows are returned."""
        seq, ann = self.frames()
        keys = [f"{d}:{i}" for d, ids in self.picks.items() for i in ids]
        return (
            extract_features(seq.filter(F.col("doc_id").isin(list(self.picks))), ann, CFG,
                             stats=plan_stats(seq, CFG))
            .filter(F.concat_ws(":", "doc_id", "window_id").isin(keys))
            .toPandas()
        )

    def frames(self):
        return self.spark.read.parquet(self.path("sequences")), self.spark.read.parquet(self.path("annotations"))

    def op(self) -> float:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("op"):
            seq, ann = self.frames()
            obs = Observation("flagship")
            with tr.span("plan.extract_features"):
                feats = extract_features(seq, ann)
            feats = feats.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("label") == 1).cast("long")).alias("l1"),
                F.sum((F.col("label") == 2).cast("long")).alias("l2"),
            )
            with tr.span("sink.noop"):
                noop(feats)
        dt = time.perf_counter() - t0
        self.observed.append(dict(obs.get))
        return dt

    def expected(self) -> dict:
        seq = read_pandas(self.path("sequences"))
        ann = read_pandas(self.path("annotations"))
        seiz = ann[is_seizure_event_mask(ann["event_type"])]
        doc_ms = total_ms(seq)
        nw = n_windows(doc_ms)
        hist = np.zeros(3, dtype=np.int64)
        spw, step = CFG.window_samples(), CFG.step_samples()
        for doc, ms, k in zip(seq["doc_id"], doc_ms, nw):
            ev = seiz[seiz["doc_id"] == doc]
            if not len(ev):
                hist[0] += k
                continue
            centers = np.arange(k, dtype=np.int64) * step + spw // 2
            labels = oracle_labels(int(ms) * CFG.sampling_rate // 1000, sort_events(ev), CFG)
            hist += np.bincount(labels[centers], minlength=3)[:3]
        return {"n": int(nw.sum()), "l1": int(hist[1]), "l2": int(hist[2]), "seq": seq, "seiz": seiz}

    def check(self) -> None:
        exp = self.expected()
        for i, o in enumerate(self.observed):
            got = (int(o["n"]), int(o["l1"] or 0), int(o["l2"] or 0))
            if got != (exp["n"], exp["l1"], exp["l2"]):
                self.fail(f"op {i}: windows/label histogram {got} != {(exp['n'], exp['l1'], exp['l2'])}", i)
        seq_pd, seiz = exp["seq"], exp["seiz"]
        tokens = dict(zip(seq_pd["doc_id"], seq_pd["tokens"]))
        want = pd.concat(
            [
                oracle_windows(d, tokens[d], sort_events(seiz[seiz["doc_id"] == d]), ids)
                for d, ids in self.picks.items()
            ],
            ignore_index=True,
        )
        bad = compare_features(self.check_rows(), want, ["n_beats", "label"], list(ALL_FEATURES))
        if bad:
            self.fail(f"oracle mismatch on windows {self.picks}: {bad}")

    def probe_layers(self) -> dict:
        tr = self.ctx.tracer
        seq, ann = self.frames()
        out = {}
        out["sources.scan_s"] = timed_noop(tr, "sources.scan", seq)
        with tr.span("plan.stats") as s:
            stats = plan_stats(seq, CFG)
            fused = choose_fused(stats, CFG)
        out["plan.stats_s"] = s["end"] - s["start"]
        out["plan.fused"] = int(fused)
        out["plan.n_splits"] = stats["n_splits"]
        obs = Observation("chunks")
        chunk_s = timed_noop(
            tr, "skew.chunk",
            explode_chunks(seq, replace(CFG, repartition_chunks=False)).observe(obs, F.count(F.lit(1)).alias("n")),
        )
        shuffled_s = timed_noop(tr, "skew.chunk_shuffle", explode_chunks(seq, CFG))
        out["skew.chunk_s"] = chunk_s
        out["skew.shuffle_s"] = shuffled_s - chunk_s
        out["skew.chunk_rows"] = int(obs.get["n"])
        with tr.span("skew.partitions"):
            per_part = [
                r["w"]
                for r in explode_chunks(seq, CFG)
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(F.sum("n_win").alias("w"))
                .collect()
            ]
        out["skew.part_max_over_median"] = max(per_part) / median(per_part)
        unlabeled_s = timed_noop(tr, "kernel.prefix", extract_features(seq, None, CFG, stats=stats))
        labeled_s = timed_noop(tr, "labeling.prefix", extract_features(seq, ann, CFG, stats=stats))
        out["kernel.stage_s"] = unlabeled_s - shuffled_s
        out["labeling.join_s"] = labeled_s - unlabeled_s
        out["labeling.intervals_s"] = timed_noop(
            tr, "labeling.intervals", build_label_intervals(ann, doc_dimensions(seq, CFG), CFG)
        )
        out.update(self.kernel_core())
        return out

    def kernel_core(self) -> dict:
        """Single-core, in-process ``WindowKernel.windows_from_bounds`` on
        fixed generated bounds: the kernel's own speed, free of Spark."""
        tr = self.ctx.tracer
        rng = np.random.default_rng([self.ctx.seed, 9])
        tok = np.rint(np.clip(0.8 + 0.1 * rng.standard_normal(20_000), 0.4, 1.5) * 1000).astype(np.int64)
        t_scaled = np.cumsum(tok) * CFG.sampling_rate
        n_win = int(n_windows(np.array([tok.sum()]))[0])
        ids = np.arange(n_win, dtype=np.int64)
        step, spw = CFG.step_samples(), CFG.window_samples()
        lo = np.searchsorted(t_scaled, ids * step * 1000, side="left")
        hi = np.searchsorted(t_scaled, (ids * step + spw) * 1000, side="right")
        rr = tok.astype(np.float64) / 1000.0
        kernel = WindowKernel(CFG)
        kernel.windows_from_bounds(rr, lo, hi)  # fill per-beat-count design caches

        def median_s(name: str, parts=None) -> float:
            times = []
            for _ in range(3):
                with tr.span(name) as s:
                    kernel.windows_from_bounds(rr, lo, hi, parts=parts)
                times.append(s["end"] - s["start"])
            return median(times)

        out = {"kernel.win_per_s_core": n_win / median_s("kernel.core")}
        for part in ("time", "freq", "poincare", "entropy", "tri"):
            out[f"kernel.{part}_s"] = median_s(f"kernel.{part}", frozenset({part}))
        return out

    def after_session(self, layer: dict) -> None:
        """scale.eff_1_to_n: the same operation at local[1] (normalized,
        as the local[nproc] figure is)."""
        tr = self.ctx.tracer
        with tr.span("scale.local1"):
            self.ctx.start_session(master="local[1]", event_log=False)
            # the small check job warms the session's Python workers; a
            # full priming operation would take ~20 s on one core
            self.check_rows()
            before = host_ref_s()
            dt = self.op()
            tps1 = self.items / normalized(dt, median([before, host_ref_s()]))
        layer["scale.eff_1_to_n"] = self.ctx.items_per_s / (self.ctx.nproc * tps1)


# ---------------------------------------------------------------------------
# point_ops
# ---------------------------------------------------------------------------

#: ``sessionize_events``' session gap (1800 s), in the table's microseconds
SESSION_GAP_US = 1800 * 1_000_000


class PointOps(Workload):
    """The engine's per-user event queries as one chain: clicks get the
    latest error at or before them (``asof_backward_join``) and the next
    error after them (``asof_forward_tte``), clicks before a user's first
    error take that error's value (``backfill``), and all events are cut
    into sessions at 1800 s gaps (``sessionize_events``)."""

    name = "point_ops"
    items_fact = "events"
    # the chain runs up to 2x slower at first and settles after about ten
    # operations in the JVM, the first two with observed metrics included
    n_prime = 9

    def __init__(self, ctx):
        super().__init__(ctx)
        # rows checked exactly: every 37th entity (every operator is per
        # entity, so a subset's result is exact)
        ent = pq.read_table(self.path("events"), columns=["entity"]).column(0).to_numpy()
        self.subset = [int(e) for e in np.unique(ent)[::37]]

    def frames(self):
        ev = self.spark.read.parquet(self.path("events"))
        clicks = ev.filter(F.col("event_type") == "click").select("event_id", "entity", "ts", "value")
        errors = ev.filter(F.col("event_type") == "error").select("entity", "ts", F.col("value").alias("err_value"))
        return ev, clicks, errors

    def chain(self, ev, clicks, errors):
        out = asof_join(clicks, errors, on="ts", by="entity", value_cols=["err_value", "ts"], direction="backward")
        out = asof_join(out, errors, on="ts", by="entity", value_cols=["ts"], direction="forward", suffix="_next")
        out = out.withColumn("since_error_us", F.col("ts") - F.col("ts_right"))
        out = out.withColumn("tte_us", F.col("ts_next") - F.col("ts"))
        out = backfill(out, "err_value", "ts", "entity", "err_value_filled", direction="forward")
        return out, session_bounds(ev, "ts", "entity", SESSION_GAP_US)

    def warmup(self) -> None:
        """A scan of the event table."""
        noop(self.frames()[0])

    def op(self) -> float:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("op"):
            o1, o2 = Observation("clicks"), Observation("sessions")
            with tr.span("plan.chain"):
                enriched, bounds = self.chain(*self.frames())
            enriched = enriched.observe(
                o1,
                F.count(F.lit(1)).alias("n"),
                F.count("err_value").alias("n_err"),
                F.sum("since_error_us").alias("sum_since"),
                F.count("ts_next").alias("n_next"),
                F.sum("tte_us").alias("sum_tte"),
                F.count("err_value_filled").alias("n_filled"),
            )
            bounds = bounds.observe(
                o2,
                F.count(F.lit(1)).alias("n"),
                F.sum("n_rows").alias("rows"),
                F.sum("duration").alias("sum_duration"),
            )
            with tr.span("sink.noop"):
                noop(enriched)
                noop(bounds)
        dt = time.perf_counter() - t0
        self.observed.append((dict(o1.get), dict(o2.get)))
        return dt

    def twin(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        """pandas twin of the chain (merge_asof + groupby bfill/cumsum):
        (enriched clicks, all events with their session ids)."""
        ev = read_pandas(self.path("events"))
        clicks = ev.loc[ev["event_type"] == "click", ["event_id", "entity", "ts", "value"]]
        errors = ev.loc[ev["event_type"] == "error", ["entity", "ts", "value"]].rename(columns={"value": "err_value"})
        errors = errors.assign(ts_right=errors["ts"], ts_next=errors["ts"]).sort_values("ts")
        out = pd.merge_asof(clicks.sort_values("ts"), errors.drop(columns="ts_next"), on="ts", by="entity",
                            direction="backward")
        out = pd.merge_asof(out, errors[["entity", "ts", "ts_next"]], on="ts", by="entity", direction="forward")
        out["since_error_us"] = out["ts"] - out["ts_right"]
        out["tte_us"] = out["ts_next"] - out["ts"]
        out = out.sort_values(["entity", "ts"], kind="mergesort").reset_index(drop=True)
        out["err_value_filled"] = out.groupby("entity", sort=False)["err_value"].bfill()
        ev = ev.sort_values(["entity", "ts"], kind="mergesort").reset_index(drop=True)
        brk = ev.groupby("entity", sort=False)["ts"].diff() > SESSION_GAP_US
        ev["session_id"] = brk.astype(np.int64).groupby(ev["entity"]).cumsum()
        return out, ev

    def check(self) -> None:
        want, ev = self.twin()

        def isum(col: pd.Series) -> int:
            return int(col.dropna().astype(np.int64).sum())

        exp_clicks = {
            "n": len(want),
            "n_err": int(want["err_value"].notna().sum()),
            "sum_since": isum(want["since_error_us"]),
            "n_next": int(want["ts_next"].notna().sum()),
            "sum_tte": isum(want["tte_us"]),
            "n_filled": int(want["err_value_filled"].notna().sum()),
        }
        sess = ev.groupby(["entity", "session_id"])["ts"].agg(["min", "max", "size"])
        exp_sessions = {"n": len(sess), "rows": len(ev), "sum_duration": int((sess["max"] - sess["min"]).sum())}
        for i, (o1, o2) in enumerate(self.observed):
            got = ({k: int(v or 0) for k, v in o1.items()}, {k: int(v or 0) for k, v in o2.items()})
            if got != (exp_clicks, exp_sessions):
                self.fail(f"op {i}: aggregates {got} != {(exp_clicks, exp_sessions)}", i)
        ev_s, clicks_s, errors_s = (d.filter(F.col("entity").isin(self.subset)) for d in self.frames())
        got = self.chain(ev_s, clicks_s, errors_s)[0].toPandas()
        got = got.sort_values(["entity", "ts"], kind="mergesort").reset_index(drop=True)
        sub = want[want["entity"].isin(self.subset)].reset_index(drop=True)
        if len(got) != len(sub):
            self.fail(f"subset rows {len(got)} != {len(sub)}")
            return
        for c in ("event_id", "entity", "ts", "ts_right", "ts_next", "since_error_us", "tte_us"):
            if not np.array_equal(got[c].fillna(-1).to_numpy(np.int64), sub[c].fillna(-1).to_numpy(np.int64)):
                self.fail(f"row mismatch in column {c}")
        for c in ("value", "err_value", "err_value_filled"):
            if not np.array_equal(got[c].to_numpy(np.float64), sub[c].to_numpy(np.float64), equal_nan=True):
                self.fail(f"row mismatch in column {c}")

    def probe_layers(self) -> dict:
        tr = self.ctx.tracer
        ev, clicks, errors = self.frames()
        out = {
            "asof.backward_s": timed_noop(
                tr, "asof.backward",
                asof_join(clicks, errors, on="ts", by="entity", value_cols=["err_value", "ts"]),
            ),
            "asof.forward_s": timed_noop(
                tr, "asof.forward",
                asof_join(clicks, errors, on="ts", by="entity", value_cols=["ts"], direction="forward"),
            ),
            "windows.sessionize_s": timed_noop(
                tr, "windows.sessionize", sessionize(ev, "ts", "entity", SESSION_GAP_US)
            ),
            # every event takes the value of its user's next error: the
            # chain's backfill window over the whole table
            "windows.backfill_s": timed_noop(
                tr, "windows.backfill",
                backfill(ev.withColumn("err_value", F.when(F.col("event_type") == "error", F.col("value"))),
                         "err_value", "ts", "entity", "err_value_filled", direction="forward"),
            ),
        }
        # side probes of the layers no end-to-end workload covers, with one
        # shuffle partition per core: the state store's partition count is
        # fixed at a query's first start, and the engine's default of 32
        # costs each small bucket job ~2.5 s of Python task overhead
        conf = self.spark.conf
        default_partitions = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self.ctx.nproc))
        try:
            with tr.span("side.stream"):
                out.update(stream_layers(self))
            with tr.span("side.resume"):
                out.update(resume_layers(self))
        finally:
            conf.set("spark.sql.shuffle.partitions", default_partitions)
        return out


# ---------------------------------------------------------------------------
# streaming and checkpoint layers: side probes of point_ops' traced run
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ]
)
#: leading triggers of a replay left out of the trigger statistics
WARM_TRIGGERS = 2
STREAM_TIMEOUT_S = 120
N_BUCKETS = 8


def replay(wl: Workload, chunks_dir: str) -> tuple[list[dict], pd.DataFrame]:
    """availableNow replay of ``streaming_hrv_features``, one parquet file
    per trigger, into a memory sink. Returns (progress reports of the
    triggers that read input, drained output)."""
    spark = wl.spark
    name = f"perfbench_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(wl.ctx.work_dir, "stream_ckpt", name)
    src = spark.readStream.schema(CHUNK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(chunks_dir)
    q = (
        streaming_hrv_features(src, CFG)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(f"replay did not drain within {STREAM_TIMEOUT_S} s")
    finally:
        q.stop()
    prog = [json.loads(p.json) for p in q.recentProgress]
    out = spark.table(name).toPandas()
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return [p for p in prog if p.get("numInputRows", 0) > 0], out


def stream_layers(wl: Workload) -> dict:
    """Replays the chunk files (10% of chunks one file late) and checks
    the drained output equals batch ``extract_features`` on the same
    docs. Trigger durations and state size come from the query's
    progress reports."""
    tr = wl.ctx.tracer
    replay(wl, wl.path("stream", "warm_chunks"))
    with tr.span("stream.replay") as s:
        prog, got = replay(wl, wl.path("stream", "chunks"))
    want = extract_features(wl.spark.read.parquet(wl.path("stream", "sequences")), None, CFG).toPandas()
    bad = compare_features(got, want, ["n_beats"], list(ALL_FEATURES))
    if bad:
        wl.fail(f"drained stream != batch extract_features: {bad}")
    steady = prog[WARM_TRIGGERS:]
    trig = [p["durationMs"]["triggerExecution"] for p in steady]
    state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}
    return {
        "stream.tok_per_s": wl.ctx.facts["stream"]["tokens"] / (s["end"] - s["start"]),
        "stream.trigger_p50_ms": median(trig),
        "stream.trigger_p90_ms": p90(trig),
        "stream.add_batch_ms": median([p["durationMs"].get("addBatch", 0) for p in steady]),
        "stream.latest_offset_ms": median([p["durationMs"].get("latestOffset", 0) for p in steady]),
        "stream.commit_ms": median([p["durationMs"].get("commitOffsets", 0) for p in steady]),
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_bytes": state.get("memoryUsedBytes", 0),
    }


def append_file(wl: Workload) -> str:
    """Pool docs that all hash into one bucket (the engine's bucket
    function), written as the file resume pass (c) appends."""
    pool = read_pandas(wl.path("stream", "pool"))
    b = {
        r["doc_id"]: r["b"]
        for r in wl.spark.createDataFrame(pool[["doc_id"]])
        .select("doc_id", bucket_of(F.col("doc_id"), N_BUCKETS).alias("b"))
        .collect()
    }
    pool["b"] = pool["doc_id"].map(b)
    target = pool["b"].value_counts().sort_index().idxmax()
    pick = pool[pool["b"] == target].head(wl.ctx.size.resume_append_docs).drop(columns="b")
    path = os.path.join(wl.ctx.work_dir, "resume_append.parquet")
    pq.write_table(pa.Table.from_pandas(pick, schema=SEQ_SCHEMA, preserve_index=False), path)
    return path


def resume_layers(wl: Workload) -> dict:
    """``run_resumable(n_buckets=8)`` to parquet over the stream corpus
    in three passes: (a) a fresh run into an empty dir, (b) a rerun with
    nothing changed, (c) docs appended that hash into one bucket, then a
    rerun. Buckets recomputed must be exactly 8 / 0 / 1 and the
    manifests' row counts must sum to the final input's window count."""
    tr = wl.ctx.tracer
    spark = wl.spark
    in_dir = os.path.join(wl.ctx.work_dir, "resume_in")
    out = os.path.join(wl.ctx.work_dir, "resume_out")
    shutil.copytree(wl.path("stream", "sequences"), in_dir)
    extra = append_file(wl)
    ann = spark.read.parquet(wl.path("stream", "annotations"))
    seq = spark.read.parquet(in_dir)
    with tr.span("plan.stats") as s:
        stats = plan_stats(seq, CFG)
        fused = choose_fused(stats, CFG)
    with tr.span("ckpt.fingerprint") as fp:
        input_fingerprints(seq, ann, N_BUCKETS)
    passes = {}
    for tag in ("fresh", "rerun", "incremental"):
        if tag == "incremental":
            shutil.copy(extra, os.path.join(in_dir, "part-append.parquet"))
        with tr.span(f"ckpt.{tag}") as sp:
            res = run_resumable(spark, spark.read.parquet(in_dir), ann, out, CFG, N_BUCKETS)
        passes[tag] = {
            "s": sp["end"] - sp["start"],
            "recomputed": sum(r.status == "ok" for r in res),
            "bucket_s": [r.elapsed_s for r in res if r.status == "ok"],
        }
        if tag == "fresh":
            written = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs)
    manifest_rows = sum(int(m["row_count"]) for m in read_manifest(out).values())
    final = read_pandas(in_dir)
    want_rows = int(n_windows(total_ms(final)).sum())
    got = tuple(passes[t]["recomputed"] for t in ("fresh", "rerun", "incremental"))
    if got != (N_BUCKETS, 0, 1):
        wl.fail(f"resume: buckets recomputed {got} != ({N_BUCKETS}, 0, 1)")
    if manifest_rows != want_rows:
        wl.fail(f"resume: manifest rows {manifest_rows} != {want_rows} windows")
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return {
        "plan.stats_s": s["end"] - s["start"],
        "plan.fused": int(fused),
        "plan.n_splits": stats["n_splits"],
        "ckpt.fingerprint_s": fp["end"] - fp["start"],
        "ckpt.fresh_tok_per_s": wl.ctx.facts["stream"]["tokens"] / passes["fresh"]["s"],
        "ckpt.rerun_s": passes["rerun"]["s"],
        "ckpt.incremental_s": passes["incremental"]["s"],
        "ckpt.bucket_s_p50": median(passes["fresh"]["bucket_s"]),
        "ckpt.recomputed_fresh": got[0],
        "ckpt.recomputed_rerun": got[1],
        "ckpt.recomputed_incremental": got[2],
        "ckpt.bytes_written": written,
    }


WORKLOADS = {w.name: w for w in (FlagshipBatch, PointOps)}
