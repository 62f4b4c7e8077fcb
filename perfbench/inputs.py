"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, size, seed): NumPy
``default_rng`` streams only, no wall clock, no row-order dependence.
Inputs are written once as multi-file parquet under the benchmark's work
directory and reused by later runs with the same key; the engine only
ever reads those files.

Document corpora follow ``datagen.make_sequences`` (RR = 0.8 s +/- 0.1 s
gaussian clipped to [0.4, 1.5] s, integer-millisecond tokens; 10% long
docs of 20k-80k tokens, the rest 400-4000). Doc lengths are drawn
stratified rather than i.i.d., so the total token count barely moves
between seeds and a seed change does not masquerade as a throughput
change.

The point-in-time event table copies the shape of the engine's test-data
``events`` table (TESTDATA.md), the table its per-user
``sessionize_events``, ``asof_backward_join`` and ``asof_forward_tte``
driver queries run these operators on. The figures below were measured
on its sf0.01 (10k rows) and sf0.1 (100k rows) builds, which agree.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)
#: the events table's shape: 150 users per 10k events (per-user counts
#: 45-99 around a mean of 66.7, i.e. users drawn uniformly), timestamps
#: uniform over 30 days at microsecond resolution and unique per user,
#: five event types at 20% each, ``value`` never null and exponential with
#: mean ~50 (sd ~50, max ~500-560) at cent resolution
EVENTS_PER_USER = 10_000 / 150
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EVENT_VALUE_MEAN = 50.0

#: tokens per stream chunk, and the share of chunks delivered one file late
CHUNK_TOKENS = 200
LATE_SHARE = 0.1

CHUNK_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("chunk_idx", pa.int64()),
        pa.field("tokens", pa.list_(pa.int32())),
    ]
)


@dataclass(frozen=True)
class Size:
    """Input sizes for one benchmark size. ``docs_per_core`` keeps the
    flagship corpus above the engine's fused-plan crossover (500k tokens
    per core) on any core count."""

    flagship_docs_per_core: int
    flagship_long_frac: float
    point_events: int
    stream_docs: int
    stream_files: int
    resume_append_docs: int


SIZES = {
    "full": Size(
        flagship_docs_per_core=80,
        flagship_long_frac=0.1,
        point_events=300_000,
        stream_docs=40,
        stream_files=12,
        resume_append_docs=4,
    ),
    "smoke": Size(
        flagship_docs_per_core=6,
        flagship_long_frac=0.2,
        point_events=4_000,
        stream_docs=6,
        stream_files=4,
        resume_append_docs=2,
    ),
}


def make_docs(
    rng: np.random.Generator,
    n_docs: int,
    long_frac: float,
    short_range: tuple[int, int],
    long_range: tuple[int, int],
    id_prefix: str = "",
) -> pd.DataFrame:
    """(doc_id, tokens, n_tok, source) with exactly round(n_docs *
    long_frac) long docs at random positions."""
    n_long = int(round(n_docs * long_frac))
    is_long = np.zeros(n_docs, dtype=bool)
    is_long[rng.permutation(n_docs)[:n_long]] = True

    def stratified(lo: int, hi: int, n: int) -> np.ndarray:
        q = (np.arange(n) + rng.random(n)) / max(n, 1)
        return rng.permutation(lo + np.floor(q * (hi - lo + 1)).astype(np.int64))

    lengths = np.empty(n_docs, dtype=np.int64)
    lengths[is_long] = stratified(*long_range, n_long)
    lengths[~is_long] = stratified(*short_range, n_docs - n_long)
    rows = []
    for i, n_tok in enumerate(lengths):
        rr = np.clip(0.8 + 0.1 * rng.standard_normal(int(n_tok)), 0.4, 1.5)
        rows.append(
            {
                "doc_id": f"{id_prefix}sub-{i // 4 + 1:03d}_ses-01_run-{i % 4 + 1:02d}",
                "tokens": np.rint(rr * 1000.0).astype(np.int32),
                "n_tok": int(n_tok),
                "source": "perfbench",
            }
        )
    return pd.DataFrame(rows)


def n_windows(total_ms) -> np.ndarray:
    """Window count per doc from total token milliseconds (the engine's
    integer grid: n_samples = ms*fs//1000, windows of spw every step)."""
    from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG as cfg

    n_samp = np.asarray(total_ms, dtype=np.int64) * cfg.sampling_rate // 1000
    return np.maximum(0, (n_samp - cfg.window_samples()) // cfg.step_samples() + 1)


def total_ms(seq: pd.DataFrame) -> np.ndarray:
    return seq["tokens"].map(lambda t: int(np.asarray(t, dtype=np.int64).sum())).to_numpy()


def write_multi(df: pd.DataFrame, path: str, n_files: int, schema: pa.Schema | None = None) -> None:
    """Round-robin rows into ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = df.iloc[i::n_files]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _annotations(seq: pd.DataFrame, seed: int) -> pd.DataFrame:
    from seizury_hrv_featuresextraction_spark.datagen import make_annotations

    return make_annotations(seq, seed=seed)


def gen_flagship(root: str, size: Size, seed: int, nproc: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    seq = make_docs(rng, size.flagship_docs_per_core * nproc, size.flagship_long_frac,
                    (400, 4000), (20000, 80000))
    write_multi(seq, os.path.join(root, "sequences"), 2 * nproc, SEQ_SCHEMA)
    write_multi(_annotations(seq, seed), os.path.join(root, "annotations"), 1)
    return {
        "docs": len(seq),
        "tokens": int(seq["n_tok"].sum()),
        "windows": int(n_windows(total_ms(seq)).sum()),
        "files": 2 * nproc,
    }


def gen_point(root: str, size: Size, seed: int) -> dict:
    """Event table (event_id, entity, ts, event_type, value) in the shape
    of the engine's ``events`` table; ``ts`` is microseconds from the
    span's start. Timestamps are unique over the whole table, so every
    as-of match and every window order is unambiguous."""
    rng = np.random.default_rng([seed, 2])
    n = size.point_events
    n_ent = max(1, int(round(n / EVENTS_PER_USER)))
    # uniform draws, sorted, ties pushed up by 1 us: strictly increasing
    i = np.arange(n, dtype=np.int64)
    ts = np.maximum.accumulate(np.sort(rng.integers(0, EVENT_SPAN_US, n)) - i) + i
    events = pd.DataFrame(
        {
            "event_id": i,
            "entity": rng.integers(0, n_ent, n).astype(np.int64),
            "ts": ts,
            "event_type": rng.choice(np.array(EVENT_TYPES), size=n),
            "value": np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2),
        }
    )
    write_multi(events, os.path.join(root, "events"), 8)
    counts = events["event_type"].value_counts()
    return {
        "events": n,
        "entities": n_ent,
        "clicks": int(counts.get("click", 0)),
        "errors": int(counts.get("error", 0)),
        "files": 8,
    }


def stream_files(seq: pd.DataFrame, n_files: int, rng: np.random.Generator) -> list[pd.DataFrame]:
    """Cut each doc into fixed-size token chunks and lay chunk c of a doc
    with C chunks into file floor(c * n_files / C) (every doc streams in
    parallel). A fixed share of chunks, outside the last file, is then
    delayed by one file, so they arrive after their successors."""
    rows = []
    for doc, tok in zip(seq["doc_id"], seq["tokens"]):
        n_chunks = -(-len(tok) // CHUNK_TOKENS)
        for c in range(n_chunks):
            rows.append((doc, c, tok[c * CHUNK_TOKENS:(c + 1) * CHUNK_TOKENS], c * n_files // n_chunks))
    df = pd.DataFrame(rows, columns=["doc_id", "chunk_idx", "tokens", "file"])
    late = (rng.random(len(df)) < LATE_SHARE) & (df["file"] < n_files - 1)
    df.loc[late, "file"] += 1
    return [df[df["file"] == f].drop(columns="file") for f in range(n_files)]


def gen_stream(root: str, size: Size, seed: int) -> dict:
    """Inputs of the streaming and resumable-write side probes: chunk
    files for the replay, the same docs as a batch table (the replay's
    reference and the resumable-write corpus), their annotations, and a
    pool of extra docs the resume pass (c) appends from (bucket hashing
    is the engine's, so that pick is made at run time with Spark)."""
    rng = np.random.default_rng([seed, 3])
    seq = make_docs(rng, size.stream_docs, 0.1, (400, 4000), (8000, 12000))
    files = stream_files(seq, size.stream_files, rng)
    warm = make_docs(rng, 4, 0.0, (400, 800), (0, 0), id_prefix="warm-")
    warm_files = stream_files(warm, 2, rng)
    pool = make_docs(rng, 16 * size.resume_append_docs, 0.0, (400, 4000), (0, 0), id_prefix="new-")
    for name, parts in (("chunks", files), ("warm_chunks", warm_files)):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        for i, part in enumerate(parts):
            table = pa.Table.from_pandas(part, schema=CHUNK_SCHEMA, preserve_index=False)
            pq.write_table(table, os.path.join(d, f"part-{i:05d}.parquet"))
    write_multi(seq, os.path.join(root, "sequences"), 4, SEQ_SCHEMA)
    write_multi(_annotations(seq, seed), os.path.join(root, "annotations"), 1)
    write_multi(pool, os.path.join(root, "pool"), 1, SEQ_SCHEMA)
    return {
        "docs": len(seq),
        "tokens": int(seq["n_tok"].sum()),
        "windows": int(n_windows(total_ms(seq)).sum()),
        "chunks": int(sum(len(p) for p in files)),
        "late_chunks_share": LATE_SHARE,
        "files": size.stream_files,
    }


def generate(workload: str, size_name: str, seed: int, nproc: int, work_dir: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs; returns (input dir, input facts).

    The cache key covers everything the inputs depend on, and a dir is
    only reused when its ``facts.json`` (written last) exists."""
    size = SIZES[size_name]
    key = json.dumps([workload, size_name, seed, nproc, asdict(size), _code_digest()])
    root = os.path.join(work_dir, "inputs", hashlib.sha1(key.encode()).hexdigest()[:16])
    facts_path = os.path.join(root, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    if workload == "flagship_batch":
        facts = gen_flagship(root, size, seed, nproc)
    elif workload == "point_ops":
        facts = gen_point(root, size, seed)
        facts["stream"] = gen_stream(os.path.join(root, "stream"), size, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(facts_path, "w") as f:
        json.dump(facts, f)
    return root, facts


def _code_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:12]


def tree_digest(root: str) -> str:
    """sha1 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
